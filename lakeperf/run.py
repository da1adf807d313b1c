"""Lake benchmark: one workload, one seed, one JSON result line.

    python3 lakeperf/run.py --workload po_nightly --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` runs the same schedule, half of it
traced, and prints the per-layer metrics and the tracing overhead. The
last line of standard output is the result; the line before it carries
the host probe and run context. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "cbts_datalake_synnex_spark"

# Fresh set-ups per run; setup_s is their median (the first, on a cold
# JVM, is the slowest and so never the median).
SETUPS = 3
# Spark task slots: one core stays free for the driver, JIT and GC.
CPUS = max(1, min(3, (os.cpu_count() or 4) - 1))

WORKLOADS = ("po_nightly", "lake_sql_mix", "corpus_curation")


def _configure_env(work: str) -> None:
    """Process environment for the Spark session the program builds.
    Workers import the fake API and generators by module name, so the
    benchmark directory and the checkout root go on PYTHONPATH."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # A 2 GB driver heap (the program defaults to 8 GB), committed and
    # touched at launch: the JVM's share of peak_rss_mb is then fixed, so
    # that metric repeats and moves with what the program holds outside
    # the heap (Python workers, native memory). Heap use is reported as
    # session.heap_retained_mb.
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # Temporary files stay in the run's directory: Python's (the gateway
    # handshake, the workers) through TMPDIR; every JVM's, the launcher's
    # included, through java.io.tmpdir, with no perf-data file.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={shlex.quote(tmp)}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--driver-java-options '-Xms2g -XX:+AlwaysPreTouch' pyspark-shell"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"])
    paths = [ROOT, BENCH_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for p in (BENCH_DIR, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def _workload(name: str, work: str, seed: int, tracer):
    """The workload object. Each provides ``generate`` (inputs, untimed),
    ``setup(spark)``, ``run_op() -> (items, errors)``, ``teardown``,
    ``reset_counters``, the end-to-end figures ``stored_bytes_per_live_byte``
    and ``near_dup_recall``, ``layer_metrics`` for traced runs, and the
    schedule: ``warm_ops``, ``cycle_ops`` (operations per whole cycle),
    ``min_cycles`` and ``pin_layer``."""
    if name == "po_nightly":
        from po_nightly import PoNightly as cls
    elif name == "lake_sql_mix":
        from sql_mix import SqlMix as cls
    else:
        from corpus import CorpusCuration as cls
    return cls(work, seed, tracer)


def _run_ops(wl, tracer, n_ops: int, log: dict) -> None:
    """Run ``n_ops`` operations, recording every one's latency (checks
    excluded) and items, leaked pins and failures into ``log``."""
    from cbts_datalake_synnex_spark.operators._util import sweep_pinned_rdds
    from harness import KNOWN_DEFECT, count_persistent_rdds

    for _ in range(n_ops):
        op_id = log["next_id"]
        log["next_id"] += 1
        tracer.check_s = 0.0
        t0 = time.perf_counter()
        try:
            with tracer.operation(op_id):
                items, errors = wl.run_op()
        except Exception as exc:  # noqa: BLE001 — a raising op is counted, the run goes on
            items, errors = 0, [f"op {op_id} raised {type(exc).__name__}: {exc}".splitlines()[0][:300]]
            traceback.print_exc(file=sys.stderr)
        latency = time.perf_counter() - t0 - tracer.check_s
        log["attempted"] += 1
        log["latency"].append(latency)
        log["items"] += items
        if errors:
            log["failed"] += 1
            log["errors"].extend(errors)
            log["unknown"] += any(not e.startswith(KNOWN_DEFECT) for e in errors)
        log["pins"].append(count_persistent_rdds(wl.spark))
        sweep_pinned_rdds(wl.spark)


def _measure(wl, tracer, seconds: float, min_cycles: int, log: dict) -> None:
    """Whole cycles, at least ``min_cycles`` of them, until ``seconds``
    of wall time have passed. The minimum keeps the sample count from
    flipping when a cycle lasts about ``seconds``."""
    start = time.perf_counter()
    done = 0
    while done < min_cycles or time.perf_counter() - start < seconds:
        _run_ops(wl, tracer, wl.cycle_ops, log)
        done += 1


def _new_log() -> dict:
    return {"attempted": 0, "failed": 0, "unknown": 0, "items": 0, "latency": [], "pins": [], "errors": [], "next_id": 0}


def spec_metrics(key: str) -> list[dict]:
    """The ``end_to_end`` or ``per_layer`` list of BENCHMARK.json, the one
    place the metric names and units are kept."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[key]


def run(workload: str, seed: int, seconds: int, trace: bool, work: str, live: dict) -> tuple[dict, dict]:
    """One run; ``live["spark"]`` always holds the current session, so
    the caller can stop the JVM whatever happens here."""
    from cbts_datalake_synnex_spark.session import get_spark
    from harness import RssSampler, Tracer, heap_after_gc, host_probe

    phases = {"start": time.perf_counter()}
    spark = live["spark"] = get_spark("lakeperf")
    phases["launch"] = time.perf_counter()
    tracer = Tracer(spark)
    wl = _workload(workload, work, seed, tracer)
    wl.generate()
    phases["inputs"] = time.perf_counter()
    setup_s, start_s = [], []
    for rep in range(SETUPS):
        if rep:
            wl.teardown()
        spark.stop()
        t0 = time.perf_counter()
        spark = live["spark"] = get_spark("lakeperf")
        t1 = time.perf_counter()
        tracer = wl.t = Tracer(spark)
        wl.setup(spark)
        setup_s.append(time.perf_counter() - t0)
        start_s.append(t1 - t0)

    phases["setups"] = time.perf_counter()
    probe = host_probe(spark)
    phases["probe"] = time.perf_counter()
    warm = _new_log()
    _run_ops(wl, tracer, wl.warm_ops, warm)
    wl.reset_counters()
    phases["warm_up"] = time.perf_counter()

    plain = _new_log()
    plain["next_id"] = warm["next_id"]
    with RssSampler(spark) as rss:
        if trace:  # half the schedule untraced, half traced
            _measure(wl, tracer, seconds / 2, max(1, wl.min_cycles // 2), plain)
        else:
            _measure(wl, tracer, seconds, wl.min_cycles, plain)
    heap_mb = heap_after_gc(spark) / 2**20
    traced = None
    if trace:
        wl.reset_counters()
        tracer.enable()
        traced = _new_log()
        traced["next_id"] = plain["next_id"]
        _measure(wl, tracer, seconds / 2, max(1, wl.min_cycles // 2), traced)
        tracer.write(os.path.join(ROOT, ".lakeperf_work", "traces", f"{workload}-seed{seed}.jsonl"))

    phases["measure"] = time.perf_counter()
    logs = [warm, plain] + ([traced] if traced else [])
    attempted = sum(lg["attempted"] for lg in logs)
    failed = sum(lg["failed"] for lg in logs)
    unknown = sum(lg["unknown"] for lg in logs)
    if trace:
        from layers import per_layer

        spec = spec_metrics("per_layer")
        values = per_layer(wl, tracer, statistics.median(start_s), plain, traced, [m["name"] for m in spec])
        values["session.heap_retained_mb"] = heap_mb
    else:
        spec = spec_metrics("end_to_end")
        lat = plain["latency"]
        values = {
            "setup_s": statistics.median(setup_s),
            "items_per_s": plain["items"] / sum(lat),
            "op_p50_s": statistics.median(lat),
            "peak_rss_mb": rss.peak / 2**20,
            "ok_ops_frac": 1 - failed / attempted,
            "stored_bytes_per_live_byte": wl.stored_bytes_per_live_byte(),
            "near_dup_recall": wl.near_dup_recall(),
        }
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}
    context = {
        "workload": workload, "seed": seed, "trace": int(trace), "cpus": CPUS,
        "host_probe": probe, "setup_samples_s": setup_s, "heap_retained_mb": heap_mb,
        "op_samples": len(plain["latency"]) + (len(traced["latency"]) if traced else 0),
        "op_latency_s": [round(x, 4) for x in plain["latency"]],
        "items_unit": wl.unit, "errors": [e for lg in logs for e in lg["errors"]][:20],
    }
    wl.teardown()
    phases["end_of_run"] = time.perf_counter()
    names = list(phases)
    context["phase_s"] = {b: round(phases[b] - phases[a], 3) for a, b in zip(names, names[1:])}
    result = {"correct": unknown == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return context, result


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in (its Python workers
    end with it), and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"lakeperf: the program package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".lakeperf_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _configure_env(work)
    live: dict = {}
    try:
        context, result = run(args.workload, args.seed, args.seconds, bool(args.trace), work, live)
    finally:
        if "spark" in live:
            _stop(live["spark"])
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""po_nightly — the write path of the purchase-order lake.

Each operation is one small night on a PO-status table that starts from
a backfill:

1. ``engine.sql`` point lookup of the night's PO numbers through a
   catalog view;
2. ``sources.api_source.fan_out_fetch`` against the fake status API,
   which fails every ``FAIL_EVERY``-th request once;
3. ``functions.apply_ingest_policy`` on the fetched rows, then
   ``save_to_raw`` and ``save_to_staging`` + ``curate`` with quarantine
   (two malformed lines are planted in staging each night);
4. an ``apply_changes`` CDC batch: the fetched statuses (recent POs
   favoured), ``CHURN`` inserts and ``CHURN`` deletes of the oldest POs,
   so the row count stays constant;
5. ``read_snapshot`` of the version before the merge;
6. ``compact_table(zorder=True)`` and ``vacuum_snapshots``, so every
   night ends with the same live file count and retained bytes.

Compacting every night (rather than every few) keeps every operation
the same shape, so the median of a run's one or two nights means the
same thing in every run; the warm-up night runs every step once.
"""

from __future__ import annotations

import functools
import gzip
import os
import shutil
import statistics
import uuid
from datetime import datetime

from pyspark.sql import functions as F

import fakeapi
from gen import PoModel, api_status
from harness import disk_bytes

# Synthetic volumes, sized for the run budget, not measured ones (see
# README.md, "Input sizes").
BACKFILL = 8_000
LOOKUPS = 80
CHURN = 40
FAIL_EVERY = 7
PLANTED = 2  # malformed staging lines written each night
TABLE = "po_status"
NIGHT = "po_night"
CHANGE_SCHEMA = "po_number string, status string, amount double, region int, op string, seq bigint"


def _digest_cols():
    row = F.concat_ws(
        "|", F.col("po_number"), F.col("status"), F.format_string("%.2f", F.col("amount"))
    )
    return [F.count(F.lit(1)).alias("n"), F.sum(F.crc32(row)).alias("h")]


def _file_bytes(files: list[str]) -> int:
    return sum(os.path.getsize(f.removeprefix("file:")) for f in files)


class PoNightly:
    name = "po_nightly"
    unit = "PO status rows landed"
    cycle_ops = 1
    min_cycles = 1
    warm_ops = 1
    pin_layer = "engine"

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work, self.seed, self.t = work, seed, tracer
        self.rep = -1
        self.per_night: list[dict] = []

    def generate(self) -> None:
        """Inputs are the model's; nothing to write ahead of set-up."""

    # -- set-up: fresh lake, backfill, catalog view ---------------------
    def setup(self, spark) -> None:
        from cbts_datalake_synnex_spark.engine import LakeEngine

        self.rep += 1
        self.spark = spark
        self.lake = os.path.join(self.work, f"lake{self.rep}")
        self.db = f"lakeperf_po_{os.getpid()}_{self.rep}"
        self.model = PoModel(self.seed, BACKFILL, LOOKUPS, CHURN)
        self.night = 0
        self.engine = LakeEngine(
            spark, self.lake, database=self.db,
            clock=lambda: datetime(2024, 3, 15, 2, 0, 0),
        )
        self.engine.apply_changes(
            TABLE, self.model.backfill_frame(spark, BACKFILL), keys=["po_number"], op_col="op",
            sequence_col="seq", partition_cols=["region"],
        )
        self.engine.create_view("po_lookup", f"SELECT po_number, status, amount FROM {TABLE}")
        self.calls = spark.sparkContext.accumulator(0)
        self.waited = spark.sparkContext.accumulator(0.0)

    def teardown(self) -> None:
        self.spark.sql(f"DROP DATABASE IF EXISTS {self.db} CASCADE")

    # -- one night --------------------------------------------------------
    def run_op(self) -> tuple[int, list[str]]:
        """Run one night; returns (rows landed, failed checks)."""
        spark, eng, t = self.spark, self.engine, self.t
        night = self.night
        self.night += 1
        plan = self.model.plan_night(night)
        errors: list[str] = []
        stats: dict = {"user_bytes": sum(len(c[0]) + len(c[1]) + 12 for c in plan["changes"])}

        keys = ", ".join(f"'{po}'" for po in plan["lookup"])
        with t.span("engine.lookup"):
            found = eng.sql(f"SELECT po_number, status FROM po_lookup WHERE po_number IN ({keys})").collect()
        if {r.po_number: r.status for r in found} != plan["found"]:
            errors.append(f"night {night}: lookup rows differ from the model")

        reqs = spark.createDataFrame([(po,) for po in plan["fetch"]], "po_number string")
        calls0, waited0 = self.calls.value, self.waited.value
        with t.span("sources.fetch"):
            from cbts_datalake_synnex_spark.sources.api_source import fan_out_fetch

            fetched = fan_out_fetch(
                reqs,
                functools.partial(fakeapi.status_api, FAIL_EVERY, self.calls),
                user=fakeapi.night_user(night), concurrency=3, backoff_s=0.002,
                sleep=functools.partial(fakeapi.timed_sleep, self.waited),
            ).cache()
            rows = fetched.collect()
        stats["requests"] = self.calls.value - calls0
        stats["backoff_s"] = self.waited.value - waited0
        stats["retries"] = stats["requests"] - len(plan["fetch"])
        stats["failed_items"] = sum(1 for r in rows if r.error)
        want = {po: api_status(po, night)[1] for po in plan["fetch"]}
        if {r.po_number: r.status for r in rows} != want or stats["failed_items"]:
            errors.append(f"night {night}: fetched statuses differ from the API")
        expect_retries = sum(fakeapi.fails_first(po, night, FAIL_EVERY) for po in plan["fetch"])
        if stats["retries"] != expect_retries:
            errors.append(f"night {night}: {stats['retries']} retries, expected {expect_retries}")

        with t.span("functions.ingest_policy"):
            from cbts_datalake_synnex_spark.functions import apply_ingest_policy

            landed = apply_ingest_policy(fetched, stringify=True)
        with t.span("engine.raw_write"):
            eng.save_to_raw(NIGHT, landed)
        with t.span("engine.curate"):
            eng.prepare_staging(NIGHT)
            eng.save_to_staging(NIGHT, landed, incremental=False)
            bad = os.path.join(eng.zones.staging(NIGHT), f"bad-{uuid.uuid4().hex[:8]}", "part-0.json.gz")
            os.makedirs(os.path.dirname(bad))
            with gzip.open(bad, "wt") as f:
                f.write('{"po_number": "PO-broken", "status": \n{{not json}\n')
            curated = eng.curate(NIGHT, mode="overwrite", quarantine=True, partition_cols=[])
        fetched.unpersist()
        with t.check():
            if curated != len(plan["fetch"]):
                errors.append(f"night {night}: curated {curated} rows, expected {len(plan['fetch'])}")
            stats["quarantined"] = self._quarantined()
            if stats["quarantined"] != PLANTED:
                errors.append(f"night {night}: {stats['quarantined']} lines quarantined, {PLANTED} planted")

        with t.check():
            before_files = set(spark.table(eng.qualified(TABLE)).inputFiles())
            version_before = eng.snapshot_history(TABLE)[-1]["version"]
        changes = spark.createDataFrame(plan["changes"], CHANGE_SCHEMA)
        with t.span("engine.merge"):
            counts = eng.apply_changes(TABLE, changes, keys=["po_number"], op_col="op", sequence_col="seq")
        got = (counts.get("updated"), counts.get("inserted"), counts.get("deleted"))
        if got != (plan["n_updated"], plan["n_inserted"], plan["n_deleted"]):
            errors.append(f"night {night}: merge counts {got}")

        with t.span("engine.snapshot_read"):
            snap = eng.read_snapshot(TABLE, version_before).select(*_digest_cols()).collect()[0]
        if (snap.n, snap.h) != plan["before"]:
            errors.append(f"night {night}: time-travel read differs from the model")

        with t.span("engine.compact"):
            eng.compact_table(TABLE, cluster_by=["po_number", "amount"], zorder=True)
        with t.span("engine.vacuum"):
            eng.vacuum_snapshots(TABLE, keep_last=2)

        with t.check():
            live = spark.table(eng.qualified(TABLE))
            now = live.select(*_digest_cols()).collect()[0]
            if (now.n, now.h) != plan["after"]:
                errors.append(f"night {night}: table content differs from the model")
            if t.enabled:
                after_files = set(live.inputFiles())
                added = after_files - before_files
                stats["files_added"] = len(added)
                stats["files_removed"] = len(before_files - after_files)
                stats["live_files"] = len(after_files)
                stats["bytes_written"] = _file_bytes(sorted(added))
        self.per_night.append(stats)
        return len(plan["fetch"]) + plan["n_inserted"] + plan["n_deleted"], errors

    def _quarantined(self) -> int:
        root = self.engine.zones.quarantine(NIGHT)
        n = 0
        for dirpath, _, files in os.walk(root):
            for name in files:
                if name.endswith(".gz"):
                    with gzip.open(os.path.join(dirpath, name), "rt") as f:
                        n += sum(1 for _ in f)
        shutil.rmtree(root, ignore_errors=True)
        return n

    # -- end-of-run figures ---------------------------------------------
    def reset_counters(self) -> None:
        self.per_night = []

    def near_dup_recall(self) -> float:
        """No near-duplicate pairs are injected here: vacuously 1."""
        return 1.0

    def stored_bytes_per_live_byte(self) -> float:
        files = self.spark.table(self.engine.qualified(TABLE)).inputFiles()
        table_dir = os.path.dirname(os.path.dirname(files[0].removeprefix("file:")))
        stored = disk_bytes([table_dir, os.path.join(self.lake, "_snapshot_log")])
        return stored / _file_bytes(files)

    def layer_metrics(self) -> dict[str, float]:
        nights = self.per_night
        s = lambda k: sum(n.get(k, 0) for n in nights)  # noqa: E731
        return {
            "sources.requests": s("requests") / len(nights),
            "sources.retries": s("retries") / len(nights),
            "sources.backoff_wait_s": s("backoff_s") / len(nights),
            "sources.failed_items": s("failed_items"),
            "functions.quarantined_rows": s("quarantined") / len(nights),
            "engine.files_added": s("files_added") / len(nights),
            "engine.files_removed": s("files_removed") / len(nights),
            "engine.live_files": statistics.median(n.get("live_files", 0) for n in nights),
            "engine.bytes_written_per_user_byte": s("bytes_written") / max(1, s("user_bytes")),
        }

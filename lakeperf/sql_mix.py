"""lake_sql_mix — the analyst read path.

Whole seed-shuffled passes over registry queries from
``workload/relational.py`` and the relational/TPC-H entries of
``workload/extended.py`` that plan no Python node, on a seed-generated
TPC-H-shaped star schema whose fact tables are split into several
Parquet files per core. Nothing is written to a table, nothing crosses
into Python and no operator runs.

Checks: each query's first result is compared with its DuckDB
``oracle`` SQL on the same files; every later result must equal the
first. Floats compare to 1e-9 relative, capped at 1e-4 (see ``_same``).
A result whose only differences are values exactly one cent apart in
the columns ``CENT_DEFECT`` lists is the known cent-rounding defect: it
counts as a failed operation and is reported by name, but does not mark
the run incorrect. Any other difference does.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import numpy as np

from gen import star_schema
from harness import KNOWN_DEFECT, disk_bytes

N_ORDERS = 20_000
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

# Chosen once from the registry: entries of relational.py and the TPC-H
# entries of extended.py that read only the star schema's tables and
# plan no Python node. Known defects stay in the list.
QUERIES = (
    # relational.py
    "a2_pricing_summary", "j1_inner_join_topn", "j2_broadcast_dim_join",
    "a3_count_distinct", "u3_unpivot", "j1_regional_revenue",
    "j_q2_min_cost_supplier", "a_q11_important_stock",
    # extended.py, TPC-H shapes
    "j_market_share", "j_product_profit",
)
# The recorded cent-rounding defect: a double sum rounded to cents flips
# by one cent when it sits at a half-cent boundary, depending on the
# summation order. These are the columns of the mix that round a
# non-integer double sum to cents; only they, and only by exactly one
# cent, may differ under that name. Flips have been seen on
# j_product_profit (in most seeds) and j1_inner_join_topn.
CENT_DEFECT = {
    "a2_pricing_summary": {"sum_base_price", "sum_disc_price", "sum_charge"},
    "j1_inner_join_topn": {"revenue"},
    "j2_broadcast_dim_join": {"total_acctbal"},
    "j1_regional_revenue": {"revenue"},
    "a_q11_important_stock": {"part_value"},
    "j_product_profit": {"sum_profit"},
}


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(columns: list[str], rows) -> list[tuple]:
    """Rows with columns ordered by name and values normalised, sorted by
    their exact values first: a float that differs in its last digits
    between two engines must not change which rows are paired."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    out = [tuple(_norm(r[i]) for i in order) for r in rows]

    def key(r):
        exact = tuple(x for x in r if not isinstance(x, float))
        approx = tuple(round(x, 4) for x in r if isinstance(x, float))
        return repr(exact), approx

    return sorted(out, key=key)


def _same(a, b) -> bool:
    """Equal, with floats equal to 1e-9 relative but never more than
    1e-4 apart: that absorbs the last bits a different summation order
    leaves in an unrounded double sum or average, and still catches a
    cent on sums of any size."""
    if isinstance(a, float) and isinstance(b, (int, float)) or isinstance(b, float) and isinstance(a, int):
        return abs(a - b) < 1e-4 and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _one_cent(a, b) -> bool:
    return isinstance(a, float) and isinstance(b, float) and abs(abs(a - b) - 0.01) < 1e-6


def compare(cols_a: list[str], rows_a, cols_b: list[str], rows_b, cent_cols=frozenset()) -> str:
    """"same"; "cent" when every difference is a value of one of
    ``cent_cols`` exactly one cent off (the known defect, see
    ``CENT_DEFECT``); else "different"."""
    if sorted(c.lower() for c in cols_a) != sorted(c.lower() for c in cols_b):
        return "different"
    a, b = _rows(cols_a, rows_a), _rows(cols_b, rows_b)
    if len(a) != len(b):
        return "different"
    names = sorted(c.lower() for c in cols_a)
    verdict = "same"
    for x, y in zip(a, b):
        for name, u, v in zip(names, x, y):
            if _same(u, v):
                continue
            if name not in cent_cols or not _one_cent(u, v):
                return "different"
            verdict = "cent"
    return verdict


class SqlMix:
    name = "lake_sql_mix"
    unit = "queries"
    pin_layer = None  # pins are reported for the engine and operator layers only
    min_cycles = 2

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work, self.seed, self.t = work, seed, tracer
        self.cycle_ops = len(QUERIES)
        self.warm_ops = len(QUERIES)
        self.order: list[str] = []
        self.passes = 0
        self.first: dict[str, tuple] = {}

    def reset_counters(self) -> None:
        """Per-layer figures come from the spans alone."""

    def generate(self) -> None:
        self.data = os.path.join(self.work, "star")
        star_schema(self.data, self.seed, N_ORDERS, fact_files=6)
        import duckdb

        self.duck = duckdb.connect()
        for t in TABLES:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet/*.parquet')"
            )

    def setup(self, spark) -> None:
        """Program-side start: open every table through the registry's
        loader (schema and file listing; the oracle checks cover the
        data)."""
        from cbts_datalake_synnex_spark.workload import REGISTRY
        from cbts_datalake_synnex_spark.workload.base import load_table

        self.spark = spark
        self.registry = REGISTRY
        for t in TABLES:
            load_table(spark, self.data, t)

    def teardown(self) -> None:
        """Nothing is registered in the catalog."""

    def run_op(self) -> tuple[int, list[str]]:
        if not self.order:
            rng = np.random.default_rng([self.seed, 0x51, self.passes])
            self.order = [QUERIES[i] for i in rng.permutation(len(QUERIES))]
            self.passes += 1
        name = self.order.pop()
        q = self.registry[name]
        with self.t.span("workload.query") as span:
            df = q.fn(self.spark, self.data)
            rows = df.collect()
        if span is not None:
            span["output_rows"] = len(rows)
        with self.t.check():
            errors = self._check(name, q.oracle, df.columns, rows)
        return 1, errors

    def _check(self, name: str, oracle: str, columns: list[str], rows) -> list[str]:
        cent_cols = CENT_DEFECT.get(name, frozenset())
        if name not in self.first:
            self.first[name] = (columns, rows)
            ref = self.duck.execute(oracle)
            verdict = compare(columns, rows, [d[0] for d in ref.description], ref.fetchall(), cent_cols)
            what = "first result differs from the DuckDB oracle"
        else:
            verdict = compare(*self.first[name], columns, rows, cent_cols)
            what = "result differs from its first run"
        if verdict == "same":
            return []
        prefix = KNOWN_DEFECT + " (cent rounding)" if verdict == "cent" else "wrong result"
        return [f"{prefix}: {name}: {what}"]

    def near_dup_recall(self) -> float:
        """No near-duplicate pairs are injected here: vacuously 1."""
        return 1.0

    def stored_bytes_per_live_byte(self) -> float:
        """The star schema is read-only: bytes on disk over data bytes."""
        return disk_bytes([self.data]) / disk_bytes([self.data], ".parquet")

    def layer_metrics(self) -> dict[str, float]:
        spans = [s for s in self.t.spans if s["name"] == "workload.query" and "spark" in s]
        if not spans:
            return {}
        fig = lambda k: sum(s["spark"][k] for s in spans)  # noqa: E731
        n = len(spans)
        driver = sorted((s["end"] - s["start"]) - s["spark"]["job_s"] for s in spans)
        return {
            "workload.query_s": sorted(s["end"] - s["start"] for s in spans)[n // 2],
            "workload.driver_s": driver[n // 2],
            "workload.jobs_per_query": fig("jobs") / n,
            "workload.tasks_per_scan_stage": fig("scan_tasks") / max(1.0, fig("scan_stages")),
            "workload.exchanges_per_query": fig("exchanges") / n,
            "workload.shuffle_bytes_per_query": fig("shuffle_bytes") / n,
            "workload.spill_bytes": fig("spill_bytes") / n,
            "workload.scan_rows_per_output_row": fig("scan_rows") / max(1, sum(s.get("output_rows", 0) for s in spans)),
        }

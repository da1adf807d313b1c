"""Seeded input generators. The same seed gives byte-identical inputs.

* ``star_schema`` — a TPC-H-shaped star schema (region, nation,
  customer, supplier, part, orders, lineitem) in the value domains the
  registry queries expect, with the two fact tables split into several
  Parquet files per core so scans run wide.
* ``PoModel`` — the purchase-order lake as the benchmark believes it
  should be: live rows, the nightly change batches and the fake status
  API's answers.
* ``corpus_batch`` — one batch of documents for the curation pipeline,
  with exact copies, injected near-duplicates and one boilerplate
  template cluster.
"""

from __future__ import annotations

import hashlib
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------
# TPC-H-shaped star schema
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _days(rng, n: int, lo: int, hi: int) -> np.ndarray:
    return _EPOCH_1995 + (rng.integers(lo, hi, n) * 86_400_000_000).astype("timedelta64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str, n_files: int) -> None:
    """One directory ``<name>.parquet`` holding ``n_files`` part files."""
    os.makedirs(path, exist_ok=True)
    rows = table.num_rows
    for i in range(n_files):
        lo, hi = rows * i // n_files, rows * (i + 1) // n_files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))


def star_schema(out_dir: str, seed: int, n_orders: int, fact_files: int) -> dict[str, int]:
    """Write the schema under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng([seed, 0x5747])
    n_cust, n_supp, n_part = n_orders // 10, max(n_orders // 150, 20), n_orders // 8
    n_items = n_orders * 4
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(0, 25, n_part)],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, n_orders, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_orders, 0, 2404),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_orders, n_items, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_items, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_items, dtype=np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_items), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
            "l_extendedprice": _money(rng, n_items, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_items) / 100.0,
            "l_tax": rng.integers(0, 9, n_items) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_items)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_items)],
            "l_shipdate": _days(rng, n_items, 1, 2500),
        }),
    }
    for name, table in tables.items():
        files = fact_files if name in ("orders", "lineitem") else 1
        _write(table, os.path.join(out_dir, f"{name}.parquet"), files)
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------
# Purchase-order lake
STATUSES = ["OPEN", "PICKED", "SHIPPED", "INVOICED", "CLOSED", "BACKORDER"]


def po_number(i: int) -> str:
    return f"PO{i:08d}"


def api_status(po: str, night: int) -> tuple[str, str]:
    """What the fake status API answers for ``po`` on ``night``."""
    h = zlib.crc32(f"{po}|{night}".encode())
    return f"{h % 90 + 10}", STATUSES[h % len(STATUSES)]


def row_digest(po: str, status: str, amount: float) -> int:
    """Same value Spark computes as crc32(concat_ws('|', ...))."""
    return zlib.crc32(f"{po}|{status}|{amount:.2f}".encode())


class PoModel:
    """The expected content of the PO table, night by night.

    Each night looks up ``lookups`` POs (recent ones favoured), updates
    their status from the API, inserts ``churn`` new POs and deletes
    the ``churn`` oldest, so the table keeps a constant row count."""

    def __init__(self, seed: int, backfill: int, lookups: int, churn: int) -> None:
        self.seed = seed
        self.rng = np.random.default_rng([seed, 0x90])
        self.lookups, self.churn = lookups, churn
        self.next_po = backfill
        self.live: dict[str, tuple[str, float, int]] = {}  # po -> (status, amount, region)
        for i in range(backfill):
            self.live[po_number(i)] = self._new_row(i)
        self.oldest = 0

    def _new_row(self, i: int) -> tuple[str, float, int]:
        cents = (i * 7919 + self.seed * 104729) % 4_999_000 + 1000
        return STATUSES[i % 3], cents / 100, i % 2

    def backfill_frame(self, spark, n: int):
        """The first ``n`` rows of ``_new_row`` as a Spark frame, built
        in the JVM: integer cents divided by 100 give the same doubles."""
        from pyspark.sql import functions as F

        cents = (F.col("id") * 7919 + self.seed * 104729) % 4_999_000 + 1000
        return spark.range(n).select(
            F.format_string("PO%08d", F.col("id")).alias("po_number"),
            F.element_at(F.array(*[F.lit(s) for s in STATUSES[:3]]), (F.col("id") % 3 + 1).cast("int")).alias("status"),
            (cents.cast("double") / 100).alias("amount"),
            (F.col("id") % 2).cast("int").alias("region"),
            F.lit("I").alias("op"),
            F.lit(0).cast("bigint").alias("seq"),
        )

    def digest(self) -> tuple[int, int]:
        """(row count, sum of row digests) — what the table must hold."""
        return len(self.live), sum(row_digest(po, s, a) for po, (s, a, _) in self.live.items())

    def plan_night(self, night: int) -> dict:
        """The night's lookup keys and change batch, advancing the model."""
        lo, hi = self.oldest, self.next_po
        # recent POs favoured: squared-uniform offsets from the newest
        offs = (self.rng.random(self.lookups * 2) ** 2 * (hi - lo)).astype(int)
        keys: list[str] = []
        seen: set[str] = set()
        for off in offs:
            po = po_number(hi - 1 - int(off))
            if po not in seen:
                seen.add(po)
                keys.append(po)
            if len(keys) == self.lookups:
                break
        # a few unknown POs the lookup must not find
        missing = [po_number(hi + 10_000 + k) for k in range(3)]
        dead = {po_number(i) for i in range(self.oldest, self.oldest + self.churn)}
        found = {po: self.live[po] for po in keys if po in self.live}
        changes = []
        for po, (_, amount, region) in found.items():
            if po not in dead:
                _, status = api_status(po, night)
                changes.append((po, status, amount, region, "U", night + 1))
        inserts = []
        for _ in range(self.churn):
            i = self.next_po
            self.next_po += 1
            status, amount, region = self._new_row(i)
            inserts.append((po_number(i), status, amount, region, "I", night + 1))
        deletes = [(po, *self.live[po], "D", night + 1) for po in sorted(dead) if po in self.live]
        self.oldest += self.churn
        before = self.digest()
        for po, status, amount, region, _, _ in changes + inserts:
            self.live[po] = (status, amount, region)
        for po, *_ in deletes:
            del self.live[po]
        return {
            "lookup": keys + missing,
            "found": {po: v[0] for po, v in found.items()},
            "fetch": [c[0] for c in changes],
            "changes": changes + inserts + deletes,
            "n_updated": len(changes),
            "n_inserted": len(inserts),
            "n_deleted": len(deletes),
            "before": before,
            "after": self.digest(),
        }


# ---------------------------------------------------------------------
# Document corpus
_WORDS = (
    "data lake order status supplier invoice shipment region price market "
    "customer product quality review river mountain city garden music story "
    "energy network signal model training corpus window table column record "
    "value history future letter paper science water light stone forest field "
    "engine memory cache thread vector matrix graph query index report summary"
).split()
_STOP = ["the", "a", "of", "and", "is", "to", "in", "it", "that", "for"]
TEMPLATE = (
    "this message and any attachments are confidential and intended solely "
    "for the addressee if you have received it in error please notify the "
    "sender and delete it from your system any use of the content of this "
    "message is strictly prohibited and may be unlawful reference number"
)
EMBED_DIM = 16


def _sentence(rng, n: int) -> list[str]:
    words = []
    for _ in range(n):
        pool = _STOP if rng.random() < 0.35 else _WORDS
        words.append(pool[int(rng.integers(0, len(pool)))])
    return words


def embed(text: str) -> list[float]:
    """Deterministic bag-of-words embedding (unit length)."""
    v = np.zeros(EMBED_DIM)
    for w in text.split(" "):
        h = int.from_bytes(hashlib.blake2b(w.encode(), digest_size=4).digest(), "little")
        v[h % EMBED_DIM] += 1.0 if (h >> 8) & 1 else -1.0
    n = np.linalg.norm(v)
    return [round(float(x), 6) for x in (v / n if n else v)]


def shingles(text: str, size: int = 3) -> set[tuple[str, ...]]:
    toks = text.split(" ")
    if len(toks) < size:
        return {tuple(toks)}
    return {tuple(toks[i : i + size]) for i in range(len(toks) - size + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def corpus_batch(seed: int, batch: int, n_docs: int) -> dict:
    """One batch: base documents, exact copies, near-duplicates (a few
    words edited, Jaccard well above 0.7) and a template cluster.

    Returns the Arrow table (doc_id, text, vec) plus the injected
    exact-copy groups and near-duplicate pairs."""
    rng = np.random.default_rng([seed, 0xC0, batch])
    base_id = batch * 1_000_000
    n_template = n_docs // 12
    n_exact = n_docs // 20
    n_near = n_docs // 3
    n_base = n_docs - n_template - n_exact - n_near
    texts: list[str] = [" ".join(_sentence(rng, int(rng.integers(70, 120)))) for _ in range(n_base)]
    exact_groups: list[list[int]] = []
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        texts.append(texts[src])
        exact_groups.append([src, len(texts) - 1])
    near_pairs: list[tuple[int, int]] = []
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        toks = texts[src].split(" ")
        for _ in range(2):
            toks[int(rng.integers(0, len(toks)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        texts.append(" ".join(toks))
        near_pairs.append((src, len(texts) - 1))
    for k in range(n_template):
        texts.append(f"{TEMPLATE} {batch}{k:05d}")
    # shuffle positions so duplicates are not adjacent in id order
    order = rng.permutation(len(texts))
    new_pos = np.empty_like(order)
    new_pos[order] = np.arange(len(texts))
    ids = [base_id + int(p) for p in new_pos]
    table = pa.table({
        "doc_id": pa.array([ids[i] for i in order], pa.int64()),
        "text": [texts[i] for i in order],
        "vec": pa.array([embed(texts[i]) for i in order], pa.list_(pa.float64())),
    })
    pairs = set()
    for a, b in near_pairs:
        if texts[a] != texts[b] and jaccard(texts[a], texts[b]) >= 0.7:
            pairs.add(tuple(sorted((ids[a], ids[b]))))
    return {
        "table": table,
        "texts": {ids[i]: texts[i] for i in range(len(texts))},
        "exact_groups": [sorted(ids[i] for i in g) for g in exact_groups],
        "near_pairs": pairs,
    }

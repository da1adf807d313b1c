"""corpus_curation — the LLM-data operator path.

Each operation curates one seed-generated batch of documents (exact
copies, injected near-duplicates and one boilerplate template cluster
that piles into the same LSH buckets). Stages hand their output to the
next as Parquet:

1. ``operators.text``: ``lang_id``, ``quality_score``, ``gopher_quality_flags``;
2. ``operators.dedup``: ``exact_dedup``, ``minhash_lsh_pairs`` and
   ``dedup_clusters``;
3. ``operators.similarity``: ``knn_join`` and ``mmr_rerank`` over the
   batch's embeddings;
4. ``operators.sampling``: ``leakage_safe_split`` keyed on the pairs;
5. ``operators.packing``: ``token_pack`` per split.

Checks: every emitted pair's Jaccard is recomputed (precision is
exact), every exact copy must be found, and near-duplicate recall over
the injected pairs is reported as a quality metric.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gen import corpus_batch, jaccard
from harness import disk_bytes

BATCH_DOCS = 300
BATCHES = 4  # distinct batches, reused round-robin so inputs are generated once
WARM_DOCS = 60  # the warm-up batch: same code paths, a fifth of the data


class CorpusCuration:
    name = "corpus_curation"
    unit = "documents curated"
    cycle_ops = 1
    min_cycles = 1
    warm_ops = 1
    pin_layer = "operators"

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work, self.seed, self.t = work, seed, tracer
        self.next_batch = 0
        # recall counts every batch of the run, warm-up included
        self.found_pairs = 0
        self.injected_pairs = 0
        self.reset_counters()
        self.stored_ratio = 1.0

    def reset_counters(self) -> None:
        self.lsh_candidates = 0.0
        self.verified = 0
        self.traced_batches = 0

    def generate(self) -> None:
        """The warm-up batch first, then the measured batches."""
        self.batches = []
        for b in range(BATCHES + 1):
            batch = corpus_batch(self.seed, b, BATCH_DOCS if b else WARM_DOCS)
            path = os.path.join(self.work, "input", f"batch{b}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(batch["table"], path)
            batch["path"] = path
            del batch["table"]
            self.batches.append(batch)

    def setup(self, spark) -> None:
        """Program-side start: the operator modules and the first batch's
        input frame."""
        from cbts_datalake_synnex_spark.operators import dedup, packing, sampling, similarity, text

        self.spark = spark
        self.ops = (text, dedup, similarity, sampling, packing)
        spark.read.parquet(self.batches[0]["path"]).count()

    def teardown(self) -> None:
        """Nothing is registered in the catalog."""

    def run_op(self) -> tuple[int, list[str]]:
        text, dedup, similarity, sampling, packing = self.ops
        spark, t = self.spark, self.t
        batch = self.batches[1 + (self.next_batch - 1) % BATCHES if self.next_batch else 0]
        self.next_batch += 1
        out = os.path.join(self.work, "stages")
        shutil.rmtree(out, ignore_errors=True)
        stage = lambda name: os.path.join(out, name)  # noqa: E731
        errors: list[str] = []
        docs = spark.read.parquet(batch["path"])

        with t.span("operators.text"):
            scored = text.gopher_quality_flags(
                text.quality_score(text.lang_id(docs, "text"), "text"), "text"
            )
            scored.write.parquet(stage("text"))
        scored = spark.read.parquet(stage("text"))

        with t.span("operators.dedup"):
            exact = dedup.exact_dedup(scored, ["text"], "doc_id").filter("n_copies > 1").collect()
            with t.span("operators.dedup_lsh") as span:
                pairs = dedup.minhash_lsh_pairs(scored, "doc_id", "text", threshold=0.7)
                pair_rows = pairs.collect()
            pairs_df = spark.createDataFrame(
                [(int(r.doc1), int(r.doc2), float(r.jaccard)) for r in pair_rows],
                "doc1 bigint, doc2 bigint, jaccard double",
            )
            pairs_df.write.parquet(stage("pairs"))
            pairs_df = spark.read.parquet(stage("pairs"))
            dedup.dedup_clusters(pairs_df).write.parquet(stage("clusters"))
        if span is not None:
            joins = span["spark"]["join_rows"]
            self.lsh_candidates += max(joins) if joins else 0.0
            self.traced_batches += 1
        with t.check():
            errors += self._check_dedup(batch, exact, pair_rows)

        with t.span("operators.similarity"):
            vecs = scored.select("doc_id", "vec")
            knn = similarity.knn_join(vecs, vecs, "doc_id", "vec", k=4, n_cells=4, n_probe=2)
            knn.write.parquet(stage("knn"))
            knn = spark.read.parquet(stage("knn"))
            similarity.mmr_rerank(knn, vecs, "doc_id", "vec", k=3).write.parquet(stage("mmr"))

        with t.span("operators.sampling"):
            split = sampling.leakage_safe_split(scored.select("doc_id"), pairs_df, "doc_id")
            split.write.parquet(stage("split"))
        split = spark.read.parquet(stage("split"))

        with t.span("operators.packing"):
            packed = packing.token_pack(
                scored.select("doc_id", "text").join(split, "doc_id"),
                "text", shard_col="split", order_col="doc_id", budget=2048,
            )
            packed.write.parquet(stage("packed"))

        with t.check():
            errors += self._check_tail(batch, stage, pair_rows)
            self.stored_ratio = disk_bytes([out]) / disk_bytes([out], ".parquet")
        return len(batch["texts"]), errors

    def _check_dedup(self, batch, exact, pair_rows) -> list[str]:
        errors = []
        texts = batch["texts"]
        copies = {r.doc_id: r.n_copies for r in exact}
        for group in batch["exact_groups"]:
            n_same = sum(1 for d, x in texts.items() if x == texts[group[0]])
            if copies.get(min(d for d, x in texts.items() if x == texts[group[0]])) != n_same:
                errors.append(f"exact copy group {group} not found")
                break
        bad = [
            (r.doc1, r.doc2) for r in pair_rows
            if abs(round(jaccard(texts[r.doc1], texts[r.doc2]), 6) - r.jaccard) > 1e-6 or r.jaccard < 0.7
        ]
        if bad:
            errors.append(f"{len(bad)} emitted pairs fail the Jaccard recheck, e.g. {bad[0]}")
        found = {tuple(sorted((int(r.doc1), int(r.doc2)))) for r in pair_rows}
        self.found_pairs += len(batch["near_pairs"] & found)
        self.injected_pairs += len(batch["near_pairs"])
        self.verified += len(pair_rows)
        return errors

    def _check_tail(self, batch, stage, pair_rows) -> list[str]:
        errors = []
        split = {r.doc_id: r.split for r in self.spark.read.parquet(stage("split")).collect()}
        if len(split) != len(batch["texts"]):
            errors.append("split lost documents")
        if any(split[r.doc1] != split[r.doc2] for r in pair_rows):
            errors.append("a near-duplicate pair crosses the train/test split")
        packed = self.spark.read.parquet(stage("packed")).agg(F.count(F.lit(1)).alias("n")).collect()[0]
        if packed.n != len(batch["texts"]):
            errors.append("packing lost documents")
        return errors

    def near_dup_recall(self) -> float:
        return self.found_pairs / self.injected_pairs if self.injected_pairs else 1.0

    def stored_bytes_per_live_byte(self) -> float:
        """Stage hand-off bytes on disk (with Spark's checksum and marker
        files) per byte of Parquet data."""
        return self.stored_ratio

    def layer_metrics(self) -> dict[str, float]:
        """Candidate and verified pair counts per batch of the traced half."""
        batches = max(1, self.traced_batches)
        cand = self.lsh_candidates
        return {
            "operators.lsh_candidates": cand / batches,
            "operators.verified_pairs": self.verified / batches,
            "operators.candidate_precision": self.verified / cand if cand else 0.0,
        }

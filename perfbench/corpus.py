"""``corpus`` workload: the LLM-corpus operators, read path and write path.

One operation is one pass over a fresh seeded shard (documents with
injected exact and near duplicates, plus embeddings), stage by stage,
each stage ended by an action so its cost lands in that stage:

quality score + language id → repetition metrics → exact-duplicate groups
→ MinHash-LSH candidates + Jaccard verify → embedding near-duplicates,

followed by one ingest batch into a persisted dedup index
(:mod:`ingest`), whose corpus and index grow over the run.

Shards, the base corpus and its index are built during set-up. After the
timed loop the exact-duplicate groups of every pass are compared with
DuckDB, the recall of the injected near-duplicate pairs is computed, and
every batch must have admitted exactly its novel documents.
"""

from __future__ import annotations

import contextlib
import os

import datagen
from ingest import BATCH, Ingest

DOCS = 2000
INJECT_SHARE = 0.20
VECTORS = 1000
SHARDS = 4              # timed pass i reads shard i % SHARDS
WARMUP_OPS = 1
JACCARD = 0.9
COSINE = 0.5

STAGES = ("functions.text.quality_lang", "functions.text.repetition_metrics",
          "functions.dedup.exact_dup_groups",
          "functions.dedup.minhash_lsh_candidates",
          "functions.dedup.jaccard_verify",
          "functions.dedup.embedding_near_dups")


class Corpus:
    name = "corpus"
    unit = "pass"

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.dir = os.path.join(workdir, "corpus_data")
        self.near_pairs: dict[int, list] = {}
        self.results: list = []   # (shard, exact groups, verified pairs)
        self.items = 0            # documents through passes and batches
        self.candidates = 0
        self.verified = 0
        self.on_stage = None      # tracer hook: on_stage(name) → ctx mgr
        self.ingest = Ingest(spark, workdir, seed)

    def _shard(self, k: int) -> str:
        return os.path.join(self.dir, f"shard{k:03d}")

    def setup(self) -> None:
        # shards SHARDS and SHARDS + 1 (small) are the warm-up's
        for k in range(SHARDS + 2):
            scale = 1 if k <= SHARDS else 10
            docs, pairs = datagen.documents(self.seed, k, DOCS // scale,
                                            INJECT_SHARE)
            self.near_pairs[k] = pairs
            datagen.write_tables(
                {"documents": docs,
                 "embeddings": datagen.embeddings(self.seed, k,
                                                  VECTORS // scale)},
                self._shard(k))
        self.ingest.setup()

    def warmup(self) -> None:
        # the first pass pays one-off costs (Python workers, code
        # generation) whatever its size, so it runs on a small shard
        self.run_pass(SHARDS + 1, record=False)
        for b in range(WARMUP_OPS):
            self.run_pass(SHARDS, record=False)
            self.ingest.ingest(b, record=False)

    def close(self) -> None:
        pass

    def sample(self) -> dict[str, int]:
        return self.ingest.sample()

    def op(self, i: int) -> None:
        self.run_pass(i % SHARDS)
        self.ingest.ingest(WARMUP_OPS + i)
        self.items += BATCH

    def _stage(self, name: str):
        return (self.on_stage(name) if self.on_stage is not None
                else contextlib.nullcontext())

    def run_pass(self, k: int, record: bool = True) -> None:
        from pyspark.sql import functions as F

        from dataweb_spark.functions import dedup as D
        from dataweb_spark.functions import text as T

        path = self._shard(k)
        docs = self.spark.read.parquet(
            os.path.join(path, "documents.parquet"))
        emb = self.spark.read.parquet(os.path.join(path, "embeddings.parquet"))
        with self._stage(STAGES[0]):
            docs.select("doc_id", T.quality_score("text").alias("q"),
                        T.lang_id("text").alias("lang")) \
                .agg(F.sum("q"), F.count("lang")).collect()
        with self._stage(STAGES[1]):
            T.repetition_metrics(docs).agg(
                F.sum("top_bigram_frac"), F.count("*")).collect()
        with self._stage(STAGES[2]):
            groups = D.exact_dup_groups(docs, "text", "doc_id") \
                .where("n_copies > 1") \
                .select("keeper_id", "n_copies").collect()
        text = docs.select("doc_id", "text")
        with self._stage(STAGES[3]):
            cands = D.minhash_lsh_candidates(text, "doc_id", "text")
            n_cands = cands.count()
        with self._stage(STAGES[4]):
            pairs = D.jaccard_verify(text, cands, "doc_id",
                                     threshold=JACCARD) \
                .select("id_a", "id_b").collect()
        with self._stage(STAGES[5]):
            D.embedding_near_dups(emb, threshold=COSINE, planes=6) \
                .agg(F.count("*")).collect()
        if record:
            self.items += DOCS
            self.candidates += n_cands
            self.verified += len(pairs)
            self.results.append(
                (k, sorted((r.keeper_id, r.n_copies) for r in groups),
                 {(r.id_a, r.id_b) for r in pairs}))

    def verify(self) -> tuple[int, list[str]]:
        import duckdb

        con = duckdb.connect()
        expected: dict = {}
        bad = []
        for k, groups, _ in self.results:
            if k not in expected:
                docs = os.path.join(self._shard(k), "documents.parquet")
                expected[k] = sorted(con.execute(
                    "select min(doc_id), count(*) from read_parquet(?) "
                    "group by text having count(*) > 1",
                    [docs]).fetchall())
            if groups != expected[k]:
                bad.append(f"shard {k}: exact-duplicate groups differ")
        con.close()
        batches, bad_batches = self.ingest.verify()
        return len(self.results) + batches, bad + bad_batches

    def injected_recall(self) -> float:
        found = total = 0
        for k, _, pairs in self.results:
            found += sum(p in pairs for p in self.near_pairs[k])
            total += len(self.near_pairs[k])
        return found / max(total, 1)

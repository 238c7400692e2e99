"""The ingest step of the ``corpus`` workload: seeded batches through
``dedup_index.ingest_batch``.

Set-up writes a corpus of seeded documents and builds its persisted
dedup index. Each step ingests one batch of ``BATCH`` documents: copies
of corpus documents (verbatim or with one appended word), which must be
rejected, mixed with novel documents, which must be admitted. Admitted
documents append to the corpus and the index, so the working set grows
over the run.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

import datagen

CORPUS_DOCS = 5000
BATCH = 500
DUP_SHARE = 0.3
BASE_PART = 1000        # document-table part of the base corpus


class Ingest:
    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.corpus_dir = os.path.join(workdir, "ingest_corpus")
        self.index_dir = os.path.join(workdir, "ingest_index")
        self.admitted: list = []     # (batch no, admitted count, expected)
        self.admitted_bytes = 0
        self._texts: list[str] = []

    def setup(self) -> None:
        from dataweb_spark.functions.dedup_index import build_dedup_index

        docs, _ = datagen.documents(self.seed, BASE_PART, CORPUS_DOCS, 0.2)
        docs = docs.select(["doc_id", "text"])
        self._texts = docs.column("text").to_pylist()
        datagen.write_tables({"part-0": docs}, self.corpus_dir)
        corpus = self.spark.read.parquet(self.corpus_dir)
        build_dedup_index(corpus, self.index_dir)

    def batch(self, b: int):
        """Batch ``b``: ids from a per-batch range; ``DUP_SHARE`` of the
        documents copy corpus texts, the rest are novel."""
        rng = np.random.default_rng([self.seed, 20, b])
        n_dup = int(BATCH * DUP_SHARE)
        dups = []
        for src in rng.integers(0, len(self._texts), n_dup):
            text = self._texts[int(src)]
            if rng.random() < 0.5 and text.count(" ") >= 29:
                text += " " + datagen.WORDS[int(rng.integers(
                    0, len(datagen.WORDS)))]
            dups.append(text)
        texts = dups + datagen.novel_texts(self.seed, b, BATCH - n_dup)
        order = rng.permutation(BATCH)
        first = 10_000_000 * (b + 1)
        ids = np.arange(first, first + BATCH, dtype="int64")
        texts = [texts[i] for i in order]
        novel = {int(ids[j]) for j, i in enumerate(order) if i >= n_dup}
        return pa.table({"doc_id": ids, "text": pa.array(texts)}), novel

    def ingest(self, b: int, record: bool = True) -> None:
        """Ingests batch ``b``; each batch number is used once."""
        from dataweb_spark.functions.dedup_index import ingest_batch

        table, novel = self.batch(b)
        frame = self.spark.createDataFrame(table)
        n = ingest_batch(self.spark, frame, self.index_dir, self.corpus_dir)
        if record:
            self.admitted.append((b, n, novel))
            self.admitted_bytes += sum(
                len(t.encode()) for t, i in zip(
                    table.column("text").to_pylist(),
                    table.column("doc_id").to_pylist()) if i in novel)

    def verify(self) -> tuple[int, list[str]]:
        """Each batch admitted exactly its novel documents: the count
        ``ingest_batch`` returned, and the ids the corpus now holds."""
        import duckdb

        bad = []
        con = duckdb.connect()
        ids = {r[0] for r in con.execute(
            "select doc_id from read_parquet(?) where doc_id >= 10000000",
            [os.path.join(self.corpus_dir, "*.parquet")]).fetchall()}
        con.close()
        for b, n, novel in self.admitted:
            first = 10_000_000 * (b + 1)
            got = {i for i in ids if first <= i < first + BATCH}
            if n != len(novel) or got != novel:
                bad.append(f"batch {b}: admitted {n} ({len(got)} in corpus),"
                           f" expected {len(novel)} novel")
        return len(self.admitted), bad

    def sample(self) -> dict[str, int]:
        """Cumulative file counts and bytes of the corpus and index
        tables, and text bytes admitted so far."""
        out = {"bytes_written": 0, "admitted_bytes": self.admitted_bytes}
        for key, d in (("files.fp", os.path.join(self.index_dir, "fp")),
                       ("files.bands", os.path.join(self.index_dir, "bands")),
                       ("files.corpus", self.corpus_dir)):
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            out[key] = len(files)
            out["bytes_written"] += sum(
                os.path.getsize(os.path.join(d, f)) for f in files)
        return out

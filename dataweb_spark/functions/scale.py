"""Scale utilities: skew-aware joins and co-partitioned layouts.

These are the knobs a 100 TB deployment reaches for when AQE alone isn't
enough (SURVEY.md §4 "Concurrency"/"shuffle" rows; the reference inherits
all of this from its downstream engines and has no counterpart):

* :func:`salted_join` — explicit key salting for a skewed inner/left join
  against a smaller-but-not-broadcastable right side. The hot left keys are
  split across ``salt`` buckets; the right side is replicated ``salt`` times
  (only the right side grows — keep it the smaller input). AQE's
  ``skewJoin`` handles sort-merge skew automatically; salting is for the
  cases AQE can't re-split (aggregations feeding the join, non-SMJ plans).
* :func:`write_bucketed` / :func:`read_bucketed_table` — persistent
  bucketing so repeated equi-joins/aggregations on the same key avoid the
  shuffle entirely (Spark reuses the bucketing as the required
  distribution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(left: DataFrame, right: DataFrame, on: str,
                salt: int = 8, how: str = "inner") -> DataFrame:
    """Equi-join with the left side's hot keys spread across ``salt``
    buckets and the right side replicated per bucket.

    Output columns = left ∪ (right − key), like ``left.join(right, on)``.
    """
    salted_l = left.withColumn(
        "_salt", (F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                         F.lit(salt))).cast("int"))
    salted_r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    out = salted_l.join(salted_r, on=[on, "_salt"], how=how)
    return out.drop("_salt")


def write_bucketed(df: DataFrame, table_name: str, key: str,
                   num_buckets: int = 32, path: str | None = None,
                   sort_by: str | None = None) -> None:
    """Persist with bucketing metadata; subsequent equi-joins/groupBys on
    ``key`` between bucketed tables skip the shuffle."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def read_bucketed_table(spark, table_name: str) -> DataFrame:
    return spark.table(table_name)


def write_partitioned(df: DataFrame, path: str, partition_by: list[str],
                      mode: str = "overwrite",
                      max_records_per_file: int | None = None) -> None:
    """Hive-style partitioned parquet layout (``path/col=value/…``).

    The standard 100 TB lake layout: queries filtering on the partition
    columns scan only the matching directories (partition pruning — the
    read-back plan shows ``PartitionFilters`` and skips the rest). Keep
    partition columns low-cardinality (date, source, lang); use
    ``max_records_per_file`` to bound file sizes under skew.
    """
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*partition_by).parquet(path)


def compact_parquet(spark, path: str, target_file_mb: int = 256,
                    partition_by: list[str] | None = None,
                    drop_duplicates: bool = False) -> int:
    """Rewrite a parquet dataset into ~``target_file_mb``-sized files.

    Streaming ingest and fine-grained task outputs leave lakes littered with
    small files; at 100 TB the scan's task-scheduling overhead and NameNode/
    listing pressure dominate. Sizing from the *current* on-disk footprint
    (sum of data-file sizes via the Hadoop FS API — works for any scheme)
    keeps one pass, no sampling. Returns the new file count.

    The rewrite stages into ``path + '.compact.tmp'`` then swaps, so a
    failure mid-write leaves the original intact.
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    bytes_total = fs.getContentSummary(jpath).getLength()
    n_files = max(1, int(bytes_total / (target_file_mb * 1024 * 1024)) + 1)

    df = spark.read.parquet(path)
    if drop_duplicates:
        # Opt-in (adds a shuffle): scrub exact-duplicate rows left by
        # at-least-once appenders (e.g. dedup_index crash replays).
        df = df.dropDuplicates()
    tmp = path.rstrip("/") + ".compact.tmp"
    writer = df.coalesce(n_files).write.mode("overwrite") \
        if not partition_by else \
        df.repartition(n_files, *partition_by).write.mode("overwrite") \
          .partitionBy(*partition_by)
    writer.parquet(tmp)

    _atomic_swap(spark, path, tmp, label="compact")
    out = [f for f in fs.listStatus(jpath)
           if f.getPath().getName().endswith(".parquet")]
    return len(out)


def _atomic_swap(spark, path: str, tmp: str, label: str = "rewrite") -> None:
    """Swap a staged rewrite at ``tmp`` into ``path`` with crash safety:
    original moved aside to ``.bak``, new data renamed in, read-back sanity
    check before the backup is discarded; any failure restores the
    original. Hadoop FS rename signals failure by returning false (stale
    target from a crashed prior run, cross-dir issues) — never delete
    anything until the swap is proven."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    bak = path.rstrip("/") + f".{label}.bak"
    jbak = jvm.org.apache.hadoop.fs.Path(bak)
    jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
    if fs.exists(jbak):
        raise IOError(f"stale backup {bak} exists — resolve it first "
                      f"(previous {label} may have failed mid-swap)")
    if not fs.rename(jpath, jbak):
        raise IOError(f"could not move {path} aside to {bak}; "
                      "original left untouched")
    if not fs.rename(jtmp, jpath):
        fs.rename(jbak, jpath)  # roll back: original data back in place
        raise IOError(f"could not move {label} data into {path}; "
                      "original restored")
    try:
        spark.read.parquet(path).schema  # read-back sanity before discard
    except Exception:
        fs.delete(jpath, True)
        fs.rename(jbak, jpath)
        raise
    fs.delete(jbak, True)


def merge_upsert(spark, path: str, updates: DataFrame, key: str,
                 deleted_col: str | None = None) -> dict:
    """MERGE INTO for a plain-parquet lake (no table format required):
    upsert ``updates`` into the dataset at ``path`` by ``key`` — matched
    base rows are replaced by their update, unmatched updates are
    inserted, and rows whose update has ``deleted_col`` true are removed.
    The steady-state shape of incremental corpus maintenance (re-crawled
    documents, takedowns, fixed records).

    Scale shape: ONE pass over the base — a left-anti join against the
    update KEYS (column-pruned; Spark broadcasts the key side in the
    steady-state small-batch regime, AQE falls back to shuffle for bulk
    backfills) — unioned with the surviving updates, staged to a temp dir
    and atomically swapped like :func:`compact_parquet` (crash mid-write
    leaves the original intact). The base is never collected, never
    re-read twice. Row counts come from one count per (tiny) update side +
    the base, not from extra full passes.

    Precondition: ``updates`` has ONE row per ``key`` (duplicate update
    keys would all survive the anti-join and land as duplicate rows in the
    merged table, and the returned counts would skew) — validated here
    with one agg on the (small) update side; the base table is likewise
    expected to be key-unique, which this function preserves.

    Returns {"inserted", "updated", "deleted", "total"}.
    """
    base = spark.read.parquet(path)
    # NULL-safe duplicate check (countDistinct ignores NULLs, which would
    # reject any batch carrying a legitimate NULL-key insert): only
    # genuinely repeated non-null keys are errors. NULL-key rows keep the
    # historical behavior — they never match base rows, so they insert.
    n_dup_keys = (updates.where(F.col(key).isNotNull())
                  .groupBy(key).agg(F.count(F.lit(1)).alias("c"))
                  .where("c > 1").count())
    if n_dup_keys:
        raise ValueError(
            f"merge_upsert requires one update row per '{key}': "
            f"{n_dup_keys} keys appear more than once — dedup the "
            "update batch (e.g. keep latest per key) before merging")
    up = updates
    if deleted_col is not None:
        tombstones = up.where(F.col(deleted_col)).select(key)
        up = up.where(~F.col(deleted_col)).drop(deleted_col)
    else:
        tombstones = None
    all_keys = updates.select(key)
    up = up.select(*base.columns)

    # All counts BEFORE the swap: ``base`` is a lazy reference to ``path``
    # and would re-read the MERGED data afterwards.
    n_base = base.count()
    n_matched = (base.select(key).join(F.broadcast(all_keys), key, "semi")
                 .count())
    n_up = up.count()
    n_deleted = 0 if tombstones is None else (
        base.select(key).join(F.broadcast(tombstones), key, "semi").count())
    survivors = base.join(F.broadcast(all_keys), key, "left_anti")
    merged = survivors.unionByName(up)

    tmp = path.rstrip("/") + ".merge.tmp"
    merged.write.mode("overwrite").parquet(tmp)
    _atomic_swap(spark, path, tmp, label="merge")
    return {"inserted": n_up - (n_matched - n_deleted),
            "updated": n_matched - n_deleted,
            "deleted": n_deleted,
            "total": n_base - n_matched + n_up}


def _zvalue(cols: list[str], bits: int = 16) -> F.Column:
    """Interleaved-bit Z-value over per-column rank buckets (codegen only).

    Each column contributes ``bits`` bits (its 0..2^bits-1 percent_rank
    bucket); bit i of every column maps to position ``i*len(cols)+j`` of the
    composite. Built from shiftleft/bitwise-or expressions — no UDF.
    """
    n = len(cols)
    z = F.lit(0).cast("bigint")
    for j, c in enumerate(cols):
        b = F.col(f"__zb_{c}")
        for i in range(bits):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1)).cast("bigint")
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def zorder_write(df: DataFrame, path: str, zorder_by: list[str],
                 bits: int = 16, n_files: int | None = None,
                 mode: str = "overwrite") -> None:
    """Write parquet clustered on the Z-order curve of ``zorder_by``.

    Multi-dimensional clustering for data skipping: parquet min/max stats
    per file/row-group become selective for *every* Z-ordered column, not
    just a single sort leader — filters on any of them prune files at scan
    time. This is the Delta/Iceberg OPTIMIZE ZORDER technique expressed with
    plain Spark: percent_rank-bucket each column (rank, not raw value, so
    skew can't collapse the curve), interleave bits into a bigint Z-value,
    range-partition + sort by it, drop the helper columns.

    The rank pass is one window over the full data — at 100 TB replace it
    with ``approxQuantile`` cut-points computed on a sample (same curve,
    no global sort of ranks); the write path is identical.
    """
    from pyspark.sql import Window
    out = df
    hi = (1 << bits) - 1
    for c in zorder_by:
        w = Window.orderBy(F.col(c))
        out = out.withColumn(
            f"__zb_{c}",
            F.round(F.percent_rank().over(w) * hi).cast("bigint"))
    out = out.withColumn("__z", _zvalue(zorder_by, bits))
    parts = n_files or max(df.sparkSession.sparkContext.defaultParallelism, 8)
    (out.repartitionByRange(parts, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__zb_{c}" for c in zorder_by])
        .write.mode(mode).parquet(path))


def file_stats(spark, path: str, cols: list[str]):
    """Per-file min/max for ``cols`` (the stats the scan planner skips by).

    Used to *measure* clustering quality: sum over files of
    (max-min)/global_range — lower is tighter layout, more skippable."""
    df = spark.read.parquet(path).withColumn(
        "__file", F.input_file_name())
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return df.groupBy("__file").agg(*aggs)


def vacuum_lake(spark, path: str, retain_hours: float = 24.0,
                dry_run: bool = False) -> list[str]:
    """Reclaim crash debris around a plain-parquet lake path: staged
    rewrites (``{path}.{label}.tmp``) and swap backups
    (``{path}.{label}.bak``) left by a ``compact_parquet`` /
    ``merge_upsert`` / ``zorder_write`` that died mid-flight, plus
    Spark's own ``_temporary`` job dirs inside the path. A stale
    ``.bak`` otherwise BLOCKS every future swap (by design —
    ``_atomic_swap`` refuses to guess); this is the operator remedy.

    Safety rails, in order:
    * only siblings matching the exact ``{basename}.{label}.tmp|.bak``
      shape are candidates — never the live path, never unrelated data;
    * age-gated on filesystem modification time (``retain_hours``), so
      an in-flight rewrite's staging dir is never yanked mid-swap;
    * a ``.bak`` is removed only if the LIVE path currently reads as
      parquet — if the live copy is broken, the backup is the recovery
      data and vacuum refuses to touch it;
    * ``dry_run=True`` lists what would go without deleting.

    Runs on the Hadoop FileSystem API, so it works wherever the lake
    lives (local/HDFS/S3A). Returns the removed (or listed) paths.
    """
    import time

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    if not fs.exists(jpath):
        raise ValueError(f"no lake at {path}")
    cutoff_ms = (time.time() - retain_hours * 3600.0) * 1000.0
    base = path.rstrip("/").rsplit("/", 1)[-1]
    parent = jpath.getParent()

    def live_readable() -> bool:
        try:
            spark.read.parquet(path).schema
            return True
        except Exception:
            return False

    victims: list[str] = []
    for status in fs.listStatus(parent):
        name = status.getPath().getName()
        if not name.startswith(base + "."):
            continue
        if not (name.endswith(".tmp") or name.endswith(".bak")):
            continue
        if status.getModificationTime() > cutoff_ms:
            continue                      # could be an in-flight rewrite
        if name.endswith(".bak") and not live_readable():
            continue                      # backup IS the recovery data
        victims.append(str(status.getPath().toUri().getPath()))
        if not dry_run:
            fs.delete(status.getPath(), True)

    tmp_dir = jvm.org.apache.hadoop.fs.Path(path, "_temporary")
    if fs.exists(tmp_dir) \
            and fs.getFileStatus(tmp_dir).getModificationTime() <= cutoff_ms:
        victims.append(str(tmp_dir.toUri().getPath()))
        if not dry_run:
            fs.delete(tmp_dir, True)
    return victims

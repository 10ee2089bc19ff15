"""Analytic sinks (SURVEY §1.3, §4): Parquet at rest, laid out for scale.

The reference's only sink is console show()/complete-mode console
streaming; its at-rest format is the ingester's JSONL. At 100 TB the
at-rest layout IS the query plan: date-partitioned Parquet turns time
slicing (the reference's directory-pointing, q7:64) into dynamic
partition pruning, and bucketing turns repeated equi-joins/aggs on a
key into shuffle-free scans. Both are plain public Spark APIs; the
helpers here just pin the engine's conventions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Write date/dimension-partitioned Parquet. Readers filtering on
    ``partition_cols`` scan only matching directories (partition
    pruning — visible as PartitionFilters in the scan node)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def add_date_partition(df: DataFrame, ts_col: str = "ts", out: str = "ds") -> DataFrame:
    """Derive the engine's standard partition column: yyyy-MM-dd of an
    event-time column. Low cardinality, monotone with ingest — the
    layout the reference approximated with per-range directories."""
    return df.withColumn(out, F.date_format(F.col(ts_col), "yyyy-MM-dd"))


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) table — managed
    (warehouse-dir) by default, external when ``path`` is given (the
    catalog queries use an explicit scratch path so table data never
    lands in the process working directory and a later session can
    clean or rebuild the location it owns).

    Two tables bucketed on their join key with the same bucket count
    join with ZERO Exchange on either side — the shuffle is paid once at
    write time and amortized over every later join/aggregate. This is
    the engine's answer to "co-located joins" at 100 TB.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_parquet_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Sort-on-write clustering: range-partition then sort each file by
    ``cluster_cols`` so every Parquet row group covers a narrow range of
    the cluster key, and the footer min/max statistics prune row groups
    for selective filters the directory layout can't (high-cardinality
    keys that would explode ``partitionBy``, secondary keys under a date
    partition — the Z-order/liquid-clustering niche, done with plain
    open APIs).

    Measured (SCALE.md "Session & layout invariants"): on a 10M-row
    events table in 32 files, a one-user filter must read 32/32 row
    groups under the default (arrival-order) layout and exactly 1/32
    after clustering by user_id — a 32× scan reduction at IO-bound
    scale (1.5× wall-clock locally where the table sits in page cache).
    Like bucketing, the sort is paid once at write time; unlike
    bucketing it composes with any reader (no table catalog needed) and
    keeps pruning through secondary sort columns for range scans
    (``cluster_cols=["user_id", "ts"]`` → user slice + time slice).

    ``num_files`` defaults to the session's ``defaultParallelism``
    (one file per core) — NOT the input plan's partition count, which
    for a shuffled input is whatever ``spark.sql.shuffle.partitions``
    happened to be (an arbitrary fan-out) and whose inspection forces
    a plan-to-RDD compile at call time. Size it explicitly to the
    target file size (total bytes / ~128 MB) for production writes.
    """
    n = (
        num_files
        if num_files is not None
        else df.sparkSession.sparkContext.defaultParallelism
    )
    (
        df.repartitionByRange(n, *[F.col(c) for c in cluster_cols])
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(path)
    )


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSONL export — the reference's interchange format (q1:250)."""
    df.write.mode(mode).json(path)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the session's Hadoop conf —
    the same JVM-gateway pattern as dedup.connected_components' reliable
    checkpoint hygiene. Works for file:// locally and HDFS on a cluster
    with no code change."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Small-file compaction for one Parquet directory — the
    maintenance companion to the rolling-JSONL ingester and every
    micro-batch parquet sink in ``streaming/jobs.py``: continuous
    ingestion lands one-file-per-trigger, and a year of 30-second
    triggers is a million tiny files whose per-file open/footer cost
    (and NameNode/listing pressure) eventually dwarfs the data scan.
    Compaction rewrites the directory into ``ceil(total_bytes /
    target_file_bytes)`` files and swaps it in place.

    Plan shape: ``coalesce``, never ``repartition`` — bin-packing
    existing partitions needs NO shuffle (each output task
    concatenates a handful of input files), so compacting 100 TB moves
    every byte exactly once, scan → write. The cost of that choice:
    coalesce merges in partition order without rebalancing, so output
    files can be uneven when input files are (irrelevant here — the
    inputs being compacted are uniformly SMALL by definition; callers
    re-clustering for pruning want ``write_parquet_clustered``, which
    shuffles on purpose).

    Swap protocol (same family as the ingester's tmp→rename): write to
    ``<path>.__compact_tmp__`` (Spark's own job commit makes that write
    all-or-nothing), then ``rename(path, old) → rename(tmp, path) →
    delete(old)`` through the Hadoop FileSystem API. Every entry point
    first REPAIRS an interrupted previous run (each crash window leaves
    a distinct, recognizable state; rollback when the tmp write never
    committed, roll-forward once it did), so a crashed compaction never
    loses data and a re-run converges — the operation is idempotent at
    the directory level. HDFS renames are atomic metadata ops; on
    object stores (S3) "rename" is copy+delete, so there the honest
    swap needs a manifest/table format instead of this protocol —
    documented limit, not silently papered over.

    Readers racing the swap on HDFS see the old or the new listing,
    never a mix (single-directory rename); long-running queries that
    already resolved old file paths fail on re-read after the delete —
    the standard compaction/reader contract outside snapshot formats.

    Returns stats: files/bytes before and after, and whether the
    directory was rewritten (``{"compacted": False, ...}`` when it is
    already at or below the target shape or has fewer than
    ``min_files`` data files — sub-target directories are left alone
    rather than churned).
    """
    fs, hpath = _hadoop_fs(spark, path)
    jvm = spark.sparkContext._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".__compact_tmp__")
    old = jvm.org.apache.hadoop.fs.Path(path + ".__compact_old__")

    def _committed(p) -> bool:
        return fs.exists(jvm.org.apache.hadoop.fs.Path(str(p), "_SUCCESS"))

    # ---- repair any interrupted previous run, oldest crash window
    # first. States: (a) old && path -> crashed after swap-in, before
    # cleanup: finish the delete. (b) old && !path -> crashed between
    # the two renames: roll forward iff tmp committed, else roll back.
    # (c) stray tmp -> a write that never reached the swap (or one we
    # just rolled forward from); committed-but-unswapped tmp is stale
    # the moment the source dir advances, so it is always deleted.
    if fs.exists(old):
        if fs.exists(hpath):
            fs.delete(old, True)
        elif _committed(tmp):
            fs.rename(tmp, hpath)
            fs.delete(old, True)
        else:
            fs.rename(old, hpath)
    if fs.exists(tmp):
        fs.delete(tmp, True)

    if not fs.exists(hpath):
        raise FileNotFoundError(f"compact_parquet_dir: no such dir {path}")

    statuses = [
        s
        for s in fs.listStatus(hpath)
        if s.isFile() and s.getPath().getName().endswith(".parquet")
    ]
    n_files = len(statuses)
    total = sum(s.getLen() for s in statuses)
    n_out = max(1, -(-total // target_file_bytes))
    stats = {
        "files_before": n_files,
        "bytes_before": total,
        "files_after": n_files,
        "compacted": False,
    }
    if n_files < min_files or n_out >= n_files:
        return stats  # already at/below target shape: don't churn

    (
        spark.read.parquet(path)
        .coalesce(int(n_out))
        .write.mode("overwrite")
        .parquet(str(tmp))
    )
    fs.rename(hpath, old)
    fs.rename(tmp, hpath)
    fs.delete(old, True)
    out = [
        s
        for s in fs.listStatus(hpath)
        if s.isFile() and s.getPath().getName().endswith(".parquet")
    ]
    stats.update(
        files_after=len(out),
        bytes_after=sum(s.getLen() for s in out),
        compacted=True,
    )
    return stats


def compact_partitioned_parquet(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """``compact_parquet_dir`` over every LEAF partition directory of a
    ``partitionBy`` layout (``root/ds=.../``), each compacted and
    swapped independently — a crash mid-sweep leaves every partition
    either fully old or fully new, and the re-run repairs + continues.
    Partition independence is also the scale lever: at 100 TB only the
    recently-written partitions have small files, so routine
    maintenance touches a bounded recent window, never the whole table
    (pass the specific partition dirs through ``compact_parquet_dir``
    directly to pin that window)."""
    fs, hroot = _hadoop_fs(spark, root)
    leaves: list[str] = []

    def walk(p) -> None:
        kids = list(fs.listStatus(p))
        subdirs = [
            k
            for k in kids
            if k.isDirectory()
            # same convention as Spark's file-index hidden-path filter:
            # dot/underscore names are metadata (_spark_metadata, _SUCCESS
            # siblings) UNLESS an underscore-prefixed name contains '=',
            # which marks a partition dir for an underscore-named column
            # (e.g. the dedup band stores' _bkt=K / _pbkt=K leaves).
            # DOT-prefixed paths are always hidden to Spark — a dot-named
            # staging dir containing '=' must never be compacted as data
            and (
                not k.getPath().getName().startswith((".", "_"))
                or (
                    k.getPath().getName().startswith("_")
                    and "=" in k.getPath().getName()
                )
            )
            and ".__compact_" not in k.getPath().getName()
        ]
        if subdirs:
            for k in subdirs:
                walk(k.getPath())
        elif any(
            k.isFile() and k.getPath().getName().endswith(".parquet")
            for k in kids
        ):
            leaves.append(str(p.toUri().getPath()))

    if not fs.exists(hroot):
        raise FileNotFoundError(f"compact_partitioned_parquet: no such dir {root}")
    walk(hroot)
    per = {
        leaf: compact_parquet_dir(spark, leaf, target_file_bytes, min_files)
        for leaf in sorted(leaves)
    }
    return {
        "partitions": len(per),
        "partitions_compacted": sum(1 for s in per.values() if s["compacted"]),
        "files_before": sum(s["files_before"] for s in per.values()),
        "files_after": sum(s["files_after"] for s in per.values()),
        "per_partition": per,
    }


def consolidate_bucket_history(
    spark: SparkSession,
    root: str,
    min_batch_dirs: int = 2,
    shuffle: bool = True,
    defer_reap: bool = False,
) -> dict:
    """History consolidation for bucket-major streaming-store layouts
    (``<root>/<col>=K/batch_id=N/...`` — the r11 dedup band/payload
    stores and list-major IVF postings): merge every bucket's batch
    dirs into ONE (a fresh ``batch_id`` strictly below every existing
    id, so probes' ``batch_id <= bid`` replay filters keep merged
    history visible).

    WHY: per-trigger rolls accumulate ``batch_id`` subdirs inside each
    bucket, so the direct-path probes' touched-subtree listing grows
    with maintenance cycles; consolidation bounds it at one subdir per
    bucket (and subsumes small-file compaction for these stores).

    ONE Spark job, not a per-bucket loop: a bucket-at-a-time rewrite
    is O(store_buckets) driver-sequential jobs — pathological at the
    production B=4096 — so the merge reads the whole store once and
    lands every bucket's merged leaf via dynamic partition overwrite
    (Spark permits self-overwrite under dynamic mode because only the
    freshly-written ``batch_id`` leaves are replaced), then the old
    batch dirs are deleted driver-side (O(dirs) cheap FS calls).
    ``shuffle=True`` repartitions on the bucket column for exactly one
    file per merged leaf; ``shuffle=False`` skips that exchange — the
    input files are already bucket-aligned, so each leaf gets one file
    per scan task that held the bucket's rows (a few, not one) and a
    10 GB-of-arrays store consolidates without spilling a
    wide-row shuffle (measured: the payload store's shingle-array
    shuffle exceeded local scratch at the 20M-doc decade).

    Crash-safe via a PENDING marker, not a swap:
    ``<root>/.__consolidate_pending__`` is created before the merge
    write and removed after the old-dir deletes, so a crash anywhere
    between leaves the marker behind; rows may then exist twice
    (merged leaf + original dirs), which probes tolerate (DISTINCT
    candidate/drop sets, pair-aggregated verify), and the NEXT run
    sees the marker and adds a ``dropDuplicates()`` pass (after
    dropping the ``batch_id`` dir column — the copies differ only
    there) that restores the store bit-exactly: store rows are unique
    by construction (one row per id / per (id, band)), so the dedup
    pass is sound and is paid ONLY on recovery runs, never on the
    routine path. Run between drives (after ``awaitTermination`` all
    landed batches are committed; a committed batch is never replayed,
    so merging cannot collide with a landing)."""
    fs, hroot = _hadoop_fs(spark, root)
    jvm = spark.sparkContext._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(hroot):
        raise FileNotFoundError(
            f"consolidate_bucket_history: no such dir {root}"
        )
    pending = Path(f"{root.rstrip('/')}/.__consolidate_pending__")
    recovering = fs.exists(pending)
    per = {}
    for s in fs.listStatus(hroot):
        n = s.getPath().getName()
        if s.isDirectory() and "=" in n and not n.startswith("."):
            per[n] = [
                int(b.getPath().getName().split("=", 1)[1])
                for b in fs.listStatus(s.getPath())
                if b.isDirectory()
                and b.getPath().getName().startswith("batch_id=")
            ]
    stats = {
        "buckets": len(per),
        "batch_dirs_before": sum(len(v) for v in per.values()),
        "consolidated": False,
        "recovering": recovering,
    }
    if not per or max(len(v) for v in per.values()) < min_batch_dirs:
        if recovering and per:
            # a crash after the deletes had finished all merging work;
            # nothing left to merge — just clear the marker
            fs.delete(pending, False)
            stats["recovering"] = False
        return stats
    bcol = next(iter(per)).split("=", 1)[0]
    v = min(i for ids in per.values() for i in ids) - 1
    # Merge ONLY the fragmented buckets (≥2 batch dirs) — r12: the old
    # whole-store `spark.read.parquet(root)` also read and REWROTE
    # every single-dir bucket, making each firing O(store) regardless
    # of fragmentation; a direct-path read of just the fragmented
    # buckets' subtrees makes the merge IO proportional to the
    # fragmentation the cycle actually has to repair. Single-dir
    # buckets are untouched on disk — they need no merge, and (in the
    # crashed-merge recovery case) can hold no cross-dir duplicates,
    # so the recovery dedup pass loses nothing by not seeing them.
    frag = {name: ids for name, ids in per.items() if len(ids) >= 2}
    if not frag:
        if recovering:
            fs.delete(pending, False)
            stats["recovering"] = False
        return stats
    fs.create(pending, True).close()
    df = spark.read.option("basePath", root.rstrip("/")).parquet(
        *(f"{root.rstrip('/')}/{name}" for name in sorted(frag))
    ).drop("batch_id")
    if recovering:
        # copies from a crashed merge differ only in their (dropped)
        # batch_id dir — collapse them; paid only on recovery runs
        df = df.dropDuplicates()
    if shuffle:
        df = df.repartition(bcol)  # one file per merged bucket leaf
    (
        df.withColumn("batch_id", F.lit(v))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(bcol, "batch_id")
        .parquet(root.rstrip("/"))
    )
    reap = [
        f"{root.rstrip('/')}/{name}/batch_id={i}"
        for name, ids in frag.items()
        for i in ids
    ]
    if defer_reap:
        # r13 deferred reaping (see roll_recent_into_store): the merged
        # leaf + originals coexist — exactly the documented crashed-
        # merge window, which probes tolerate and the recovery path
        # converges from — until the caller reaps at a read-quiesced
        # point. The PENDING marker is reaped LAST, preserving the
        # marker ⇒ possible-duplication invariant throughout.
        stats.update(
            consolidated=True,
            merged_into=v,
            buckets_merged=len(frag),
            deferred_reap=reap + [f"{root.rstrip('/')}/{pending.getName()}"],
        )
        return stats
    for p in reap:
        fs.delete(Path(p), True)
    fs.delete(pending, False)
    stats.update(
        consolidated=True, merged_into=v, buckets_merged=len(frag)
    )
    return stats


def roll_recent_into_store(
    spark: SparkSession,
    root: str,
    bucket_col: str,
    before_batch_id: int | None = None,
    shuffle: bool = True,
    defer_reap: bool = False,
) -> dict:
    """Roll a two-tier streaming store's batch-major RECENT tail
    (``<root>_recent/batch_id=N``, bucket col as a data column) into
    its bucket-major history (``<root>/<bucket_col>=K/batch_id=N``) —
    the maintenance half of the r11 two-tier landing: per-trigger
    landings write ONE cheap batch dir (a dynamic-overwrite landing
    straight into the bucket-major layout was measured at ~17 ms per
    touched partition dir of pure commit cost — ~9 s/trigger at
    B=4096; SCALE.md r11), and this roll pays that per-dir commit once
    per maintenance cycle instead of once per trigger.

    Crash-safe WITHOUT a swap protocol: the bucket-major write lands
    first (dynamic partition overwrite — deterministic (bucket, batch)
    leaves), the rolled batch dirs are deleted after. A crash in
    between leaves rows present in BOTH tiers, which every probe
    tolerates by construction (candidate sets and drop sets are
    DISTINCT, and the Jaccard verify aggregates per pair with
    first()); the re-run rewrites the same leaves and finishes the
    delete, so the operation converges. Run between drives, or
    in-drive from ``foreachBatch`` with ``before_batch_id`` set to the
    in-flight batch id (r12 self-driving maintenance): batches with a
    smaller id are checkpoint-COMMITTED the moment a later batch runs
    — a committed batch is never replayed, so rolling only those keeps
    the original "committed batches only" contract with no new crash
    window, while the in-flight batch stays in the recent tail (which
    also keeps the tail non-empty for the probes' schema inference).
    ``shuffle=False`` skips the per-bucket repartition — same contract
    as ``consolidate_bucket_history``: wide-row payload stores
    (shingle/vector arrays) roll without a spill-prone exchange, at
    the cost of one file per (bucket, batch, scan-task-that-held-
    the-bucket) instead of exactly one. Follow with
    ``consolidate_bucket_history`` to merge the rolled batch dirs."""
    recent = root.rstrip("/") + "_recent"
    fs, hrecent = _hadoop_fs(spark, recent)
    if not fs.exists(hrecent):
        return {"batches_rolled": 0}
    batches = [
        s.getPath()
        for s in fs.listStatus(hrecent)
        if s.isDirectory()
        and s.getPath().getName().startswith("batch_id=")
        and (
            before_batch_id is None
            or int(s.getPath().getName().split("=", 1)[1]) < before_batch_id
        )
    ]
    if not batches:
        return {"batches_rolled": 0}
    # Emptiness gate, DRIVER-SIDE (r13; VERDICT r12 #1/#3): r12
    # removed the `df.count() > 0` pre-gate because it cost one full
    # extra read of the tail per roll — but replacing it with an
    # unconditional write swapped the count job for a WRITE job
    # whenever the tail is empty, and an empty dynamic-overwrite
    # against a root that does not exist yet creates a SCHEMA-LESS
    # root (only _SUCCESS) that any later bare
    # ``spark.read.parquet(root)`` fails schema inference on. The
    # batch dirs are already listed above, so check them for any
    # non-hidden DATA file — pure FS metadata, no Spark job, bounded
    # by the roll cadence.
    def _has_data(p) -> bool:
        return any(
            not s.getPath().getName().startswith(("_", "."))
            for s in fs.listStatus(p)
        )

    if any(_has_data(b) for b in batches):
        hroot = _hadoop_fs(spark, root.rstrip("/"))[1]
        root_existed = fs.exists(hroot)
        # Direct-path read of exactly the batch dirs listed above
        # (r13): the old whole-root read + batch_id filter re-listed
        # every dir and — decisive for the in-drive background
        # maintenance overlap — would also pick up a LATER trigger's
        # in-flight landing dir at file-index time. The listed dirs
        # are committed (< before_batch_id) and stable; basePath keeps
        # batch_id as a column exactly as the pruned read did.
        df = spark.read.option("basePath", recent).parquet(
            *(f"{recent}/{b.getName()}" for b in batches)
        )
        if shuffle:
            # one file per (bucket, batch) leaf
            df = df.repartition(bucket_col)
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(bucket_col, "batch_id")
            .parquet(root.rstrip("/"))
        )
        if not root_existed and not any(
            s.isDirectory() and "=" in s.getPath().getName()
            for s in fs.listStatus(hroot)
        ):
            # data files held 0 rows (e.g. an empty-frame landing):
            # the write created a fresh root holding only _SUCCESS —
            # remove it so the store's "root exists ⇒ readable"
            # contract holds for later bare reads
            fs.delete(hroot, True)
    if defer_reap:
        # r13 deferred reaping: the rolled rows now exist in BOTH
        # tiers — the roll's own documented crash window, which every
        # probe tolerates by construction (DISTINCT candidate/drop
        # sets, countDistinct occupancy, pair-aggregated verify) —
        # until the caller deletes the listed dirs at a point where no
        # concurrent reader can hold them in a pinned file index. This
        # is what lets the in-drive maintenance cycle run on a
        # background thread UNDER live probes (guide §2.6): the cycle
        # only ever ADDS files; the deletes happen between triggers.
        # Paths keep the caller's root form, like
        # consolidate_bucket_history's (not the listing's qualified
        # URIs), so one cycle's reap list has one form.
        return {
            "batches_rolled": len(batches),
            "deferred_reap": [f"{recent}/{b.getName()}" for b in batches],
        }
    for b in batches:
        fs.delete(b, True)
    return {"batches_rolled": len(batches)}

"""Batch/stream duality tests (SURVEY §2.8, §5.3): the same builder run
on a static read and on a file-source stream over the same ingested
directory must produce identical final results — the reference's central
design property (q1:101 vs q2:103: one chain, two sources).

Exercises the full ingest → source → kernel → agg path: S3 (rolling
JSONL writer with atomic tmp→rename), S1 (batch JSON scan, declared
schema), S2 (streaming JSON file source), S5 (complete-mode sink —
memory variant), A5 (streaming agg).
"""

import os

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_twitter_emoji_usage_spark.plans.queries import emoji_by_dimension, top_emojis
from big_data_analysis_of_twitter_emoji_usage_spark.schemas import TWEETS_BASE, TWEETS_MENTIONS
from big_data_analysis_of_twitter_emoji_usage_spark.sources.ingest import RollingJsonlWriter, replay_as_stream_dir
from big_data_analysis_of_twitter_emoji_usage_spark.sources.readers import read_tweets, stream_tweets
from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import run_stream_to_memory, stream_query
from tests.tweet_fixtures import tweets_base, tweets_mentions


def rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def base_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tweetstream_base"))
    n = replay_as_stream_dir(tweets_base(600), d, lines_per_file=100)
    assert n == 600
    return d


def test_ingest_protocol(tmp_path):
    """S3: fixed-size files, atomic rename, no tmp residue, tail flushed."""
    d = str(tmp_path / "stream")
    w = RollingJsonlWriter(d, lines_per_file=50)
    for r in tweets_base(120):
        w.write(r)
    w.roll()
    names = sorted(os.listdir(d))
    assert names == [f"tweetstream-{i:06d}.jsonl" for i in range(3)]
    assert not [n for n in names if n.startswith(".tmp")]
    counts = [sum(1 for _ in open(os.path.join(d, n))) for n in names]
    assert counts == [50, 50, 20]


def test_ingest_resume_skips_foreign_files_and_reaps_tmp(tmp_path):
    """Resume hardening (review find): a foreign file whose middle
    segment is not a pure integer must be skipped (int('old') crashed
    the whole resume scan), and dead '.tmp-*' partials from a crashed
    roll() are reaped at construction (single-writer protocol — nothing
    else ever cleans them up)."""
    d = tmp_path / "stream"
    d.mkdir()
    (d / "tweetstream-000004.jsonl").write_text("{}\n")
    (d / "tweetstream-old.jsonl").write_text("{}\n")   # foreign: skip
    (d / ".tmp-deadbeef").write_text("partial")          # crashed roll
    os.utime(d / ".tmp-deadbeef", (0, 0))                # stale: reaped
    (d / ".tmp-fresh").write_text("inflight")            # young: kept
    w = RollingJsonlWriter(str(d), lines_per_file=10)
    assert not (d / ".tmp-deadbeef").exists()
    assert (d / ".tmp-fresh").exists()  # age gate protects live writers
    w.write({"a": 1})
    w.roll()
    assert (d / "tweetstream-000005.jsonl").exists()  # resumes after 4


def test_batch_stream_equivalence_q1(spark, base_dir):
    batch = read_tweets(spark, base_dir, TWEETS_BASE)
    expected = rows(top_emojis(batch))

    stream = stream_tweets(spark, base_dir, TWEETS_BASE)
    got = rows(
        run_stream_to_memory(spark, top_emojis(stream), "equiv_q1_sink")
    )
    assert got == expected and len(got) > 0


def test_batch_stream_equivalence_q4(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tweetstream_mentions"))
    replay_as_stream_dir(tweets_mentions(600), d, lines_per_file=100)

    batch = read_tweets(spark, d, TWEETS_MENTIONS)
    expected = rows(emoji_by_dimension(batch, "username"))

    stream = stream_tweets(spark, d, TWEETS_MENTIONS)
    got = rows(
        run_stream_to_memory(
            spark, emoji_by_dimension(stream, "username"), "equiv_q4_sink"
        )
    )
    assert got == expected and len(got) > 0


def test_stream_maxfiles_still_converges(spark, base_dir):
    """S2 with maxFilesPerTrigger=2: several micro-batches, same final
    complete-mode result as one big batch."""
    batch = read_tweets(spark, base_dir, TWEETS_BASE)
    expected = rows(top_emojis(batch))
    stream = stream_tweets(spark, base_dir, TWEETS_BASE, max_files_per_trigger=2)
    got = rows(
        run_stream_to_memory(spark, top_emojis(stream), "equiv_maxfiles_sink")
    )
    assert got == expected


def test_console_sink_smoke(spark, base_dir):
    """S5: the reference's console sink shape starts and terminates under
    availableNow (output goes to stdout; we assert clean lifecycle)."""
    stream = stream_tweets(spark, base_dir, TWEETS_BASE)
    q = stream_query(
        top_emojis(stream),
        output_mode="complete",
        fmt="console",
        query_name="console_smoke",
        available_now=True,
    )
    q.awaitTermination()
    assert q.exception() is None


def test_late_file_picked_up(spark, tmp_path_factory):
    """Files appearing after the first batch are processed by the next
    micro-batch — the growing-directory contract the ingester relies on."""
    d = str(tmp_path_factory.mktemp("tweetstream_growing"))
    replay_as_stream_dir(tweets_base(200, seed=1), d, lines_per_file=100)

    stream = stream_tweets(spark, d, TWEETS_BASE)
    agg = top_emojis(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("growing_sink")
        .start()
    )
    try:
        q.processAllAvailable()
        first = sum(r["Count"] for r in spark.table("growing_sink").collect())
        # second tranche lands mid-stream via the same atomic protocol
        replay_as_stream_dir(tweets_base(200, seed=2), d, lines_per_file=100)
        q.processAllAvailable()
        second = sum(r["Count"] for r in spark.table("growing_sink").collect())
    finally:
        q.stop()
    assert second > first > 0


def test_foreachbatch_parquet_sink_equals_batch(spark, sf_dir, tmp_path):
    """The production file-sink path: a multi-micro-batch stream landing
    parquet via foreachBatch must reproduce the batch projection of the
    same source exactly."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import run_stream_to_parquet

    src = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force several micro-batches
        .parquet(src + "*")
        .select("doc_id", F.upper("lang").alias("lang_u"))
    )
    got = run_stream_to_parquet(
        spark, stream, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    want = spark.read.parquet(src).select(
        "doc_id", F.upper("lang").alias("lang_u")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_foreachbatch_sink_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch replays a whole micro-batch on restart (at-least-once
    delivery); the per-batch overwrite directory must absorb the replay —
    including one that follows a PARTIAL first attempt — without
    duplicating or retaining stale rows."""
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import write_batch_idempotent

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    out = str(tmp_path / "out")
    # first attempt dies after writing a partial batch...
    write_batch_idempotent(df.limit(10), 7, out)
    # ...and the restart replays the same batch id in full
    write_batch_idempotent(df, 7, out)
    got = spark.read.parquet(out).drop("batch_id")
    assert got.count() == df.count()


def test_stream_decontaminate_join_equals_batch(spark, sf_dir, tmp_path):
    """r9: join-mode streaming decontamination (foreachBatch) must equal
    the batch decontaminate(strategy='join') over the same files — the
    in-engine path for benchmark suites past the array guard's limit.
    Per-document n-gram aggregation is micro-batch-local (documents
    don't span files), so the equality is exact even with several
    micro-batches in flight."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.safety import decontaminate
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import stream_decontaminate_join

    src = f"{sf_dir}/documents.parquet"
    batch = spark.read.parquet(src).select("doc_id", "text")
    bench = batch.filter(F.col("doc_id") % 17 == 0).select("text")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "*")
        .select("doc_id", "text")
    )
    got = stream_decontaminate_join(
        spark, stream, bench, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    want = decontaminate(batch, bench, strategy="join")
    assert rows(got) == rows(want)


def test_stream_transform_empty_drain_returns_transform_schema(
    spark, sf_dir, tmp_path
):
    """A zero-micro-batch drain of a TRANSFORMING foreachBatch sink must
    return an empty frame with the TRANSFORM's output schema (schema
    derivation over an empty batch — nothing executes), not the raw
    stream's schema."""
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        run_stream_transform_to_parquet,
    )

    src = str(tmp_path / "empty_src")
    os.makedirs(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    got = run_stream_transform_to_parquet(
        spark,
        stream,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        transform=lambda bdf: bdf.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    assert got.columns == ["doc_id", "n"]
    assert got.count() == 0


def test_stream_ivf_postings_survive_compaction_between_drives(
    spark, sf_dir, tmp_path
):
    """The IVF analogue of the banded dedup store's compaction pin:
    drive half the embedding replay into the posting store, roll the
    recent tail into the list-major history and compact it (the nested
    _list=K/batch_id=N leaves are walked), resume the SAME checkpoint
    over the rest — the probe over the drained postings (history ∪
    recent) must equal the probe over a batch-built index against the
    same seed centroids."""
    import shutil

    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        _as_double,
        _flat_replicated_assign,
        cosine_knn_ivf_probe,
        ivf_assignments,
        select_ivf_centroids,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_embeddings_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        compact_partitioned_parquet,
        roll_recent_into_store,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_ivf_index_append,
    )

    staged = _ordered_embeddings_stream_dir(sf_dir)
    parts = sorted(p for p in os.listdir(staged) if p.endswith(".parquet"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    cdir = str(tmp_path / "cent")
    pdir = str(tmp_path / "post")
    seed = spark.read.parquet(os.path.join(staged, parts[0]))
    c, _ = ivf_assignments(seed, select_ivf_centroids(seed, "vec_id", 24))
    c.write.parquet(cdir)

    def drive():
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return stream_ivf_index_append(
            spark,
            stream,
            centroids_dir=cdir,
            postings_dir=pdir,
            checkpoint_dir=str(tmp_path / "ckpt"),
            replication=2,
        )

    for p in parts[:2]:
        shutil.copy2(os.path.join(staged, p), os.path.join(src, p))
    drive()
    assert roll_recent_into_store(spark, pdir, "_list")["batches_rolled"] == 2
    stats = compact_partitioned_parquet(spark, pdir, target_file_bytes=1 << 30)
    assert stats["partitions"] > 2  # nested _list/batch_id leaves walked
    for p in parts[2:]:
        shutil.copy2(os.path.join(staged, p), os.path.join(src, p))
    postings = drive()

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cp = spark.read.parquet(cdir)
    got = sorted(
        tuple(r)
        for r in cosine_knn_ivf_probe(
            cp, postings, queries, k=3, nprobe=8, replication=2
        ).collect()
    )
    e0 = emb.select(
        F.col("vec_id").alias("_id"), _as_double(F.col("embedding")).alias("_v")
    )
    batch_post = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("cv"),
    ).join(
        _flat_replicated_assign(e0, cp, 2).withColumnRenamed(
            "_id", "neighbor_id"
        ),
        "neighbor_id",
    )
    want = sorted(
        tuple(r)
        for r in cosine_knn_ivf_probe(
            cp, batch_post, queries, k=3, nprobe=8, replication=2
        ).collect()
    )
    assert got == want and len(got) == 30


def test_stream_ivf_append_empty_source_returns_empty_postings(
    spark, tmp_path, sf_dir
):
    """ADVICE r9 #1: a first drive over an empty source (no trigger
    ever fires, so neither tier of the list-major store holds data —
    the postings dir has only its layout marker, and no recent tail
    exists) must drain to an empty postings frame with the
    (neighbor_id, cv, _cn, _list) schema instead of raising — the same
    empty-drain contract every sibling drain honors."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        ivf_assignments,
        select_ivf_centroids,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_ivf_index_append,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cdir = str(tmp_path / "cent")
    c, _ = ivf_assignments(emb, select_ivf_centroids(emb, "vec_id", 8))
    c.write.parquet(cdir)
    src = str(tmp_path / "src")
    os.makedirs(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    postings = stream_ivf_index_append(
        spark,
        stream,
        centroids_dir=cdir,
        postings_dir=str(tmp_path / "post"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert postings.columns == ["neighbor_id", "cv", "_cn", "_list"]
    assert postings.count() == 0
    post = str(tmp_path / "post")
    assert [f for f in os.listdir(post) if not f.startswith(".")] == [
        "_layout.json"
    ]
    assert not os.path.exists(post + "_recent")


def test_stream_near_dedup_banded_store_matches_batch_keepers(
    spark, sf_dir, tmp_path
):
    """VERDICT r9 #3: the band-partitioned store layout
    (store_buckets) must be a pure layout change — the drive's keeper
    set equals the batch rule (near_dup_pairs keepers), the bands dir
    is bucket-major
    (_bkt=K top level, one batch_id=N leaf per trigger inside, via
    dynamic partition overwrite), and the probe shape it enables is a
    direct-path read of the touched bucket subtrees only (pinned below
    on the drive's own store; see the operator docstring for why
    neither DPP nor literal-IN pruning is enough)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import near_dup_pairs
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_docs_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_near_dedup_minhash,
    )

    src_dir = _ordered_docs_stream_dir(sf_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    store_dir = str(tmp_path / "store")
    got = stream_near_dedup_minhash(
        spark,
        stream,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_dir=store_dir,
        threshold=0.2,
        store_buckets=16,
    ).select("doc_id")

    docs = load_table(spark, sf_dir, "documents")
    dropped = (
        near_dup_pairs(docs, threshold=0.2)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    want = docs.join(dropped, "doc_id", "left_anti").select("doc_id")
    assert rows(got) == rows(want)
    assert 0 < dropped.count()
    # two-tier layout (r11): per-trigger batches land batch-major in
    # the _recent tails (one cheap dir per trigger); rolling moves
    # them into bucket-major history (_bkt=K top dirs, batch_id=N
    # leaves) and empties the tails
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        roll_recent_into_store,
    )

    bands_dir = store_dir + "_bands"
    recents = sorted(os.listdir(bands_dir + "_recent"))
    assert [d for d in recents if d.startswith("batch_id=")] == [
        f"batch_id={i}" for i in range(4)
    ]
    rolled = roll_recent_into_store(spark, bands_dir, "_bkt")
    assert rolled["batches_rolled"] == 4
    buckets = [d for d in os.listdir(bands_dir) if d.startswith("_bkt=")]
    assert buckets
    bids = set()
    for b in buckets:
        bids |= {
            d
            for d in os.listdir(os.path.join(bands_dir, b))
            if d.startswith("batch_id=")
        }
    assert bids == {f"batch_id={i}" for i in range(4)}
    assert not [
        d
        for d in os.listdir(bands_dir + "_recent")
        if d.startswith("batch_id=")
    ]


def test_stream_near_dedup_banded_probe_reads_touched_subtrees_only(
    spark, sf_dir, tmp_path
):
    """The bucket-major probe's whole point (r11): the band/payload
    reads must touch ONLY the requested buckets' subtrees — no file of
    an untouched bucket may enter the scan's file index (the r10
    batch-major layout pruned the scan bytes with a literal IN but
    still paid a full partition discovery of every bucket dir per
    read). Built exactly as the operator builds it
    (_read_bucket_subtrees) over a store a real drive wrote."""
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_docs_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        _read_bucket_subtrees,
        stream_near_dedup_minhash,
    )

    src_dir = _ordered_docs_stream_dir(sf_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    store_dir = str(tmp_path / "store")
    stream_near_dedup_minhash(
        spark,
        stream,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_dir=store_dir,
        threshold=0.2,
        store_buckets=16,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        roll_recent_into_store,
    )

    bands_dir = store_dir + "_bands"
    roll_recent_into_store(spark, bands_dir, "_bkt")
    existing = sorted(
        int(d.split("=")[1])
        for d in os.listdir(bands_dir)
        if d.startswith("_bkt=")
    )
    assert len(existing) > 2
    touched = existing[:2]
    df = _read_bucket_subtrees(spark, bands_dir, "_bkt", touched + [9999])
    files = df.inputFiles()
    assert files
    assert all(
        any(f"/_bkt={k}/" in f for k in touched) for f in files
    ), files[:3]
    # partition columns recovered from the dir structure, batch_id
    # filterable for the replay read-set
    assert {"_bkt", "batch_id"} <= set(df.columns)
    assert df.filter(F.col("batch_id") <= 3).count() == df.count()
    # a read of NO existing buckets is None (zero-row-batch contract)
    assert _read_bucket_subtrees(spark, bands_dir, "_bkt", [9999]) is None


def test_stream_near_dedup_embedding_banded_matches_batch_keepers(
    spark, sf_dir, tmp_path
):
    """The embedding twin's banded layout: the drained keeper set
    equals the batch sign-LSH keeper rule (embedding_near_dup_pairs)
    at the same operating point."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_embeddings_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_near_dedup_embedding,
    )

    src_dir = _ordered_embeddings_stream_dir(sf_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    store_dir = str(tmp_path / "store")
    got = stream_near_dedup_embedding(
        spark,
        stream,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_dir=store_dir,
        bits=8,
        tables=2,
        threshold=0.3,
        store_buckets=16,
    ).select("vec_id")

    emb = load_table(spark, sf_dir, "embeddings")
    dropped = (
        embedding_near_dup_pairs(emb, threshold=0.3, bits=8, tables=2)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    want = emb.join(dropped, "vec_id", "left_anti").select("vec_id")
    assert rows(got) == rows(want)
    assert 0 < dropped.count()
    # two-tier: triggers land in the recent tail until rolled
    recent = store_dir + "_bands_recent"
    assert (
        len([d for d in os.listdir(recent) if d.startswith("batch_id=")])
        >= 4
    )


def test_stream_near_dedup_banded_store_survives_compaction_between_drives(
    spark, sf_dir, tmp_path
):
    """Compaction survival extended to the banded layout (VERDICT r9
    #3's last clause): drive half the replay with store_buckets set,
    compact BOTH stores (the bands dir's nested _bkt=K/batch_id=N
    leaves are walked by compact_partitioned_parquet), resume the same
    checkpoint over the rest — keeper parity must hold."""
    import shutil

    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import near_dup_pairs
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_docs_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        compact_partitioned_parquet,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_near_dedup_minhash,
    )

    staged = _ordered_docs_stream_dir(sf_dir)
    parts = sorted(p for p in os.listdir(staged) if p.endswith(".parquet"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    store_dir = str(tmp_path / "store")
    kwargs = dict(
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_dir=store_dir,
        threshold=0.2,
        store_buckets=16,
    )

    def drive():
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return stream_near_dedup_minhash(spark, stream, **kwargs)

    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        roll_recent_into_store,
    )

    for p in parts[:2]:
        shutil.copy2(os.path.join(staged, p), os.path.join(src, p))
    drive()
    roll_recent_into_store(spark, store_dir, "_pbkt")
    roll_recent_into_store(spark, store_dir + "_bands", "_bkt")
    stats = compact_partitioned_parquet(spark, store_dir, target_file_bytes=1 << 30)
    # r11: the banded payload store nests batch_id=N/_pbkt=K leaves,
    # so 2 driven batches yield >= 2 leaf partitions (one per touched
    # bucket per batch), all walked and compacted independently
    assert stats["partitions"] >= 2
    bstats = compact_partitioned_parquet(
        spark, store_dir + "_bands", target_file_bytes=1 << 30
    )
    assert bstats["partitions"] > 2  # nested batch_id/_bkt leaves walked
    for p in parts[2:]:
        shutil.copy2(os.path.join(staged, p), os.path.join(src, p))
    got = drive().select("doc_id")

    docs = load_table(spark, sf_dir, "documents")
    dropped = (
        near_dup_pairs(docs, threshold=0.2)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    want = docs.join(dropped, "doc_id", "left_anti").select("doc_id")
    assert rows(got) == rows(want)


def test_store_layout_marker_enforced(spark, sf_dir, tmp_path):
    """ADVICE r10: the store layout is a store-lifetime contract — each
    drive persists the full layout marker on first use (layout
    version, kind, bucket count, and the batch-id watermark) and
    REFUSES (not silently mis-probes) a resume with a different bucket
    count, a store whose marker records an unbanded layout (as older
    engines wrote them), or an unmarked pre-existing store."""
    import json

    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        ivf_assignments,
        select_ivf_centroids,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_docs_stream_dir,
        _ordered_embeddings_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        _STORE_LAYOUT_FILE,
        stream_ivf_index_append,
        stream_near_dedup_embedding,
        stream_near_dedup_minhash,
        write_store_layout_marker,
    )

    def stream(src_dir):
        # the whole 4-file replay in ONE trigger: batch id 0
        return (
            spark.readStream.schema(spark.read.parquet(src_dir).schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(src_dir)
        )

    def marker(store_dir):
        with open(os.path.join(store_dir, _STORE_LAYOUT_FILE)) as fh:
            return json.load(fh)

    def minhash(store_dir, ckpt, **kw):
        return stream_near_dedup_minhash(
            spark,
            stream(_ordered_docs_stream_dir(sf_dir)),
            out_dir=str(tmp_path / f"out{ckpt}"),
            checkpoint_dir=str(tmp_path / f"ckpt{ckpt}"),
            store_dir=store_dir,
            threshold=0.2,
            **kw,
        )

    emb_dir = _ordered_embeddings_stream_dir(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cdir = str(tmp_path / "cent")
    ivf_assignments(emb, select_ivf_centroids(emb, "vec_id", 8))[0].write.parquet(
        cdir
    )

    store_dir = str(tmp_path / "store")
    minhash(store_dir, 0, store_buckets=16)
    emb_store = str(tmp_path / "emb_store")
    stream_near_dedup_embedding(
        spark,
        stream(emb_dir),
        out_dir=str(tmp_path / "out_emb"),
        checkpoint_dir=str(tmp_path / "ckpt_emb"),
        store_dir=emb_store,
        bits=8,
        tables=2,
        threshold=0.3,
        store_buckets=16,
    )
    pdir = str(tmp_path / "post")
    stream_ivf_index_append(
        spark,
        stream(emb_dir),
        centroids_dir=cdir,
        postings_dir=pdir,
        checkpoint_dir=str(tmp_path / "ckpt_ivf"),
    )
    for got, kind, buckets in (
        (marker(store_dir), "minhash", 16),
        (marker(emb_store), "signbucket", 16),
        (marker(pdir), "ivf_postings_list_major", None),
    ):
        # layout version and kind strings are what stores already on
        # disk were marked with: changing them strands those stores
        assert got == {
            "layout_version": 2,
            "kind": kind,
            "store_buckets": buckets,
            "max_batch_id": 0,
        }

    # changed bucket count → refused
    with pytest.raises(ValueError, match="store-lifetime"):
        minhash(store_dir, 1, store_buckets=32)
    # a store marked unbanded (store_buckets None) → refused
    unbanded = str(tmp_path / "unbanded")
    write_store_layout_marker(spark, unbanded, "minhash", None)
    with pytest.raises(ValueError, match="store-lifetime"):
        minhash(unbanded, 2, store_buckets=16)
    # unmarked pre-existing store → refused (cannot verify its layout)
    os.remove(os.path.join(store_dir, _STORE_LAYOUT_FILE))
    with pytest.raises(ValueError, match="no _layout.json"):
        minhash(store_dir, 3, store_buckets=16)
def test_stream_near_dedup_payload_scan_prunes_to_candidate_buckets(
    spark, sf_dir, tmp_path
):
    """VERDICT r10 #2: the verify stage must not scan (or list) the
    full history's payload column per trigger — under the banded
    layout the store lands id-bucketed (_pbkt=K/batch_id=N) and the
    verify's payload read touches only the candidate ids' bucket
    subtrees, built exactly as the operator builds it."""
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_docs_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        _read_bucket_subtrees,
        stream_near_dedup_minhash,
    )

    src_dir = _ordered_docs_stream_dir(sf_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    store_dir = str(tmp_path / "store")
    stream_near_dedup_minhash(
        spark,
        stream,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_dir=store_dir,
        threshold=0.2,
        store_buckets=16,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        roll_recent_into_store,
    )

    # batches land in the recent tail; the roll moves them into the
    # id-bucketed bucket-major history
    roll_recent_into_store(spark, store_dir, "_pbkt")
    pdirs = [d for d in os.listdir(store_dir) if d.startswith("_pbkt=")]
    assert pdirs
    assert any(
        d.startswith("batch_id=")
        for d in os.listdir(os.path.join(store_dir, pdirs[0]))
    )
    # the verify's payload read: direct-path over candidate buckets
    touched = sorted(int(d.split("=")[1]) for d in pdirs)[:3]
    payload = _read_bucket_subtrees(spark, store_dir, "_pbkt", touched)
    files = payload.inputFiles()
    assert files and all(
        any(f"/_pbkt={k}/" in f for k in touched) for f in files
    )
    # and only the shingles payload column is read (column pruning)
    pruned = payload.select("doc_id", "shingles")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    rs = plan[plan.index("ReadSchema"):][:200]
    assert "shingles" in rs and "h0" not in rs


def test_stream_near_dedup_banded_survives_empty_batch(spark, sf_dir, tmp_path):
    """A zero-row micro-batch under the banded two-tier layout lands a
    schema-carrying empty file in the _recent tails and its band
    collect comes back empty — the `if not bkts` guard must land the
    empty keeper set and keep the drive alive, and a later real batch
    must still dedup correctly against the store (the empty recent
    batch contributes no band or payload rows)."""
    import shutil

    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import near_dup_pairs
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_docs_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_near_dedup_minhash,
    )

    staged = _ordered_docs_stream_dir(sf_dir)
    parts = sorted(p for p in os.listdir(staged) if p.endswith(".parquet"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    # an empty (schema-only) file arrives FIRST, then the full replay
    schema = spark.read.parquet(staged).schema
    spark.createDataFrame([], schema).coalesce(1).write.parquet(
        str(tmp_path / "empty")
    )
    empty_part = next(
        p for p in os.listdir(str(tmp_path / "empty")) if p.endswith(".parquet")
    )
    shutil.copy2(
        os.path.join(str(tmp_path / "empty"), empty_part),
        os.path.join(src, "0000_empty.parquet"),
    )
    for p in parts:
        shutil.copy2(os.path.join(staged, p), os.path.join(src, p))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = stream_near_dedup_minhash(
        spark,
        stream,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_dir=str(tmp_path / "store"),
        threshold=0.2,
        store_buckets=16,
    ).select("doc_id")

    docs = load_table(spark, sf_dir, "documents")
    dropped = (
        near_dup_pairs(docs, threshold=0.2)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    want = docs.join(dropped, "doc_id", "left_anti").select("doc_id")
    assert rows(got) == rows(want)


def test_stream_ivf_list_major_probeable_by_probe_dir(
    spark, sf_dir, tmp_path
):
    """r11 list-major streamed index: stream_ivf_index_append lands
    postings batch-major in the recent tail, rolled into
    _list=K/batch_id=N history (dynamic partition overwrite), so the
    accumulated streamed index is directly probeable by
    cosine_knn_ivf_probe_dir before and after the roll — result equal to
    the in-memory probe over the drained postings, layout marker
    enforced (a store whose marker records the flat postings layout
    older engines wrote is refused)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        cosine_knn_ivf_probe,
        cosine_knn_ivf_probe_dir,
        ivf_assignments,
        select_ivf_centroids,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_embeddings_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_ivf_index_append,
        write_store_layout_marker,
    )

    staged = _ordered_embeddings_stream_dir(sf_dir)
    cdir = str(tmp_path / "cent")
    pdir = str(tmp_path / "post")
    emb = load_table(spark, sf_dir, "embeddings")
    c, _ = ivf_assignments(emb, select_ivf_centroids(emb, "vec_id", 24))
    c.write.parquet(cdir)
    schema = spark.read.parquet(staged).schema

    def drive(postings_dir):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        return stream_ivf_index_append(
            spark,
            stream,
            centroids_dir=cdir,
            postings_dir=postings_dir,
            checkpoint_dir=str(tmp_path / "ckpt"),
            replication=2,
        )

    postings = drive(pdir)
    # two-tier layout: triggers land batch-major in the recent tail
    recents = [
        d
        for d in os.listdir(pdir + "_recent")
        if d.startswith("batch_id=")
    ]
    assert len(recents) == 4
    queries = emb.filter(F.col("vec_id") < 10)
    want = sorted(
        tuple(r)
        for r in cosine_knn_ivf_probe(
            spark.read.parquet(cdir), postings, queries, k=3, nprobe=8
        ).collect()
    )
    # probe_dir PRE-roll: history tier empty, recent tail carries all
    got = sorted(
        tuple(r)
        for r in cosine_knn_ivf_probe_dir(
            spark, cdir, pdir, queries, k=3, nprobe=8
        ).collect()
    )
    assert got == want and len(got) == 30
    # maintenance: roll + consolidate -> _list=K/batch_id=N history,
    # empty recent tail; probe_dir result unchanged
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        consolidate_bucket_history,
        roll_recent_into_store,
    )

    assert roll_recent_into_store(spark, pdir, "_list")["batches_rolled"] == 4
    consolidate_bucket_history(spark, pdir)
    ldirs = [d for d in os.listdir(pdir) if d.startswith("_list=")]
    assert ldirs
    assert not [
        d
        for d in os.listdir(pdir + "_recent")
        if d.startswith("batch_id=")
    ]
    got2 = sorted(
        tuple(r)
        for r in cosine_knn_ivf_probe_dir(
            spark, cdir, pdir, queries, k=3, nprobe=8
        ).collect()
    )
    assert got2 == want
    # layout is a store-lifetime contract: a flat postings store
    # (marker kind "ivf_postings") is refused
    flat = str(tmp_path / "flat_post")
    write_store_layout_marker(spark, flat, "ivf_postings", None)
    with pytest.raises(ValueError, match="store-lifetime"):
        drive(flat)


def test_consolidate_bucket_history_between_drives(spark, sf_dir, tmp_path):
    """r11 maintenance op for the bucket-major stores: merging every
    bucket's per-trigger batch_id dirs into one (named by the smallest
    merged id) must leave probes correct — drive half the replay,
    consolidate BOTH stores, resume the same checkpoint over the rest,
    keeper parity holds; merged buckets have exactly one batch dir and
    a second consolidation is a no-op."""
    import shutil

    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import near_dup_pairs
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_docs_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        consolidate_bucket_history,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_near_dedup_minhash,
    )

    staged = _ordered_docs_stream_dir(sf_dir)
    parts = sorted(p for p in os.listdir(staged) if p.endswith(".parquet"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    store_dir = str(tmp_path / "store")
    kwargs = dict(
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_dir=store_dir,
        threshold=0.2,
        store_buckets=16,
    )

    def drive():
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return stream_near_dedup_minhash(spark, stream, **kwargs)

    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        roll_recent_into_store,
    )

    for p in parts[:2]:
        shutil.copy2(os.path.join(staged, p), os.path.join(src, p))
    drive()
    for root, col in ((store_dir, "_pbkt"), (store_dir + "_bands", "_bkt")):
        assert roll_recent_into_store(spark, root, col)["batches_rolled"] == 2
        stats = consolidate_bucket_history(spark, root)
        assert stats["consolidated"] is True
        for b in os.listdir(root):
            if "=" in b and not b.startswith("."):
                bids = [
                    d
                    for d in os.listdir(os.path.join(root, b))
                    if d.startswith("batch_id=")
                ]
                assert len(bids) == 1, (b, bids)
        # idempotent: nothing left to merge
        again = consolidate_bucket_history(spark, root)
        assert again["consolidated"] is False
    for p in parts[2:]:
        shutil.copy2(os.path.join(staged, p), os.path.join(src, p))
    got = drive().select("doc_id")

    docs = load_table(spark, sf_dir, "documents")
    dropped = (
        near_dup_pairs(docs, threshold=0.2)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    want = docs.join(dropped, "doc_id", "left_anti").select("doc_id")
    assert rows(got) == rows(want)


def test_consolidate_bucket_history_crash_window_converges(
    spark, sf_dir, tmp_path
):
    """The one-job merge's crash window (merged leaf written, old
    batch dirs not yet deleted) leaves every row present twice; the
    re-run must converge to the exact no-crash store — store rows are
    unique by construction, so the merge's dropDuplicates collapses
    the copies."""
    import shutil

    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_docs_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        consolidate_bucket_history,
        roll_recent_into_store,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_near_dedup_minhash,
    )

    staged = _ordered_docs_stream_dir(sf_dir)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for p in sorted(os.listdir(staged)):
        if p.endswith(".parquet"):
            shutil.copy2(os.path.join(staged, p), os.path.join(src, p))
    store_dir = str(tmp_path / "store")
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_near_dedup_minhash(
        spark,
        stream,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_dir=store_dir,
        threshold=0.2,
        store_buckets=16,
    )
    bands = store_dir + "_bands"
    roll_recent_into_store(spark, bands, "_bkt")
    want = sorted(
        map(tuple, spark.read.parquet(bands).drop("_bkt", "batch_id").collect())
    )
    consolidate_bucket_history(spark, bands)
    # simulate the crash window: the merged leaf AND a stale copy of it
    # under the old batch id coexist (every merged row present twice),
    # and the pending marker — created BEFORE any merge write, removed
    # only after the old-dir deletes — is still on disk
    bucket = next(b for b in os.listdir(bands) if b.startswith("_bkt="))
    merged = next(
        d
        for d in os.listdir(os.path.join(bands, bucket))
        if d.startswith("batch_id=")
    )
    shutil.copytree(
        os.path.join(bands, bucket, merged),
        os.path.join(bands, bucket, "batch_id=3"),
    )
    open(os.path.join(bands, ".__consolidate_pending__"), "w").close()
    dup = sorted(
        map(tuple, spark.read.parquet(bands).drop("_bkt", "batch_id").collect())
    )
    assert len(dup) > len(want)  # the window is visible...
    stats = consolidate_bucket_history(spark, bands)
    assert stats["consolidated"] is True and stats["recovering"] is True
    got = sorted(
        map(tuple, spark.read.parquet(bands).drop("_bkt", "batch_id").collect())
    )
    assert got == want  # ...and the re-run converges exactly
    assert not os.path.exists(os.path.join(bands, ".__consolidate_pending__"))
    # routine (non-recovery) runs never pay the dedup pass
    again = consolidate_bucket_history(spark, bands)
    assert again["recovering"] is False


def test_stream_ivf_list_major_post_roll_resume_keeps_history(
    spark, sf_dir, tmp_path
):
    """Review find (r11): after the maintenance roll empties the
    recent tail, a resume over an already-drained source (zero new
    triggers) must return the _list=K history — the empty recent dir
    must not funnel into the empty-source fallback and silently
    discard the index."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        ivf_assignments,
        select_ivf_centroids,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_embeddings_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        roll_recent_into_store,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_ivf_index_append,
    )

    staged = _ordered_embeddings_stream_dir(sf_dir)
    cdir = str(tmp_path / "cent")
    pdir = str(tmp_path / "post")
    emb = load_table(spark, sf_dir, "embeddings")
    c, _ = ivf_assignments(emb, select_ivf_centroids(emb, "vec_id", 8))
    c.write.parquet(cdir)
    schema = spark.read.parquet(staged).schema

    def drive():
        stream = spark.readStream.schema(schema).parquet(staged)
        return stream_ivf_index_append(
            spark,
            stream,
            centroids_dir=cdir,
            postings_dir=pdir,
            checkpoint_dir=str(tmp_path / "ckpt"),
            replication=2,
        )

    n = drive().count()
    assert n > 0
    roll_recent_into_store(spark, pdir, "_list")
    # resume with nothing new to process: the drained postings must be
    # the full rolled history, not an empty frame
    again = drive()
    assert again.count() == n
    assert set(again.columns) == {"neighbor_id", "cv", "_cn", "_list"}


def _stage_ordered_files(pdf_chunks, src: str) -> None:
    """Write pandas chunks as sequenced-mtime parquet files (the
    ordered-replay contract: oldest mtime first == id order)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src, exist_ok=True)
    base = 1_700_000_000
    for i, pdf in enumerate(pdf_chunks):
        p = os.path.join(src, f"part-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), p)
        os.utime(p, (base + i * 10, base + i * 10))


def test_stream_near_dedup_in_drive_maintenance_keeper_parity(
    spark, sf_dir, tmp_path
):
    """VERDICT r11 #3: maintain_every runs roll + threshold-gated
    consolidation IN-DRIVE from foreachBatch — keeper parity with the
    batch rule must hold across the mid-drive maintenance cycles, the
    layout invariants must hold at drain (recent tails hold only the
    not-yet-rolled trailing batch; consolidated buckets hold the
    merged leaf), and a RESUME over later arrivals against the
    maintained store must stay batch-exact."""
    import shutil

    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import near_dup_pairs
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_docs_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_near_dedup_minhash,
    )

    staged = _ordered_docs_stream_dir(sf_dir)
    parts = sorted(p for p in os.listdir(staged) if p.endswith(".parquet"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    store_dir = str(tmp_path / "store")
    bands_dir = store_dir + "_bands"
    kwargs = dict(
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_dir=store_dir,
        threshold=0.2,
        store_buckets=16,
        maintain_every=2,
        consolidate_min_batch_dirs=2,
    )

    def drive():
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return stream_near_dedup_minhash(spark, stream, **kwargs)

    for p in parts[:3]:
        shutil.copy2(os.path.join(staged, p), os.path.join(src, p))
    drive()
    # maintenance fired after batch 1 (rolled batch 0; consolidation
    # early-returns at 1 dir/bucket): history exists, recent tails hold
    # only the not-yet-rolled batches 1 and 2
    recents = {
        d
        for d in os.listdir(bands_dir + "_recent")
        if d.startswith("batch_id=")
    }
    assert recents == {"batch_id=1", "batch_id=2"}
    assert [d for d in os.listdir(bands_dir) if d.startswith("_bkt=")]

    # resume over the remaining file: the cadence counter is per-drive
    # (in-memory), so the single batch 3 lands without a fire — keeper
    # parity against the maintained store is the contract either way
    for p in parts[3:]:
        shutil.copy2(os.path.join(staged, p), os.path.join(src, p))
    got = drive().select("doc_id")

    docs = load_table(spark, sf_dir, "documents")
    dropped = (
        near_dup_pairs(docs, threshold=0.2)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    want = docs.join(dropped, "doc_id", "left_anti").select("doc_id")
    assert rows(got) == rows(want)


def test_stream_near_dedup_in_drive_consolidation_layout(
    spark, sf_dir, tmp_path
):
    """The consolidation half of in-drive maintenance: with a 2-dir
    threshold and 4 batches, the second maintenance fire (after batch
    3) merges the rolled history into one batch_id=-1 leaf per bucket;
    the recent tails keep only the in-flight batch 3. Keeper parity is
    pinned by the sibling test — this one pins the LAYOUT the next
    probe pays for."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import near_dup_pairs
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_docs_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_near_dedup_minhash,
    )

    src_dir = _ordered_docs_stream_dir(sf_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    store_dir = str(tmp_path / "store")
    bands_dir = store_dir + "_bands"
    got = stream_near_dedup_minhash(
        spark,
        stream,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_dir=store_dir,
        threshold=0.2,
        store_buckets=16,
        maintain_every=2,
        consolidate_min_batch_dirs=2,
    ).select("doc_id")
    # fire 1 (after batch 1): rolls batch 0, consolidate no-ops (1 dir)
    # fire 2 (after batch 3): rolls batches 1-2, consolidate merges
    # {0, 1, 2} -> batch_id=-1 in every touched bucket
    for root, prefix in ((bands_dir, "_bkt="), (store_dir, "_pbkt=")):
        recents = {
            d
            for d in os.listdir(root + "_recent")
            if d.startswith("batch_id=")
        }
        assert recents == {"batch_id=3"}, (root, recents)
        buckets = [d for d in os.listdir(root) if d.startswith(prefix)]
        assert buckets
        for b in buckets:
            leaves = {
                d
                for d in os.listdir(os.path.join(root, b))
                if d.startswith("batch_id=")
            }
            assert leaves == {"batch_id=-1"}, (root, b, leaves)
    # and the drained keeper set is still the batch rule
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    dropped = (
        near_dup_pairs(docs, threshold=0.2)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    want = docs.join(dropped, "doc_id", "left_anti").select("doc_id")
    assert rows(got) == rows(want)


def test_stream_near_dedup_crash_replay_across_in_drive_roll(
    spark, sf_dir, tmp_path
):
    """Crash-window extension across an in-drive roll (VERDICT r11 #3's
    done-criterion): drive with maintenance on, then simulate a crash
    AFTER the last batch's work (including its maintenance roll) but
    BEFORE its checkpoint commit — by deleting the newest commit file —
    and resume over more arrivals. The replayed batch re-lands its own
    dirs idempotently against the already-rolled store and the final
    keeper set still equals the batch rule."""
    import shutil

    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import near_dup_pairs
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_docs_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_near_dedup_minhash,
    )

    staged = _ordered_docs_stream_dir(sf_dir)
    parts = sorted(p for p in os.listdir(staged) if p.endswith(".parquet"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    kwargs = dict(
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=ckpt,
        store_dir=str(tmp_path / "store"),
        threshold=0.2,
        store_buckets=16,
        maintain_every=2,
        consolidate_min_batch_dirs=2,
    )

    def drive():
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return stream_near_dedup_minhash(spark, stream, **kwargs)

    for p in parts[:2]:
        shutil.copy2(os.path.join(staged, p), os.path.join(src, p))
    drive()  # batches 0-1; maintenance fired after batch 1 (rolled 0)
    commits = sorted(
        c
        for c in os.listdir(os.path.join(ckpt, "commits"))
        if not c.startswith(".")
    )
    # "crash": the newest commit never landed (its checksum sidecar
    # goes too — a real crash writes neither)
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    for p in parts[2:]:
        shutil.copy2(os.path.join(staged, p), os.path.join(src, p))
    got = drive().select("doc_id")  # replays batch 1, then 2-3

    docs = load_table(spark, sf_dir, "documents")
    dropped = (
        near_dup_pairs(docs, threshold=0.2)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    want = docs.join(dropped, "doc_id", "left_anti").select("doc_id")
    assert rows(got) == rows(want)


def _template_docs_pdf(n_template: int, ids, texts):
    """pandas docs frame: ids < n_template share ONE boilerplate text
    (a degenerate (band, sig) group), the rest keep distinct texts."""
    import pandas as pd

    tpl = (
        "standard site header navigation home about contact copyright"
        " notice all rights reserved terms of service privacy policy"
    )
    return pd.DataFrame(
        {
            "doc_id": list(ids),
            "text": [tpl if i < n_template else t for i, t in zip(ids, texts)],
        }
    )


def test_stream_near_dedup_hot_band_backstop_parity(spark, sf_dir, tmp_path):
    """VERDICT r11 #4: max_bucket on the streaming drive = the batch
    operator's corpus-global (band, sig)-occupancy guard. With a
    template group that is hot FROM ITS FIRST BATCH (all members in
    file 1), the as-of-each-trigger guard and the batch corpus-global
    guard agree exactly: the drained keeper set equals
    near_dup_pairs(corpus, max_bucket=cap)'s keeper rule — and the
    guard demonstrably ENGAGES (without it the template docs are
    dropped as Jaccard-1 dups; with it they all survive and the
    degenerate group never fans out a probe join)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import near_dup_pairs
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_near_dedup_minhash,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .toPandas()
    )
    n_template, cap = 24, 12
    pdf = _template_docs_pdf(n_template, docs["doc_id"], docs["text"])
    chunk = (len(pdf) + 3) // 4
    src = str(tmp_path / "src")
    _stage_ordered_files(
        [pdf.iloc[i * chunk : (i + 1) * chunk] for i in range(4)], src
    )
    corpus = spark.createDataFrame(pdf)

    def drive(tag, max_bucket):
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return stream_near_dedup_minhash(
            spark,
            stream,
            out_dir=str(tmp_path / f"out{tag}"),
            checkpoint_dir=str(tmp_path / f"ckpt{tag}"),
            store_dir=str(tmp_path / f"store{tag}"),
            threshold=0.2,
            store_buckets=16,
            max_bucket=max_bucket,
        ).select("doc_id")

    got = drive("g", cap)
    dropped = (
        near_dup_pairs(corpus, threshold=0.2, max_bucket=cap)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    want = corpus.join(dropped, "doc_id", "left_anti").select("doc_id")
    assert rows(got) == rows(want)
    # the guard ENGAGED: all template docs kept (their groups exceed
    # the cap), whereas the unguarded drive drops all but the first
    kept_ids = {r[0] for r in got.collect()}
    assert set(range(n_template)) <= kept_ids
    unguarded = drive("u", None)
    kept_u = {r[0] for r in unguarded.collect()}
    assert kept_u & set(range(n_template)) == {0}
    assert len(kept_u) < len(kept_ids)


def test_stream_near_dedup_hot_band_prefix_rule(spark, tmp_path):
    """The one inherent online-guard caveat, pinned as a CONTRACT: a
    group that crosses the cap mid-stream produced drops while small —
    each a correct application of the batch rule to that trigger's
    prefix corpus — and produces none after. The drained keeper set
    must equal the per-prefix batch rule: doc in batch b is dropped
    iff near_dup_pairs(prefix_b, max_bucket) drops it."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import near_dup_pairs
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_near_dedup_minhash,
    )

    # 3 batches of 4 template docs each (+ distinct filler): the
    # template group has occupancy 4 <= cap 6 in batch 0 (drops
    # happen), crosses the cap at batch 1 (8 > 6 — no new drops)
    ids = list(range(12))
    texts = [f"unique filler document number {i} with distinct words {i}" for i in ids]
    pdf = _template_docs_pdf(12, ids, texts)  # ALL template
    import pandas as pd

    filler = pd.DataFrame(
        {
            "doc_id": [100 + i for i in ids],
            "text": [
                f"completely different text {i} nothing shared here at all {i * 7}"
                for i in ids
            ],
        }
    )
    pdf = (
        pd.concat(
            [
                pd.concat([pdf.iloc[b * 4 : (b + 1) * 4], filler.iloc[b * 4 : (b + 1) * 4]])
                for b in range(3)
            ]
        )
        .reset_index(drop=True)
    )
    chunks = [pdf.iloc[b * 8 : (b + 1) * 8] for b in range(3)]
    src = str(tmp_path / "src")
    _stage_ordered_files(chunks, src)
    cap = 6

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = stream_near_dedup_minhash(
        spark,
        stream,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_dir=str(tmp_path / "store"),
        threshold=0.2,
        store_buckets=16,
        max_bucket=cap,
    ).select("doc_id")

    # expected: per-prefix batch rule
    expected_dropped: set = set()
    for b in range(3):
        prefix = spark.createDataFrame(pd.concat(chunks[: b + 1]))
        batch_ids = set(chunks[b]["doc_id"])
        pairs = near_dup_pairs(prefix, threshold=0.2, max_bucket=cap)
        expected_dropped |= {
            r[0]
            for r in pairs.select("id_b").distinct().collect()
            if r[0] in batch_ids
        }
    # batch 0's template docs (ids 1-3) dropped while the group was
    # small; later template docs survive (group hot) — the caveat is
    # real, and exactly the per-prefix rule
    assert expected_dropped >= {1, 2, 3}
    assert not (expected_dropped & {4, 5, 6, 7, 8, 9, 10, 11})
    want = set(pdf["doc_id"]) - expected_dropped
    assert {r[0] for r in got.collect()} == want


def test_stream_near_dedup_embedding_hot_bucket_backstop(spark, tmp_path):
    """The embedding twin's r12 backstop: identical vectors share every
    (table, bucket) code — a degenerate bucket hot from batch 1. With
    max_bucket below the group size the drained keeper set equals
    similarity.embedding_near_dup_pairs(max_bucket=cap)'s keeper rule
    and the twins are all kept."""
    import numpy as np
    import pandas as pd

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_near_dedup_embedding,
    )

    rng = np.random.RandomState(20260815)
    n_template, cap, dim = 20, 10, 32
    tpl = rng.randn(dim)
    vecs = [tpl.copy() for _ in range(n_template)] + [
        rng.randn(dim) for _ in range(60)
    ]
    pdf = pd.DataFrame(
        {
            "vec_id": list(range(len(vecs))),
            "embedding": [[float(x) for x in v] for v in vecs],
        }
    )
    src = str(tmp_path / "src")
    chunk = (len(pdf) + 3) // 4
    _stage_ordered_files(
        [pdf.iloc[i * chunk : (i + 1) * chunk] for i in range(4)], src
    )
    corpus = spark.createDataFrame(pdf)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = stream_near_dedup_embedding(
        spark,
        stream,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_dir=str(tmp_path / "store"),
        bits=8,
        tables=2,
        threshold=0.3,
        store_buckets=16,
        max_bucket=cap,
    ).select("vec_id")

    dropped = (
        embedding_near_dup_pairs(
            corpus, bits=8, tables=2, threshold=0.3, max_bucket=cap
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    want = corpus.join(dropped, "vec_id", "left_anti").select("vec_id")
    assert rows(got) == rows(want)
    kept = {r[0] for r in got.collect()}
    assert set(range(n_template)) <= kept  # the guard engaged


def test_fresh_checkpoint_refused_on_landed_store(spark, sf_dir, tmp_path):
    """ADVICE r11 #4, the strong fix: _layout.json records a
    max_batch_id watermark; a drive whose checkpoint has no commits
    against a store with landed batches is REFUSED (a recreated
    checkpoint restarts batch ids at 0 and would silently overwrite
    surviving history leaves). Batch-seeded stores (marker without the
    watermark) still accept a fresh checkpoint."""
    import json as _json

    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_docs_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        _STORE_LAYOUT_FILE,
        stream_near_dedup_minhash,
        write_store_layout_marker,
    )

    src_dir = _ordered_docs_stream_dir(sf_dir)
    schema = spark.read.parquet(src_dir).schema
    store_dir = str(tmp_path / "store")

    def drive(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src_dir)
        )
        return stream_near_dedup_minhash(
            spark,
            stream,
            out_dir=str(tmp_path / f"out{ckpt}"),
            checkpoint_dir=str(tmp_path / f"ckpt{ckpt}"),
            store_dir=store_dir,
            threshold=0.2,
            store_buckets=16,
        )

    drive(0)
    marker = _json.load(open(os.path.join(store_dir, _STORE_LAYOUT_FILE)))
    assert marker["max_batch_id"] == 1  # 4 files / 2 per trigger
    # a SECOND drive with a FRESH checkpoint: refused
    with pytest.raises(ValueError, match="fresh"):
        drive(1)
    # resuming the ORIGINAL checkpoint: fine (no new files -> no-op)
    assert drive(0) is not None
    # batch-seeded marker (no watermark): fresh checkpoints accepted
    seeded = str(tmp_path / "seeded")
    os.makedirs(seeded)
    write_store_layout_marker(spark, seeded, "minhash", 16)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
    )
    out = stream_near_dedup_minhash(
        spark,
        stream,
        out_dir=str(tmp_path / "out_seeded"),
        checkpoint_dir=str(tmp_path / "ckpt_seeded"),
        store_dir=seeded,
        threshold=0.2,
        store_buckets=16,
    )
    assert out.count() > 0


def test_layout_marker_atomic_write_crash_windows(spark, sf_dir, tmp_path):
    """r12 review finds: the per-trigger watermark rewrite must be
    atomic. Crash windows of the tmp-then-rename protocol: (a) marker
    truncated but a complete .tmp exists -> the reader rolls forward
    and the drive resumes; (b) marker deleted, complete .tmp -> same;
    (c) marker corrupt with no tmp -> explicit ValueError with rebuild
    guidance, not a bare JSONDecodeError."""
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_docs_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        _STORE_LAYOUT_FILE,
        _read_store_layout_marker,
        stream_near_dedup_minhash,
    )

    src_dir = _ordered_docs_stream_dir(sf_dir)
    schema = spark.read.parquet(src_dir).schema
    store_dir = str(tmp_path / "store")

    def drive(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src_dir)
        )
        return stream_near_dedup_minhash(
            spark,
            stream,
            out_dir=str(tmp_path / f"out{ckpt}"),
            checkpoint_dir=str(tmp_path / f"ckpt{ckpt}"),
            store_dir=store_dir,
            threshold=0.2,
            store_buckets=16,
        )

    drive(0)
    marker = os.path.join(store_dir, _STORE_LAYOUT_FILE)
    good = open(marker).read()

    def _scrub_crc():
        # hand-editing marker files desyncs Hadoop's local-FS .crc
        # sidecars — remove them so the simulated corruption is
        # content-level, not a ChecksumException
        for n in (_STORE_LAYOUT_FILE, _STORE_LAYOUT_FILE + ".tmp"):
            crc = os.path.join(store_dir, f".{n}.crc")
            if os.path.exists(crc):
                os.remove(crc)

    # (a) truncated marker + complete tmp -> rolled forward
    with open(marker + ".tmp", "w") as fh:
        fh.write(good)
    with open(marker, "w") as fh:
        fh.write(good[: len(good) // 2])
    _scrub_crc()
    got = _read_store_layout_marker(spark, store_dir)
    assert got["max_batch_id"] == 1
    assert not os.path.exists(marker + ".tmp")  # repaired in place
    assert open(marker).read() == good

    # (b) marker missing + complete tmp -> rolled forward
    os.rename(marker, marker + ".tmp")
    _scrub_crc()
    got = _read_store_layout_marker(spark, store_dir)
    assert got["max_batch_id"] == 1
    assert os.path.exists(marker)

    # (c) corrupt marker, incomplete tmp -> explicit guidance
    with open(marker, "w") as fh:
        fh.write("{ not json")
    with open(marker + ".tmp", "w") as fh:
        fh.write("{ also not")
    _scrub_crc()
    with pytest.raises(ValueError, match="undecodable"):
        _read_store_layout_marker(spark, store_dir)
    # restore and prove the drive still resumes
    with open(marker, "w") as fh:
        fh.write(good)
    _scrub_crc()
    assert drive(0) is not None


def test_crashed_before_first_commit_resume_not_bricked(
    spark, sf_dir, tmp_path
):
    """r12 review find: the fresh-checkpoint gate keys on offsets/,
    not commits/ — a drive that crashed after its batch's work (and
    the marker watermark) landed but before ANY commit file has
    offsets and is the legitimate idempotent resume; gating on
    commits/ would refuse exactly the path the error message
    recommends."""
    import shutil

    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import near_dup_pairs
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_docs_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        _checkpoint_is_fresh,
        stream_near_dedup_minhash,
    )

    src_dir = _ordered_docs_stream_dir(sf_dir)
    schema = spark.read.parquet(src_dir).schema
    ckpt = str(tmp_path / "ckpt")

    def drive():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        return stream_near_dedup_minhash(
            spark,
            stream,
            out_dir=str(tmp_path / "out"),
            checkpoint_dir=ckpt,
            store_dir=str(tmp_path / "store"),
            threshold=0.2,
            store_buckets=16,
        )

    drive()
    # simulate "crashed before any commit": offsets survive, commits
    # gone — every batch's work and the marker watermark are on disk
    shutil.rmtree(os.path.join(ckpt, "commits"))
    assert not _checkpoint_is_fresh(spark, ckpt)  # offsets exist
    got = drive().select("doc_id")  # replays all batches idempotently

    docs = load_table(spark, sf_dir, "documents")
    dropped = (
        near_dup_pairs(docs, threshold=0.2)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    want = docs.join(dropped, "doc_id", "left_anti").select("doc_id")
    assert rows(got) == rows(want)
    # and a genuinely fresh checkpoint IS still refused
    with pytest.raises(ValueError, match="fresh"):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        stream_near_dedup_minhash(
            spark,
            stream,
            out_dir=str(tmp_path / "out2"),
            checkpoint_dir=str(tmp_path / "ckpt2"),
            store_dir=str(tmp_path / "store"),
            threshold=0.2,
            store_buckets=16,
        )


def test_hot_band_guard_is_duplication_robust(spark, tmp_path):
    """r12 review find: the occupancy guard counts DISTINCT ids, so
    the store crash windows' legal cross-tier row duplication cannot
    inflate a group past the cap and silently suppress honest drops.
    Simulated crash: a rolled recent batch dir is restored after the
    roll (rows in both tiers), then the drive resumes — a template
    group with true occupancy under the cap must still produce its
    drops (a raw row count would see 2x and guard it away)."""
    import shutil

    import pandas as pd

    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import near_dup_pairs
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        roll_recent_into_store,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_near_dedup_minhash,
    )

    # 8 template docs (group occupancy 8 <= cap 12) + filler, 2 files
    ids = list(range(8))
    pdf1 = _template_docs_pdf(8, ids, [""] * 8)
    pdf2 = pd.DataFrame(
        {
            "doc_id": [100 + i for i in range(8)]
            + [200 + i for i in range(4)],
            "text": [
                f"filler text number {i} with its own words {i * 3}"
                for i in range(8)
            ]
            # four MORE template docs arriving in batch 2: with true
            # occupancy 12 <= cap they must be dropped as Jaccard-1
            # dups of batch 1's templates
            + [
                "standard site header navigation home about contact"
                " copyright notice all rights reserved terms of service"
                " privacy policy"
            ]
            * 4,
        }
    )
    pdf2.loc[pdf2.index[-4:], "doc_id"] = [300, 301, 302, 303]
    src = str(tmp_path / "src")
    _stage_ordered_files([pdf1, pdf2], src)
    store_dir = str(tmp_path / "store")
    kwargs = dict(
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_dir=store_dir,
        threshold=0.2,
        store_buckets=16,
        max_bucket=12,
    )

    def drive():
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return stream_near_dedup_minhash(spark, stream, **kwargs)

    # batch 1 only (hide file 2), then a CRASHED roll: history gets the
    # rows, the recent dirs come back (both tiers populated)
    f2 = os.path.join(src, "part-0001.parquet")
    hidden = str(tmp_path / "hidden.parquet")
    os.rename(f2, hidden)
    drive()
    bands_dir = store_dir + "_bands"
    saved = str(tmp_path / "saved_bands_recent")
    shutil.copytree(bands_dir + "_recent", saved)
    roll_recent_into_store(spark, bands_dir, "_bkt")
    roll_recent_into_store(spark, store_dir, "_pbkt")
    shutil.rmtree(bands_dir + "_recent")
    shutil.copytree(saved, bands_dir + "_recent")  # rows in BOTH tiers
    os.rename(hidden, f2)
    got = drive().select("doc_id")

    # expected: the batch rule over the full corpus at the same cap —
    # template group's final occupancy 12 <= 12, so templates 1..7 and
    # 300..303 are dropped; raw double-counting (16 > 12) would keep
    # them all
    corpus = spark.createDataFrame(pd.concat([pdf1, pdf2]))
    dropped = (
        near_dup_pairs(corpus, threshold=0.2, max_bucket=12)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    want = corpus.join(dropped, "doc_id", "left_anti").select("doc_id")
    assert rows(got) == rows(want)
    kept = {r[0] for r in got.collect()}
    assert kept & {300, 301, 302, 303} == set()  # drops NOT suppressed


def test_stream_ivf_maintenance_lands_drift_signal(spark, sf_dir, tmp_path):
    """r12: each in-drive maintenance fire of the list-major IVF
    appender lands the re-centering drift signal beside the index
    (_drift.json, atomic write) — occupancy/assignment rollup stamped
    with the batch id, consistent with the accumulated postings."""
    import json as _json

    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        ivf_assignments,
        select_ivf_centroids,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _ordered_embeddings_stream_dir,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_ivf_index_append,
    )

    staged = _ordered_embeddings_stream_dir(sf_dir)
    cdir = str(tmp_path / "cent")
    pdir = str(tmp_path / "post")
    emb = load_table(spark, sf_dir, "embeddings")
    c, _ = ivf_assignments(emb, select_ivf_centroids(emb, "vec_id", 8))
    c.write.parquet(cdir)
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    postings = stream_ivf_index_append(
        spark,
        stream,
        centroids_dir=cdir,
        postings_dir=pdir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        replication=2,
        maintain_every=2,
        consolidate_min_batch_dirs=2,
    )
    drift = _json.load(open(os.path.join(pdir, "_drift.json")))
    assert drift["as_of_batch_id"] == 3  # last maintenance fire
    assert drift["n_lists"] == 8
    # stamped at the fire AFTER batch 3's landing: all 4 batches'
    # postings are in (the drift scan reads history ∪ recent)
    assert drift["postings"] == postings.count()
    assert 0 < drift["nonempty_lists"] <= 8
    assert drift["occupancy_skew"] >= 1.0
    assert -1.0 <= drift["mean_assign_cos"] <= 1.0


def test_read_committed_recent_equals_whole_tail_read(spark, tmp_path):
    """r13 pin (VERDICT r12 #6): the r12 probe shape reads the recent
    tier as `_read_committed_recent(bid)` (committed dirs < bid) ∪ the
    in-flight batch's persisted frame — that union must be row-equal
    to the pre-r12 shape, one read of ALL dirs ≤ bid, including under
    a replay where the in-flight batch's dir already exists on disk
    (committed < bid ∪ current ≡ all ≤ bid, because the current dir's
    rows equal the persisted frame's by write_batch_idempotent)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        _read_committed_recent,
        write_batch_idempotent,
    )

    recent = str(tmp_path / "store_recent")
    frames = {}
    for bid in range(3):
        frames[bid] = spark.range(bid * 10, bid * 10 + 5).select(
            F.col("id"), F.pmod(F.col("id"), F.lit(4)).alias("_bkt")
        )
        write_batch_idempotent(frames[bid], bid, recent)
    bid = 2  # in-flight: its dir ALREADY exists (the replay case)
    committed = _read_committed_recent(spark, recent, bid)
    new_shape = committed.unionByName(
        frames[bid].withColumn("batch_id", F.lit(bid)),
        allowMissingColumns=True,
    ).select("id", "_bkt", "batch_id")
    old_shape = (
        spark.read.parquet(recent)
        .filter(F.col("batch_id") <= bid)
        .select("id", "_bkt", "batch_id")
    )
    assert rows(new_shape) == rows(old_shape)
    # committed view never includes the in-flight dir
    assert {
        r[0] for r in committed.select("batch_id").distinct().collect()
    } == {0, 1}
    # first trigger: nothing committed yet
    assert _read_committed_recent(spark, recent, 0) is None


def test_reap_deferred_resolves_each_path(spark, tmp_path):
    """ADVICE r13: one maintenance cycle's reap list spans every store
    root it maintained (band store and payload store), and those roots
    need not share a filesystem or scheme — _reap_deferred resolves the
    filesystem per path. The producers emit the caller's root form
    (roll_recent_into_store like consolidate_bucket_history), not the
    listing's qualified URIs."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        roll_recent_into_store,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        _reap_deferred,
        write_batch_idempotent,
    )

    a = str(tmp_path / "a" / "store")
    b = str(tmp_path / "b" / "store")
    for root in (a, b):
        write_batch_idempotent(
            spark.range(4).withColumn("_bkt", F.col("id") % 2), 0, root + "_recent"
        )
    reap = roll_recent_into_store(spark, a, "_bkt", defer_reap=True)
    assert reap["deferred_reap"] == [a + "_recent/batch_id=0"]
    b_dir = b + "_recent/batch_id=0"
    _reap_deferred(spark, reap["deferred_reap"] + ["file://" + b_dir])
    assert not os.path.exists(a + "_recent/batch_id=0")
    assert not os.path.exists(b_dir)
    assert os.path.isdir(a)  # the rolled history stays


def test_spread_stream_fires_only_for_underspread_scans(spark, sf_dir):
    """r13 (guide §2.5): a fixture-table file stream gets a per-batch
    round-robin repartition exactly when the BATCH scan of the same
    files would be spread — and the default loaders stay unspread
    (engagement is per measured call site)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import (
        load_table_stream,
    )

    plain = load_table_stream(spark, sf_dir, "documents", ["doc_id", "text"])
    spread = load_table_stream(
        spark, sf_dir, "documents", ["doc_id", "text"], spread_scan=True
    )
    assert "Repartition" not in plain._jdf.queryExecution().logical().toString()
    # single-file fixture: the batch twin spreads, so the stream must too
    assert "Repartition" in spread._jdf.queryExecution().logical().toString()


def test_stream_decontam_docs_spread_result_parity(spark, sf_dir):
    """The per-batch spread exchange must not change stream_decontam_docs'
    drained result (partitioning-invariant per-row probe): the same
    array-probe decontamination drained over the spread and the unspread
    documents stream."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import (
        load_table,
        load_table_stream,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.safety import (
        decontaminate,
    )

    bench = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 35)
        .select("text")
    )

    def drain(spread_scan):
        stream = load_table_stream(
            spark, sf_dir, "documents", ["doc_id", "text"], spread_scan=spread_scan
        )
        return rows(
            run_stream_to_memory(
                spark,
                decontaminate(stream, bench, strategy="array"),
                f"decontam_spread_{spread_scan}",
                output_mode="append",
            )
        )

    a, b = drain(True), drain(False)
    assert a == b and len(a) > 0

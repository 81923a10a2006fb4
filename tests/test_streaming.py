"""Streaming operators: availableNow batch-parity against batch results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orientdb_etl_spark.streaming import (
    StreamingPipeline,
    sessionize_with_state,
    stream_parquet,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream(spark):
    return stream_parquet(spark, f"{SF}/events.parquet", ts_nanos_col="ts")


@pytest.fixture(scope="module")
def events_batch(spark):
    from orientdb_etl_spark.session import normalize_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{SF}/events.parquet")
    return normalize_ts(df, "ts")


def _run(df, name, mode="append", timeout=120):
    q = (
        df.writeStream.trigger(availableNow=True)
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.awaitTermination(timeout)
    spark = df.sparkSession
    return spark.table(name)


def test_tumbling_window_matches_batch(spark, events_stream, events_batch):
    from orientdb_etl_spark.streaming import tumbling_window_agg

    out = _run(
        tumbling_window_agg(
            events_stream, "ts", "1 hour", ["event_type"],
            ["count(1) AS n", "round(sum(value), 2) AS sv"],
            watermark="10 minutes",
        ),
        # complete mode: append would hold back windows the watermark has
        # not passed yet (correct streaming semantics, wrong for parity)
        "t_tumble", mode="complete",
    )
    batch = (
        events_batch.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv"))
    )
    got = {(r.win.start, r.event_type): (r.n, r.sv) for r in out.collect()}
    want = {(r.win.start, r.event_type): (r.n, r.sv) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_sliding_window_counts(spark, events_stream, events_batch):
    from orientdb_etl_spark.streaming import sliding_window_agg

    out = _run(
        sliding_window_agg(
            events_stream, "ts", "2 hours", "1 hour", [], ["count(1) AS n"],
            watermark="10 minutes",
        ),
        "t_slide", mode="complete",
    )
    # every event lands in exactly 2 overlapping windows
    assert out.agg(F.sum("n")).first()[0] == 2 * events_batch.count()


def test_session_window_agg(spark, events_stream, events_batch):
    from orientdb_etl_spark.streaming import session_window_agg

    out = _run(
        session_window_agg(
            events_stream, "ts", "30 minutes", ["user_id"], ["count(1) AS n"],
            watermark="1 minute",
        ),
        "t_session", mode="complete",
    )
    # total events preserved; session count per user matches the batch
    # lag-gap formulation
    assert out.agg(F.sum("n")).first()[0] == events_batch.count()
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    batch_sessions = (
        events_batch.withColumn(
            "ns", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
        )
        .groupBy("user_id")
        .agg(F.sum("ns").alias("n_sessions"))
    )
    got = {
        r.user_id: r.n
        for r in out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    want = {r.user_id: r.n_sessions for r in batch_sessions.collect()}
    assert got == want


def test_streaming_dedup_within_watermark(spark, events_stream, events_batch):
    from orientdb_etl_spark.streaming import streaming_dedup

    dup = events_stream.withColumn("user_id", F.col("user_id") % 10)
    out = _run(streaming_dedup(dup, ["user_id"], "ts", "1 hour"), "t_dedup")
    assert out.select("user_id").distinct().count() == out.count() == 10


def test_sessionize_with_state_matches_batch(spark, events_stream, events_batch):
    out = _run(
        sessionize_with_state(events_stream, "user_id", "ts", 1800),
        "t_state", mode="update",
    )
    # single input file → single micro-batch → one update row per user
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    batch = (
        events_batch.withColumn(
            "ns", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
        )
        .groupBy("user_id")
        .agg(F.sum("ns").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )
    got = {r.user_id: (r.n_sessions, r.n_events) for r in out.collect()}
    want = {r.user_id: (r.n_sessions, r.n_events) for r in batch.collect()}
    assert got == want


def test_stream_interval_join_matches_batch(spark, events_batch):
    from orientdb_etl_spark.streaming import stream_interval_join, stream_parquet

    clicks = (
        stream_parquet(spark, f"{SF}/events.parquet", ts_nanos_col="ts")
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id", "ts")
    )
    purch = (
        stream_parquet(spark, f"{SF}/events.parquet", ts_nanos_col="ts")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = stream_interval_join(
        clicks, purch, [("user_id", "p_user_id")],
        left_ts="ts", right_ts="p_ts",
        lower_bound="INTERVAL 30 minutes", upper_bound="INTERVAL 0 seconds",
        watermark="1 hour",
    ).select("click_id", "purchase_id")
    got = {
        (r.click_id, r.purchase_id) for r in _run(joined, "t_ivjoin").collect()
    }

    b = events_batch
    bc = b.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    bp = b.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    want = {
        (r.click_id, r.purchase_id)
        for r in bc.join(
            bp,
            (bc.user_id == bp.p_user_id)
            & (bc.ts >= bp.p_ts - F.expr("INTERVAL 30 minutes"))
            & (bc.ts <= bp.p_ts),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_pipeline_config(spark):
    p = StreamingPipeline(
        {
            "source": {"parquet": {"path": f"{SF}/events.parquet", "tsNanosColumn": "ts"}},
            "watermark": {"column": "ts", "delay": "10 minutes"},
            "transformers": [
                {"filter": {"condition": "event_type = 'click'"}},
                {"window_agg": {
                    "column": "ts", "duration": "1 hour",
                    "groupBy": ["event_type"],
                    "aggregations": ["count(1) AS n"],
                }},
            ],
        },
        spark=spark,
    )
    out = p.run_available_now("t_cfg", output_mode="complete")
    rows = out.collect()
    assert len(rows) > 0 and all(r.event_type == "click" for r in rows)


def test_foreach_batch_sink(spark, events_stream):
    seen: list[int] = []

    p = StreamingPipeline(
        {"source": {"parquet": {"path": f"{SF}/events.parquet", "tsNanosColumn": "ts"}}},
        spark=spark,
    )
    p.run_available_now(
        foreach_batch=lambda df, epoch: seen.append(df.count())
    )
    assert sum(seen) == spark.read.parquet(f"{SF}/events.parquet").count()


def test_foreach_batch_upsert_idempotent(spark, tmp_path):
    from orientdb_etl_spark.streaming import foreach_batch_upsert

    target = str(tmp_path / "upsert_target")
    fn = foreach_batch_upsert(target, ["k"], order_col="seq")

    b1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k int, v string, seq int")
    fn(b1, 0)
    assert {r.k: r.v for r in spark.read.parquet(target).collect()} == {1: "a", 2: "b"}

    # batch 2 updates k=1 (two versions; newest seq wins) and inserts k=3
    b2 = spark.createDataFrame(
        [(1, "a2", 2), (1, "a3", 3), (3, "c", 2)], "k int, v string, seq int"
    )
    fn(b2, 1)
    state = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert state == {1: "a3", 2: "b", 3: "c"}

    # replaying the same batch leaves the target unchanged (idempotence)
    fn(b2, 1)
    assert {r.k: r.v for r in spark.read.parquet(target).collect()} == state


def test_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    import glob
    import os
    import time

    from pyspark.sql import functions as F

    from orientdb_etl_spark.streaming import foreach_batch_upsert

    target = str(tmp_path / "bucketed_target")
    fn = foreach_batch_upsert(target, ["k"], num_buckets=8)
    fn(spark.createDataFrame([(i, "v") for i in range(20)], "k int, v string"), 0)

    b0 = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(0).cast("int")), F.lit(8)).alias("b")
    ).first().b
    untouched = [
        d for d in glob.glob(f"{target}/_kb=*") if d != f"{target}/_kb={b0}"
    ]
    assert untouched  # 20 keys over 8 buckets: other partitions exist
    before = {d: os.path.getmtime(d) for d in untouched}

    time.sleep(1.1)  # mtime resolution
    fn(spark.createDataFrame([(0, "v2")], "k int, v string"), 1)

    after = {d: os.path.getmtime(d) for d in untouched}
    assert after == before  # O(touched-partition) rewrite, not O(table)
    state = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert state[0] == "v2" and len(state) == 20


def test_foreach_batch_upsert_null_key_replay_is_idempotent(spark, tmp_path):
    """A NULL key is one key: replaying a batch that holds one replaces
    that row instead of appending a second, and a later batch updates it."""
    from orientdb_etl_spark.streaming import foreach_batch_upsert

    target = str(tmp_path / "null_key_target")
    fn = foreach_batch_upsert(target, ["k"])

    def rows():
        return sorted(
            ((r.k, r.v) for r in spark.read.parquet(target).collect()),
            key=lambda t: (t[0] is None, t[0] or 0),
        )

    b1 = spark.createDataFrame([(1, "a"), (None, "x")], "k int, v string")
    fn(b1, 0)
    fn(b1, 0)
    assert rows() == [(1, "a"), (None, "x")]

    fn(spark.createDataFrame([(None, "y")], "k int, v string"), 1)
    assert rows() == [(1, "a"), (None, "y")]


def test_foreach_batch_upsert_job_count_and_no_cache(spark, tmp_path):
    """One merge of a small batch into an existing target is a handful of
    jobs (touched collect, schema read, the windowed write) and leaves no
    persistent RDD behind: there is no cache barrier before the write."""
    from orientdb_etl_spark.streaming import foreach_batch_upsert

    target = str(tmp_path / "job_count_target")
    fn = foreach_batch_upsert(target, ["k"], order_col="seq", num_buckets=8)
    fn(spark.createDataFrame([(i, "v", 0) for i in range(20)],
                             "k int, v string, seq int"), 0)
    batch = spark.createDataFrame(
        [(0, "v1", 1), (0, "v2", 2), (25, "new", 1)], "k int, v string, seq int"
    )

    sc = spark.sparkContext
    jjsc = sc._jsc
    before = {int(k) for k in jjsc.getPersistentRDDs().keySet().toArray()}
    group = "upsert_job_count_probe"
    sc.setJobGroup(group, "count the jobs of one merge")
    try:
        fn(batch, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    after = {int(k) for k in jjsc.getPersistentRDDs().keySet().toArray()}

    assert len(jobs) <= 5, jobs
    assert after - before == set()
    state = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert len(state) == 21 and state[0] == "v2" and state[25] == "new"


def test_foreach_batch_upsert_failed_write_leaves_target_unchanged(
    spark, tmp_path
):
    """The write reads the partitions it replaces with no barrier in
    between; a task that fails mid-write must abort the job before any
    partition directory is swapped, so the target keeps its old rows."""
    from pyspark.errors import PythonException
    from pyspark.sql.types import StringType

    from orientdb_etl_spark.streaming import foreach_batch_upsert

    target = str(tmp_path / "failed_write_target")
    fn = foreach_batch_upsert(target, ["k"], num_buckets=8)
    fn(spark.createDataFrame([(i, f"v{i}") for i in range(20)],
                             "k int, v string"), 0)
    old = sorted((r.k, r.v) for r in spark.read.parquet(target).collect())

    @F.udf(StringType())
    def boom(k):
        raise RuntimeError("value column failed")

    # the touched collect needs only the key, so column pruning lets it
    # pass; the UDF runs (and raises) inside the write job
    batch = spark.range(0, 30).selectExpr("CAST(id AS INT) AS k")
    batch = batch.withColumn("v", boom("k"))
    assert len(batch.select("k").distinct().collect()) == 30
    with pytest.raises(PythonException, match="value column failed"):
        fn(batch, 1)

    assert sorted((r.k, r.v) for r in spark.read.parquet(target).collect()) == old
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic"


def test_stream_enrich_matches_batch_join(spark, events_batch):
    dim = spark.createDataFrame(
        [(i, f"seg{i % 3}") for i in range(15)], "k long, seg string"
    )
    p = StreamingPipeline(
        {
            "source": {"parquet": {"path": f"{SF}/events.parquet", "tsNanosColumn": "ts"}},
            "transformers": [
                {"enrich": {"table": "dim", "on": {"user_id": "k"},
                            "select": ["event_id", "seg"]}},
            ],
        },
        spark=spark,
    )
    p.register_stream("dim", dim)
    out = p.run_available_now("t_enrich")
    got = {(r.event_id, r.seg) for r in out.collect()}
    want = {
        (r.event_id, r.seg)
        for r in events_batch.join(
            dim, events_batch.user_id == dim.k, "left"
        ).select("event_id", "seg").collect()
    }
    assert got == want and len(got) > 0


def test_enrich_window_append_state_bounded(spark, events_batch):
    """The watermark+append discipline for windowed enrichment: windows
    finalized by the final watermark (max event time - delay) are emitted
    exactly once; not-yet-finalized windows stay in (bounded) state and
    are NOT emitted — i.e. state never outlives watermark + window."""
    dim = spark.createDataFrame(
        [(i, f"seg{i % 3}") for i in range(15)], "k long, seg string"
    )
    p = StreamingPipeline(
        {
            "source": {"parquet": {"path": f"{SF}/events.parquet", "tsNanosColumn": "ts"}},
            "watermark": {"column": "ts", "delay": "1 hour"},
            "transformers": [
                {"enrich": {"table": "dim", "on": {"user_id": "k"},
                            "select": ["ts", "seg", "value"]}},
                {"window_agg": {
                    "column": "ts",
                    "duration": "6 hours",
                    "groupBy": ["seg"],
                    "aggregations": ["count(1) AS n_events"],
                }},
            ],
        },
        spark=spark,
    )
    p.register_stream("dim", dim)
    out = p.run_available_now("t_enrich_append", output_mode="append")
    got = {
        (r["win"]["start"], r["seg"], r["n_events"]) for r in out.collect()
    }
    assert got, "append mode must emit the finalized windows"

    import datetime

    wm = events_batch.agg(F.max("ts")).first()[0] - datetime.timedelta(hours=1)
    batch = (
        events_batch.join(dim, events_batch.user_id == dim.k, "left")
        .groupBy(F.window("ts", "6 hours").alias("win"), "seg")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    finalized = {
        (r["win"]["start"], r["seg"], r["n_events"])
        for r in batch
        if r["win"]["end"] <= wm
    }
    open_windows = {
        (r["win"]["start"], r["seg"], r["n_events"])
        for r in batch
        if r["win"]["end"] > wm
    }
    assert got == finalized
    assert open_windows and got.isdisjoint(open_windows)


def test_upsert_num_buckets_capped(spark, tmp_path):
    from orientdb_etl_spark.streaming import foreach_batch_upsert

    with pytest.raises(ValueError, match="num_buckets"):
        foreach_batch_upsert(str(tmp_path / "t"), ["k"], num_buckets=10_000_000)
    with pytest.raises(ValueError, match="num_buckets"):
        foreach_batch_upsert(str(tmp_path / "t"), ["k"], num_buckets=0)


def test_stream_into_upsert_sink(spark, tmp_path):
    from orientdb_etl_spark.streaming import StreamingPipeline, foreach_batch_upsert

    target = str(tmp_path / "stream_upsert")
    p = StreamingPipeline(
        {"source": {"parquet": {"path": f"{SF}/events.parquet", "tsNanosColumn": "ts"}}},
        spark=spark,
    )
    p.run_available_now(
        foreach_batch=foreach_batch_upsert(target, ["user_id"], order_col="ts")
    )
    out = spark.read.parquet(target)
    # one newest row per user
    assert out.count() == out.select("user_id").distinct().count() == 15


def test_checkpointed_incremental_resume(spark, tmp_path):
    """Two availableNow runs over the same checkpoint: the second must
    process ONLY files that arrived after the first (exactly-once source
    accounting across restarts - the cron-style incremental ingest
    pattern)."""
    src = tmp_path / "arrivals"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "sink")

    def arrive(name, rows):
        spark.createDataFrame(rows, "k int, v string").coalesce(1).write.mode(
            "append"
        ).parquet(str(src / ("_tmp_" + name)))
        # atomic-ish move of the one data file into the watched dir
        import glob
        import shutil

        f = glob.glob(str(src / ("_tmp_" + name) / "*.parquet"))[0]
        shutil.move(f, str(src / f"{name}.parquet"))
        shutil.rmtree(str(src / ("_tmp_" + name)))

    arrive("batch1", [(1, "a"), (2, "b")])
    schema = spark.read.parquet(str(src)).schema
    seen: list[int] = []

    def fb(df, epoch):
        seen.append(df.count())
        df.write.mode("append").parquet(target)

    def run():
        p = StreamingPipeline(
            {"source": {"table": {"name": "s"}}}, spark=spark
        )
        p.register_stream(
            "s", spark.readStream.schema(schema).parquet(str(src))
        )
        p.run_available_now(foreach_batch=fb, checkpoint=ckpt)

    run()
    assert sum(seen) == 2

    arrive("batch2", [(3, "c")])
    run()
    assert sum(seen) == 3  # only the new file, not a reprocess of batch1
    assert spark.read.parquet(target).count() == 3


def test_stream_quality_filter_matches_batch(spark):
    """Inline curation on a stream: the per-row quality transformer runs
    inside the micro-batch scan (stream-safe, no state), and availableNow
    output matches the batch result of the same rules."""
    import pandas as pd

    docs = pd.DataFrame({
        "doc_id": range(6),
        "text": [
            "This sentence is one of the perfectly fine ones for the test."
            if i % 2 == 0 else "#### #### #### spam"
            for i in range(6)
        ],
    })
    path = "/tmp/etl_stream_quality_docs"
    import shutil
    shutil.rmtree(path, ignore_errors=True)
    spark.createDataFrame(docs).write.parquet(path)

    p = StreamingPipeline(
        {
            "source": {"parquet": {"path": path}},
            "transformers": [
                {"quality": {"method": "gopher", "filter": True}},
                {"select": {"columns": ["doc_id", "q_passes"]}},
            ],
        },
        spark=spark,
    )
    out = p.run_available_now("t_quality_stream")
    got = sorted(r.doc_id for r in out.collect())
    assert got == [0, 2, 4]  # spam docs filtered inside the stream


def test_stream_manifest_ingest_incremental(spark, tmp_path):
    """Growing-manifest ingestion: first run consumes the initial
    manifest shards (distributed fetch + keyed upsert); dropping a NEW
    manifest file and re-running ingests ONLY it — previously processed
    shards are not re-fetched (file-source checkpoint) and re-listed
    urls replace their keys instead of duplicating (upsert sink)."""
    from orientdb_etl_spark.streaming.ops import start_manifest_ingest

    data = tmp_path / "data"
    data.mkdir()
    for i in range(3):
        (data / f"doc-{i}.txt").write_text(f"alpha {i}\nbeta {i}\n")
    man = tmp_path / "manifests"
    man.mkdir()
    (man / "m0.txt").write_text(
        f"# first crawl\n{data}/doc-0.txt\n{data}/doc-1.txt\n"
    )
    target = str(tmp_path / "ingested")
    ckpt = str(tmp_path / "ckpt")

    q = start_manifest_ingest(spark, str(man), target, ckpt, mode="lines")
    q.awaitTermination(120)
    first = spark.read.parquet(target).select("url", "line_no", "value").collect()
    assert len(first) == 4
    assert {r.url.rsplit("/", 1)[-1] for r in first} == {"doc-0.txt", "doc-1.txt"}

    (man / "m1.txt").write_text(f"{data}/doc-2.txt\n")
    q2 = start_manifest_ingest(spark, str(man), target, ckpt, mode="lines")
    q2.awaitTermination(120)
    final = spark.read.parquet(target).select("url", "line_no", "value").collect()
    assert len(final) == 6
    assert {r.url.rsplit("/", 1)[-1] for r in final} == {
        "doc-0.txt", "doc-1.txt", "doc-2.txt"
    }
    assert {(r.url.rsplit("/", 1)[-1], r.line_no, r.value) for r in final} >= {
        ("doc-2.txt", 1, "alpha 2"), ("doc-2.txt", 2, "beta 2"),
    }


def test_stream_incremental_filter_matches_batch(spark):
    """The streaming cross-snapshot exact-dedup gate must keep exactly
    the docs the batch incremental_dedup keeps (stream-static broadcast
    fingerprint join, availableNow batch-parity)."""
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.dedup import incremental_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    seen = docs.filter(F.col("doc_id") % 10 == 0)
    p = StreamingPipeline(
        {
            "source": {"parquet": {"path": f"{SF}/documents.parquet"}},
            "transformers": [
                {"incremental": {"seenTable": "curated"}},
            ],
        },
        spark=spark,
    )
    p.register_stream("curated", seen)
    out = p.run_available_now("t_incr")
    got = sorted(r.doc_id for r in out.collect())
    want = sorted(
        r.doc_id
        for r in incremental_dedup(docs, seen).collect()
    )
    assert got == want
    # flag mode audit view keeps every row and marks the seen ones
    p2 = StreamingPipeline(
        {
            "source": {"parquet": {"path": f"{SF}/documents.parquet"}},
            "transformers": [
                {"incremental": {"seenTable": "curated", "mode": "flag"}},
            ],
        },
        spark=spark,
    )
    p2.register_stream("curated", seen)
    flagged = p2.run_available_now("t_incr_flag")
    n_seen = flagged.filter(F.col("seen_before")).count()
    assert flagged.count() == docs.count()
    assert n_seen >= seen.count()  # every curated doc's fingerprint hits


def test_stream_manifest_ingest_dead_letters_failures(spark, tmp_path):
    """With errors_path, a failing URL must NOT be silently lost after
    the manifest shard checkpoints: successes land in the target, the
    failure lands as a dead-letter row, and the batch commits."""
    import glob as _glob

    from orientdb_etl_spark.streaming.ops import start_manifest_ingest

    shard_dir = tmp_path / "files"
    shard_dir.mkdir()
    good = shard_dir / "a.txt"
    good.write_text("l1\nl2\n")
    man = tmp_path / "man"
    man.mkdir()
    (man / "m0.txt").write_text(f"{good}\n{tmp_path / 'nope.txt'}\n")
    target = str(tmp_path / "target")
    errors = str(tmp_path / "errors")
    q = start_manifest_ingest(
        spark, str(man), target, str(tmp_path / "ckpt"), mode="lines",
        fetch_kwargs={"retries": 0}, errors_path=errors,
    )
    q.awaitTermination(60)
    got = {(r.url, r.line_no, r.value) for r in spark.read.parquet(target).collect()}
    assert got == {(str(good), 1, "l1"), (str(good), 2, "l2")}
    errs = spark.read.parquet(errors).collect()
    assert len(errs) == 1 and errs[0].url.endswith("nope.txt")
    assert errs[0].status == -1 and "FileNotFoundError" in errs[0].error


def test_streaming_cms_sketch_maintenance_linearity(spark, tmp_path):
    """Running sketch over micro-batches: per-epoch sketch dirs merged at
    read time must estimate EXACTLY like one batch build over all the
    data (CMS linearity), and replaying an epoch must not double-count
    (overwrite-own-epoch idempotence)."""
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.profiling import cms_build, cms_estimate
    from orientdb_etl_spark.streaming.ops import (
        foreach_batch_sketch,
        read_stream_sketch,
    )

    src = tmp_path / "src"
    # 4 files => multiple micro-batches with maxFilesPerTrigger=1
    for i in range(4):
        spark.range(i * 1000, (i + 1) * 1000).selectExpr(
            "id % 313 AS k"
        ).coalesce(1).write.parquet(str(src / f"part{i}"))
    all_df = spark.read.parquet(str(src / "part*"))
    schema = all_df.schema
    target = str(tmp_path / "sketch")

    fn = foreach_batch_sketch(target, "k", width=512, depth=3)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "part*"))
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(fn)
        .start()
    )
    q.awaitTermination(120)

    merged = read_stream_sketch(spark, target)
    whole = cms_build(all_df, "k", width=512, depth=3)
    m = {(r.d, r.bucket): r.cnt for r in merged.collect()}
    w = {(r.d, r.bucket): r.cnt for r in whole.collect()}
    assert m == w  # linearity across micro-batches

    # estimates queryable from the merged sketch
    probes = spark.createDataFrame([(0,), (312,)], "k long")
    est = {r.k: r.est for r in cms_estimate(merged, probes, "k", width=512, depth=3).collect()}
    exact = {r.k: r.n for r in all_df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert est[0] >= exact[0] and est[312] >= exact[312]

    # replay epoch 0 (checkpoint recovery): same data, same epoch dir —
    # the merged sketch must be unchanged (overwrite, not double-merge)
    first = spark.read.parquet(str(src / "part0")).selectExpr("k")
    fn(first, 0)
    spark.catalog.refreshByPath(target)  # epoch 0's files were replaced
    m2 = {(r.d, r.bucket): r.cnt for r in read_stream_sketch(spark, target).collect()}
    assert m2 == w


def test_streaming_drift_monitor_equals_batch_psi(spark, tmp_path):
    """Streamed PSI (per-epoch bucket counts, merged at read) must equal
    the one-shot batch psi() over the concatenated micro-batches, and
    epoch replay must not double-count."""
    from orientdb_etl_spark.functions.stats import psi
    from orientdb_etl_spark.streaming.ops import (
        drift_bounds,
        foreach_batch_drift,
        read_stream_drift,
    )

    src = tmp_path / "src"
    # current stream drifts upward vs the reference
    for i in range(4):
        spark.range(i * 500, (i + 1) * 500).selectExpr(
            "CAST(id % 100 + id % 7 AS DOUBLE) AS v"
        ).coalesce(1).write.parquet(str(src / f"part{i}"))
    ref = spark.range(2000).selectExpr("CAST(id % 80 AS DOUBLE) AS v")
    all_cur = spark.read.parquet(str(src / "part*"))

    mn, mx = drift_bounds(ref, "v")
    assert (mn, mx) == (0.0, 79.0)
    target = str(tmp_path / "drift")
    fn = foreach_batch_drift(target, "v", mn, mx, bins=8)
    q = (
        spark.readStream.schema(all_cur.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "part*"))
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(fn)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        r["bucket"]: r
        for r in read_stream_drift(spark, target, ref, "v", bins=8).collect()
    }
    batch = {r["bucket"]: r for r in psi(ref, all_cur, "v", bins=8).collect()}
    assert set(streamed) == set(batch)
    for b in batch:
        for f in ("p_ref", "p_cur", "psi_term", "psi_total"):
            assert streamed[b][f] == batch[b][f]
    # values past the reference max clamp into the top bucket => drift
    assert streamed[8]["psi_total"] > 0.1

    # replay epoch 0: overwrite-own-epoch keeps the merged state identical
    first = spark.read.parquet(str(src / "part0"))
    fn(first, 0)
    spark.catalog.refreshByPath(target)
    again = {
        r["bucket"]: r["p_cur"]
        for r in read_stream_drift(spark, target, ref, "v", bins=8).collect()
    }
    assert again == {b: r["p_cur"] for b, r in streamed.items()}

    import pytest as _pt

    with _pt.raises(ValueError, match="no non-null"):
        drift_bounds(spark.createDataFrame([(None,)], "v double"), "v")


def test_streaming_near_dedup_equals_batch(spark, tmp_path):
    """Streamed cross-snapshot near-dedup (per-epoch survivor dirs) must
    equal ONE batch incremental_near_dedup over the concatenated
    micro-batches, and epoch replay must not change the union
    (overwrite-own-epoch idempotence)."""
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.dedup import incremental_near_dedup
    from orientdb_etl_spark.streaming.ops import (
        foreach_batch_near_dedup,
        read_stream_near_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seen = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    # plant near-copies of seen docs so drops actually happen
    planted = seen.filter(F.col("doc_id") % 30 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    aug = new.unionByName(planted)
    src = tmp_path / "src"
    for s in range(3):
        aug.filter(F.col("doc_id") % 3 == s).coalesce(1).write.parquet(
            str(src / f"slice{s}")
        )
    all_new = spark.read.parquet(str(src / "slice*"))
    target = str(tmp_path / "surv")
    kw = dict(threshold=0.6, max_bucket_size=None)
    fn = foreach_batch_near_dedup(target, seen, "text", "doc_id", **kw)
    q = (
        spark.readStream.schema(all_new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "slice*"))
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(fn)
        .start()
    )
    q.awaitTermination(180)

    streamed = read_stream_near_dedup(spark, target)
    assert streamed.select("epoch").distinct().count() == 3
    sids = {r.doc_id for r in streamed.select("doc_id").collect()}
    batch = incremental_near_dedup(all_new, seen, "text", "doc_id", **kw)
    bids = {r.doc_id for r in batch.select("doc_id").collect()}
    assert sids == bids  # the certificate
    # near-copies were really dropped (the operator did work)
    n_planted = planted.count()
    assert n_planted > 0
    assert len({i for i in sids if i >= 100000}) < n_planted

    # replay epoch 0 with its own data: union unchanged
    first = spark.read.parquet(str(src / "slice0"))
    fn(first, 0)
    spark.catalog.refreshByPath(target)
    again = {
        r.doc_id
        for r in read_stream_near_dedup(spark, target)
        .select("doc_id")
        .collect()
    }
    assert again == sids


def test_stream_manifest_ingest_empty_shard_no_phantom_row(spark, tmp_path):
    """An EMPTY successfully-fetched shard must contribute ZERO rows to
    the crawl target even on the dead-letter path: the (line_no=0,
    status=200, value NULL) marker row that error_rows=True emits for
    batch statePath consumers is filtered before the upsert — here the
    stream checkpoint itself tracks shard completion, so letting the
    marker through would upsert a phantom NULL data row."""
    from orientdb_etl_spark.streaming.ops import start_manifest_ingest

    shard_dir = tmp_path / "files"
    shard_dir.mkdir()
    good = shard_dir / "a.txt"
    good.write_text("l1\n")
    empty = shard_dir / "empty.txt"
    empty.write_text("")
    man = tmp_path / "man"
    man.mkdir()
    (man / "m0.txt").write_text(f"{good}\n{empty}\n")
    target = str(tmp_path / "target")
    q = start_manifest_ingest(
        spark, str(man), target, str(tmp_path / "ckpt"), mode="lines",
        fetch_kwargs={"retries": 0}, errors_path=str(tmp_path / "errors"),
    )
    q.awaitTermination(60)
    got = {(r.url, r.line_no, r.value)
           for r in spark.read.parquet(target).collect()}
    assert got == {(str(good), 1, "l1")}  # no (empty, 0, NULL) phantom


def test_near_dedup_certificate_detects_corrupted_epoch(spark, tmp_path):
    """Falsifiability of the stream_near_dedup certificate: the
    symmetric difference between streamed and batch survivor sets must
    go NON-zero when an epoch directory is lost/corrupted — i.e. the
    certificate computation really reads both real survivor sets and is
    not a tautology that always reports 0. (The epoch callbacks are
    plain functions; driving them directly exercises exactly the sink
    layout the certificate reads, without stream lifecycle cost.)"""
    import shutil

    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.dedup import incremental_near_dedup
    from orientdb_etl_spark.streaming.ops import (
        foreach_batch_near_dedup,
        read_stream_near_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seen = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    target = str(tmp_path / "surv")
    kw = dict(threshold=0.6, max_bucket_size=None)
    fn = foreach_batch_near_dedup(target, seen, "text", "doc_id", **kw)
    slices = [new.filter(F.col("doc_id") % 3 == s) for s in range(3)]
    for s, sl in enumerate(slices):
        fn(sl, s)

    def sym_diff() -> int:
        streamed = read_stream_near_dedup(spark, target).select("doc_id")
        batch = incremental_near_dedup(
            new, seen, "text", "doc_id", **kw
        ).select("doc_id")
        return (
            streamed.unionByName(batch)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") != 2)
            .count()
        )

    assert sym_diff() == 0  # healthy sink: certificate passes
    # corrupt: an epoch with survivors vanishes -> certificate must trip
    lost = slices[1].count()
    assert lost > 0
    shutil.rmtree(str(tmp_path / "surv" / "epoch=1"))
    spark.catalog.refreshByPath(target)
    assert sym_diff() > 0


def test_sketch_certificate_detects_missing_epoch(spark, tmp_path):
    """Falsifiability of the streaming-CMS linearity certificate: drop
    one epoch's sketch and the merged estimate must UNDER-count vs the
    batch build — the equality check is real, not pinned."""
    import shutil

    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.profiling import (
        cms_build,
        cms_estimate,
    )
    from orientdb_etl_spark.streaming.ops import (
        foreach_batch_sketch,
        read_stream_sketch,
    )

    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id")
        .limit(2000)
        .localCheckpoint(eager=True)
    )
    target = str(tmp_path / "sk")
    fn = foreach_batch_sketch(target, "user_id", width=256, depth=4)
    halves = [
        events.filter(F.col("user_id") % 2 == 0),
        events.filter(F.col("user_id") % 2 == 1),
    ]
    for e, h in enumerate(halves):
        fn(h, e)
    keys = events.select("user_id").distinct().limit(20)

    def total_estimate() -> int:
        sk = read_stream_sketch(spark, target)
        est = cms_estimate(sk, keys, "user_id", width=256, depth=4)
        return est.agg(F.sum("est").alias("s")).first().s

    batch_sk = cms_build(events, "user_id", width=256, depth=4)
    batch_total = (
        cms_estimate(batch_sk, keys, "user_id", width=256, depth=4)
        .agg(F.sum("est").alias("s"))
        .first()
        .s
    )
    assert total_estimate() == batch_total  # linearity: merged == batch
    shutil.rmtree(str(tmp_path / "sk" / "epoch=1"))
    spark.catalog.refreshByPath(target)
    assert total_estimate() < batch_total  # lost epoch -> undercount


def test_drift_certificate_detects_missing_epoch(spark, tmp_path):
    """Falsifiability of the streaming-PSI certificate: drop one
    epoch's bucket counts and the streamed PSI must DIVERGE from the
    batch PSI over the full data."""
    import shutil

    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.stats import psi
    from orientdb_etl_spark.streaming.ops import (
        drift_bounds,
        foreach_batch_drift,
        read_stream_drift,
    )

    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id", "value")
        .limit(4000)
        .localCheckpoint(eager=True)
    )
    ref = events.filter(F.col("user_id") % 2 == 0)
    cur = events.filter(F.col("user_id") % 2 == 1)
    mn, mx = drift_bounds(ref, "value")
    target = str(tmp_path / "drift")
    fn = foreach_batch_drift(target, "value", mn, mx, bins=10)
    parts = [cur.filter(F.col("user_id") % 4 == 1),
             cur.filter(F.col("user_id") % 4 == 3)]
    for e, p in enumerate(parts):
        fn(p, e)

    def streamed_psi() -> float:
        out = read_stream_drift(spark, target, ref, "value", bins=10)
        return out.agg(F.max("psi_total").alias("t")).first().t

    batch_psi = (
        psi(ref, cur, "value", bins=10)
        .agg(F.max("psi_total").alias("t"))
        .first()
        .t
    )
    assert abs(streamed_psi() - batch_psi) < 1e-12  # healthy: equal
    shutil.rmtree(str(tmp_path / "drift" / "epoch=1"))
    spark.catalog.refreshByPath(target)
    assert abs(streamed_psi() - batch_psi) > 1e-9  # lost epoch -> diverges


def test_stream_ingest_crash_restart_with_resume_state(spark, tmp_path):
    """Crash-consistency of streaming ingest composed with URL-level
    resume state: a poisoned batch fails the query mid-run (checkpoint
    not advanced); after the poison is fixed, a restart from the SAME
    checkpoint + statePath completes WITHOUT re-fetching any URL a
    committed batch already ingested — proven by DELETING those shard
    files before the restart (a re-fetch would dead-letter or fail).
    Also proves cross-manifest URL dedup: the final manifest re-lists a
    batch-0 URL, whose source file is gone, yet the restart succeeds
    because the state anti-join removes it before dispatch."""
    import os

    from orientdb_etl_spark.streaming.ops import start_manifest_ingest

    shard_dir = tmp_path / "files"
    shard_dir.mkdir()
    shards = []
    for i in range(6):
        p = shard_dir / f"s{i}.txt"
        p.write_text(f"s{i}-l1\ns{i}-l2\n")
        shards.append(str(p))
    poison = str(shard_dir / "poison.txt")  # does not exist yet
    man = tmp_path / "man"
    man.mkdir()
    # batch order: file source processes oldest-first under
    # maxFilesPerTrigger=1 — pin mtimes explicitly
    m0 = man / "m0.txt"
    m1 = man / "m1.txt"
    m2 = man / "m2.txt"
    m0.write_text(f"{shards[0]}\n{shards[1]}\n")
    m1.write_text(f"{shards[2]}\n{shards[3]}\n")
    m2.write_text(f"{shards[4]}\n{shards[5]}\n{poison}\n{shards[0]}\n")
    for k, m in enumerate([m0, m1, m2]):
        os.utime(m, (1000000 + k, 1000000 + k))
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    common = dict(
        mode="lines", state_path=state, max_files_per_trigger=1,
        fetch_kwargs={"retries": 0},
    )
    q = start_manifest_ingest(spark, str(man), target, ckpt, **common)
    try:
        q.awaitTermination(120)
    except Exception:
        pass  # the poisoned batch fails the query — expected
    assert q.exception() is not None
    done_urls = {
        r.url for r in spark.read.parquet(target).select("url").collect()
    }
    assert done_urls == set(shards[:4])  # batches 0 and 1 committed
    # fix the poison; delete every committed shard file — the restart
    # must not need them (checkpoint skips m0/m1; state skips shards[0]
    # relisted by m2)
    open(poison, "w").write("p-l1\n")
    for s in shards[:4]:
        os.remove(s)
    q2 = start_manifest_ingest(spark, str(man), target, ckpt, **common)
    q2.awaitTermination(120)
    assert q2.exception() is None
    spark.catalog.refreshByPath(target)
    final = spark.read.parquet(target)
    got = {(r.url, r.line_no, r.value) for r in final.collect()}
    expect = {(s, i, f"s{j}-l{i}") for j, s in enumerate(shards)
              for i in (1, 2)}
    expect |= {(poison, 1, "p-l1")}
    assert got == expect  # nothing lost, nothing duplicated
    # every URL exactly once per (url, line_no) key
    dup = (
        final.groupBy("url", "line_no").count().filter("count > 1").count()
    )
    assert dup == 0
    # state recorded all 7 distinct URLs exactly once each
    state_urls = [r.url for r in spark.read.parquet(state).collect()]
    assert sorted(state_urls) == sorted(set(shards) | {poison})


def test_sketch_and_drift_certificates_detect_lost_epoch(spark, tmp_path):
    """Negative witness for the two merge-at-read streaming states: a
    lost/corrupted epoch directory must move the merged result away
    from the batch ground truth — i.e. batch-equality is falsifiable,
    not a tautology of the readers (same arm the near-dedup certificate
    has)."""
    import shutil

    from orientdb_etl_spark.functions.profiling import cms_build
    from orientdb_etl_spark.functions.stats import psi
    from orientdb_etl_spark.streaming.ops import (
        drift_bounds,
        foreach_batch_drift,
        foreach_batch_sketch,
        read_stream_drift,
        read_stream_sketch,
    )

    parts = [
        spark.range(i * 400, (i + 1) * 400).selectExpr(
            "id % 211 AS k", "CAST(id % 97 AS DOUBLE) AS v"
        )
        for i in range(3)
    ]
    all_df = parts[0].unionByName(parts[1]).unionByName(parts[2])
    ref = spark.range(1500).selectExpr("CAST(id % 80 AS DOUBLE) AS v")

    sk_t = str(tmp_path / "sk")
    sk_fn = foreach_batch_sketch(sk_t, "k", width=256, depth=3)
    mn, mx = drift_bounds(ref, "v")
    dr_t = str(tmp_path / "dr")
    dr_fn = foreach_batch_drift(dr_t, "v", mn, mx, bins=8)
    for i, p in enumerate(parts):
        sk_fn(p, i)
        dr_fn(p, i)

    # green arm: merged == batch for both
    w = {(r.d, r.bucket): r.cnt
         for r in cms_build(all_df, "k", 256, 3).collect()}
    m = {(r.d, r.bucket): r.cnt
         for r in read_stream_sketch(spark, sk_t).collect()}
    assert m == w
    total_b = psi(ref, all_df, "v", bins=8).collect()[0]["psi_total"]
    total_s = read_stream_drift(
        spark, dr_t, ref, "v", bins=8
    ).collect()[0]["psi_total"]
    assert total_s == total_b

    # lose epoch 1 from both states
    shutil.rmtree(f"{sk_t}/epoch=1")
    shutil.rmtree(f"{dr_t}/epoch=1")
    spark.catalog.refreshByPath(sk_t)
    spark.catalog.refreshByPath(dr_t)
    m_bad = {(r.d, r.bucket): r.cnt
             for r in read_stream_sketch(spark, sk_t).collect()}
    assert m_bad != w  # the certificate comparison MUST trip
    assert sum(m_bad.values()) < sum(w.values())  # counts actually lost
    total_bad = read_stream_drift(
        spark, dr_t, ref, "v", bins=8
    ).collect()[0]["psi_total"]
    assert total_bad != total_b


def test_stream_pairs_bt_equals_batch_and_epoch_drop_witness(spark, tmp_path):
    """foreach_batch_pairs: (1) the BT fit over summed epoch partials
    equals the batch fit row-for-row; (2) NEGATIVE WITNESS — dropping
    one epoch directory breaks the equality, so the stream_bt
    certificate's pinned 0 is falsifiable, not tautological."""
    import shutil

    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.mleval import bradley_terry
    from orientdb_etl_spark.streaming.ops import (
        foreach_batch_pairs,
        read_stream_pairs,
    )

    rows = (
        [("a", "b")] * 6 + [("b", "a")] * 2
        + [("b", "c")] * 5 + [("c", "b")] * 3
        + [("a", "c")] * 4 + [("c", "a")] * 1
    )
    battles = spark.createDataFrame(
        [(w, l, i) for i, (w, l) in enumerate(rows)],
        "winner string, loser string, bid int",
    )
    base = str(tmp_path)
    for s in range(3):
        battles.filter(F.col("bid") % 3 == s).drop("bid").coalesce(
            1
        ).write.parquet(f"{base}/src/slice{s}")
    alls = spark.read.parquet(f"{base}/src/slice*")
    q = (
        spark.readStream.schema(alls.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/src/slice*")
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", f"{base}/ckpt")
        .foreachBatch(foreach_batch_pairs(f"{base}/out", "winner", "loser"))
        .start()
    )
    q.awaitTermination()
    streamed = bradley_terry(
        read_stream_pairs(spark, f"{base}/out", "winner", "loser"),
        count_col="n",
        iters=4,
    )
    batch = bradley_terry(alls, iters=4)
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
    # negative witness: drop one epoch, the leaderboards must diverge
    import glob

    epochs = sorted(glob.glob(f"{base}/out/epoch=*"))
    assert len(epochs) == 3
    shutil.rmtree(epochs[0])
    broken = bradley_terry(
        read_stream_pairs(spark, f"{base}/out", "winner", "loser"),
        count_col="n",
        iters=4,
    )
    assert (
        broken.exceptAll(batch).count() + batch.exceptAll(broken).count()
    ) > 0


def test_stream_qdigest_guarantees_and_epoch_drop_witness(spark, tmp_path):
    """foreach_batch_qdigest: (1) the epoch-merged sketch conserves the
    exact count and its quantile reads satisfy never-undershoot plus
    the universe_bits·n/k rank bound against the FULL data; (2)
    NEGATIVE WITNESS — dropping one epoch breaks conservation AND
    makes the (full-data) median target rank undershoot, so the
    stream_qdigest certificate's booleans are falsifiable."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.profiling import qdigest_quantiles
    from orientdb_etl_spark.streaming.ops import (
        foreach_batch_qdigest,
        read_stream_qdigest,
    )

    # VALUE-correlated slices (low half / high half): dropping the
    # high epoch later shifts the surviving sketch's median far below
    # the full-data target — the undershoot the witness must trip
    vals = spark.range(2000).select((F.col("id") * 37 % 4096).alias("c"))
    base = str(tmp_path)
    vals.filter(F.col("c") < 2048).coalesce(1).write.parquet(
        f"{base}/src/slice0"
    )
    vals.filter(F.col("c") >= 2048).coalesce(1).write.parquet(
        f"{base}/src/slice1"
    )
    alls = spark.read.parquet(f"{base}/src/slice*")
    q = (
        spark.readStream.schema(alls.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/src/slice*")
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", f"{base}/ckpt")
        .foreachBatch(
            foreach_batch_qdigest(f"{base}/out", "c", k=32, universe_bits=12)
        )
        .start()
    )
    q.awaitTermination()
    merged = read_stream_qdigest(spark, f"{base}/out", k=32, universe_bits=12)
    merged = spark.createDataFrame(merged.collect(), merged.schema)
    n = merged.agg(F.sum("cnt")).first()[0]
    assert n == 2000  # count conservation across build + merge
    ests = qdigest_quantiles(
        merged, [0.25, 0.5, 0.75], k=32, universe_bits=12
    ).collect()
    bound = 12 * max(n // 32, 1)
    for r in ests:
        exact_le = alls.where(F.col("c") <= int(r.est)).count()
        assert exact_le >= r.target_rank  # never undershoots
        assert exact_le - r.target_rank <= bound  # within rank bound
    # negative witness: drop one epoch — conservation breaks and the
    # FULL-data median rank now undershoots
    epochs = sorted(glob.glob(f"{base}/out/epoch=*"))
    assert len(epochs) == 2
    # drop whichever epoch holds the HIGH-value slice (file→epoch
    # assignment is an ingestion-order detail, not part of the contract)
    high = max(
        epochs,
        key=lambda e: spark.read.parquet(e)
        .agg(F.max(F.expr("(idx + 1) * shiftleft(CAST(1 AS BIGINT), lvl)")))
        .first()[0],
    )
    shutil.rmtree(high)
    broken = read_stream_qdigest(spark, f"{base}/out", k=32, universe_bits=12)
    broken = spark.createDataFrame(broken.collect(), broken.schema)
    n_broken = broken.agg(F.sum("cnt")).first()[0]
    assert n_broken < 2000
    b_ests = qdigest_quantiles(
        broken, [0.5], k=32, universe_bits=12
    ).collect()
    # target rank computed against the FULL corpus (what the
    # certificate pins): the half-data sketch's median must undershoot
    full_target = -(-2000 // 2)
    exact_le = alls.where(F.col("c") <= int(b_ests[0].est)).count()
    assert exact_le < full_target

"""Streaming operators.

Everything here works on a streaming DataFrame and composes with the batch
transformer registry (stateless transformers — field/select/filter/json/
rename/flow — are streaming-safe as-is). Watermark + windowed aggregation
follow the standard Structured Streaming state-cleanup model: state for a
window is dropped once the watermark passes its end, so memory is bounded
by (watermark delay / slide) × key cardinality regardless of total input —
the property that keeps these operators viable on an unbounded 100 TB/day
feed.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str],
    aggs: list[str],
    watermark: str | None = None,
) -> DataFrame:
    """Non-overlapping event-time windows. One shuffle on (window, keys);
    partial aggregation happens map-side exactly as in batch."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(
        F.window(ts_col, duration).alias("win"), *keys
    ).agg(*[F.expr(a) for a in aggs])


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: list[str],
    aggs: list[str],
    watermark: str | None = None,
) -> DataFrame:
    """Overlapping windows (each row lands in duration/slide windows)."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(
        F.window(ts_col, duration, slide).alias("win"), *keys
    ).agg(*[F.expr(a) for a in aggs])


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    equi_keys: list,
    left_ts: str,
    right_ts: str,
    lower_bound: str = "INTERVAL 30 minutes",
    upper_bound: str = "INTERVAL 0 seconds",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join with a time-bound condition:
    ``right_ts - lower_bound <= left_ts <= right_ts + upper_bound``.

    The watermarks on BOTH inputs plus the two-sided time bound are what
    make this viable on unbounded streams: Spark derives how long a
    buffered row can still find a match and drops join state older than
    watermark + bound (the state-cleanup contract of stream-stream joins
    in the Structured Streaming model). Without the time bound the state
    grows forever — this helper makes the bound mandatory.

    ``equi_keys``: column names present on both sides (or (left, right)
    pairs). Rename overlapping non-key columns before joining — the
    result keeps both sides' columns as-is.
    """
    l_ = left.withWatermark(left_ts, watermark).alias("l")
    r_ = right.withWatermark(right_ts, watermark).alias("r")
    conds = []
    for k in equi_keys:
        a, b = (k, k) if isinstance(k, str) else k
        conds.append(F.col(f"l.{a}") == F.col(f"r.{b}"))
    conds.append(
        F.col(f"l.{left_ts}") >= F.col(f"r.{right_ts}") - F.expr(lower_bound)
    )
    conds.append(
        F.col(f"l.{left_ts}") <= F.col(f"r.{right_ts}") + F.expr(upper_bound)
    )
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return l_.join(r_, cond, how)


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    aggs: list[str],
    watermark: str | None = None,
) -> DataFrame:
    """Built-in session windows: a session closes after ``gap`` of
    inactivity; windows merge as late rows arrive (watermark bounds the
    merge state)."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(
        F.session_window(ts_col, gap).alias("win"), *keys
    ).agg(*[F.expr(a) for a in aggs])


def streaming_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact dedup. With a watermark the per-key state is
    dropped once keys age out (`dropDuplicatesWithinWatermark`) — the only
    form that is safe on an unbounded stream."""
    if ts_col and watermark:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def _hadoop_path_exists(spark, path: str) -> bool:
    """Sink-agnostic existence check through the Hadoop FileSystem API —
    works for local paths, HDFS, and object stores alike, and (unlike a
    bare try/except around the read) does NOT swallow real read errors."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def foreach_batch_upsert(
    target_path: str,
    key_cols: list[str],
    order_col: str | None = None,
    num_buckets: int = 64,
):
    """Build a ``foreachBatch`` function that merge-upserts each micro-batch
    into a parquet target (last-writer-wins per key) with per-batch I/O
    proportional to the data touched, not to the table.

    The target is laid out partitioned by ``_kb`` — a stable hash bucket
    of the key (``pmod(xxhash64(keys), num_buckets)``). Each batch:

    1. tags its raw rows with ``_kb`` (a function of the key alone, so
       in-batch duplicates cannot change the touched set),
    2. collects its touched buckets (≤ ``num_buckets`` distinct values),
    3. reads ONLY those partitions of the target (partition pruning),
    4. keeps one row per key in ONE window over those target rows and the
       batch: batch rows beat target rows, and inside the batch the
       newest ``order_col`` wins (an arbitrary row without one),
    5. rewrites ONLY the touched partitions via dynamic partition
       overwrite — untouched partitions are never read, moved, or deleted.

    No cache barrier sits between the read and the write of the same
    partitions: dynamic overwrite stages its output under
    ``.spark-staging-*`` and swaps partition directories only at job
    commit, after every task has read its input, so a failed write leaves
    the target as it was and a crash never opens a whole-table
    delete-then-rename window. Idempotent under batch replay (same input
    ⇒ same partition contents), NULL keys included because the window
    groups them as one key; this is what makes it safe with checkpoint
    recovery. Missing target is detected explicitly
    through the Hadoop FS API; real read errors propagate instead of
    silently degrading to "first batch". At real scale the same callback
    maps onto Delta/Iceberg ``MERGE INTO``; plain-parquet bucketed
    partitions keep the engine dependency-free here.

    ``num_buckets`` bounds the one driver-side collect below (the
    touched-bucket list, ≤ num_buckets ints); it is capped so a
    misconfigured bucket count cannot turn that into an unbounded
    driver materialization.
    """
    MAX_BUCKETS = 100_000  # 100k ints ≈ single-digit MB on the driver
    if not (0 < num_buckets <= MAX_BUCKETS):
        raise ValueError(
            f"num_buckets must be in (0, {MAX_BUCKETS}], got {num_buckets}: "
            "the touched-bucket set is collected to the driver and must "
            "stay trivially bounded"
        )

    def fn(batch_df, epoch_id: int) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        batch = batch_df.withColumn(
            "_kb", F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(num_buckets))
        ).withColumn("_src", F.lit(1))
        rows = batch
        if _hadoop_path_exists(spark, target_path):
            touched = [
                r["_kb"] for r in batch.select("_kb").distinct().collect()
            ]
            current = spark.read.parquet(target_path).filter(
                F.col("_kb").isin(touched)
            )
            rows = current.withColumn("_src", F.lit(0)).unionByName(
                batch, allowMissingColumns=True
            )
        order = ["_src"] + ([order_col] if order_col else [])
        w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order])
        merged = (
            rows.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy("_kb").parquet(target_path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return fn


def start_manifest_ingest(
    spark,
    manifest_glob: str,
    target_path: str,
    checkpoint: str,
    mode: str = "lines",
    available_now: bool = True,
    num_buckets: int = 64,
    fetch_kwargs: dict | None = None,
    errors_path: str | None = None,
    state_path: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Continuous-crawl ingestion: stream a GROWING manifest directory;
    each micro-batch's newly-discovered URL lines are fetched DISTRIBUTED
    (:func:`orientdb_etl_spark.sources.manifest.fetch_manifest`) and
    upserted into a bucketed parquet target.

    Composition of three existing pieces, each already scale-shaped:
    the file stream source tracks processed manifest FILES in the
    checkpoint (each manifest shard is consumed exactly once across
    restarts); the fetch runs executor-side with bounded per-task
    concurrency; and the sink is :func:`foreach_batch_upsert` keyed on
    (url, line_no) for ``lines`` mode / (url) for ``binary``/``text`` —
    so a crash-replayed batch rewrites the same keys instead of
    appending duplicates (at-least-once fetch, exactly-once sink
    contents). Returns the started StreamingQuery.

    FAILED URLs must not vanish: once a manifest shard is checkpointed
    it is never re-read, so a URL whose fetch failed in that batch would
    otherwise be lost forever (in ``lines`` mode it doesn't even leave
    an error row behind). Therefore the default is ``on_error='fail'``
    — a fetch failure fails the micro-batch, the checkpoint does NOT
    advance, and a restart retries the shard. Alternatively pass
    ``errors_path`` to dead-letter instead: failures append
    (url, status, error, epoch_id) rows there while the successes land
    in the target, and the batch commits. An explicit
    ``fetch_kwargs={'on_error': 'keep'}`` without ``errors_path`` keeps
    the old drop-silently behavior — now an opt-in, not a default.

    ``state_path`` composes the URL-level resume state
    (:func:`orientdb_etl_spark.sources.manifest.record_manifest_state`)
    with the stream's file-level checkpoint: each batch's fetch
    anti-joins the already-recorded URLs before dispatch, and the
    batch's successful URLs are recorded AFTER its sink upsert commits.
    The two levels make crash recovery cheap in both failure orders —
    crash after upsert but before recording: the restart re-reads the
    manifest file (checkpoint never advanced), the fetch re-downloads
    only that batch's URLs, and the keyed upsert rewrites the same keys
    (no duplicates); crash after recording but before the checkpoint
    advanced: the restart re-reads the manifest file but the anti-join
    leaves ZERO URLs to fetch — no wasted downloads. It also dedups
    URLs listed by MORE THAN ONE manifest shard (the checkpoint alone
    cannot: it tracks files, not URLs). ``max_files_per_trigger``
    bounds manifest files per micro-batch (availableNow honors it), so
    a crash loses at most one bounded batch of fetch work.
    """
    from orientdb_etl_spark.sources.manifest import (
        fetch_manifest,
        record_manifest_state,
    )

    keys = ["url", "line_no"] if mode == "lines" else ["url"]
    upsert = foreach_batch_upsert(target_path, keys, num_buckets=num_buckets)
    kw = dict(fetch_kwargs or {})
    if errors_path is not None:
        kw["on_error"] = "keep"
    else:
        kw.setdefault("on_error", "fail")

    if state_path is not None:
        kw["state_path"] = state_path

    def on_batch(batch_df, epoch_id: int) -> None:
        urls = (
            batch_df.select(F.trim("value").alias("url"))
            .filter((F.col("url") != "") & ~F.col("url").startswith("#"))
        )
        if urls.limit(1).count() == 0:
            return
        if errors_path is None and state_path is None:
            upsert(fetch_manifest(urls, mode=mode, **kw), epoch_id)
            return
        # dead-letter / resume path: fetch ONCE with per-URL error rows,
        # split (binary/text modes carry status/error natively; lines
        # mode needs the synthetic rows — they also mark empty shards
        # done in the resume state)
        fetched = fetch_manifest(
            urls, mode=mode, error_rows=(mode == "lines"), **kw
        ).localCheckpoint(eager=True)
        failed = fetched.filter(F.col("status") < 0)
        ok = fetched.filter(F.col("status") >= 0)
        if mode == "lines":
            # drop the empty-shard marker rows (line_no = 0, value NULL)
            # that error_rows=True emits for statePath consumers — here
            # the checkpoint itself tracks shard completion, and letting
            # a marker through would upsert a phantom (url, 0, NULL) data
            # row into the crawl target (an empty shard must contribute
            # ZERO target rows, as it always has)
            ok = ok.filter(F.col("line_no") > 0).drop("status", "error")
        if errors_path is not None:
            (
                failed.select(
                    "url", "status", "error",
                    F.lit(epoch_id).alias("epoch_id"),
                )
                .write.mode("append")
                .parquet(errors_path)
            )
        upsert(ok, epoch_id)
        if state_path is not None:
            # AFTER the sink upsert: a crash between the upsert and here
            # re-fetches this batch's URLs on restart (at-least-once) and
            # the keyed upsert rewrites the same keys — never duplicates
            record_manifest_state(fetched, state_path)

    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    reader = reader.load(manifest_glob)
    writer = reader.writeStream.foreachBatch(on_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize_with_state(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState``.

    Counts 30-min-gap sessions per user, carrying (last event time,
    session count, event count) as explicit group state across micro-
    batches — the escape hatch for stateful logic the built-in session
    window can't express (e.g. emitting running per-user totals rather
    than per-session rows). Output mode: update (one row per user per
    batch with the running totals).
    """
    out_schema = (
        f"{user_col} bigint, n_sessions bigint, n_events bigint"
    )
    state_schema = "last_us bigint, n_sessions bigint, n_events bigint"
    gap_us = gap_seconds * 1_000_000

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_us, n_sessions, n_events = state.get
        else:
            last_us, n_sessions, n_events = None, 0, 0
        ts_list: list[int] = []
        for pdf in pdfs:
            # datetime64[ns] → int64 is nanoseconds; state keeps micros
            ts_list.extend(
                int(v) // 1000 for v in pdf[ts_col].astype("int64").tolist()
            )
        ts_list.sort()
        for t in ts_list:
            if last_us is None or t - last_us > gap_us:
                n_sessions += 1
            last_us = t
            n_events += 1
        state.update((last_us, n_sessions, n_events))
        yield pd.DataFrame(
            {user_col: [key[0]], "n_sessions": [n_sessions], "n_events": [n_events]}
        )

    return df.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_seen_filter(
    df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    seen_text_col: str | None = None,
    mode: str = "filter",
) -> DataFrame:
    """Stream-safe cross-snapshot EXACT dedup: filter (or flag) streamed
    documents whose canonical fingerprint already exists in a static
    curated corpus — the continuous-crawl ingest gate, inline in the
    micro-batch.

    Shape: the static side reduces to a distinct fingerprint set (32 B
    per curated doc) and broadcasts; the stream side computes its
    fingerprint per row and LEFT-joins it (stream-static left joins are
    natively supported — and the static side is re-read per micro-batch,
    so a freshly re-curated corpus is picked up without restarting the
    query). ``mode='filter'`` keeps only unseen rows; ``mode='flag'``
    appends ``seen_before``. The NEAR-dup stage
    (:func:`orientdb_etl_spark.functions.dedup.incremental_near_dedup`)
    stays batch-only by design: its candidate generation needs both
    sides banded and joined globally, state a per-batch stream cannot
    hold — run it as the batch compaction pass over the stream's sink.
    """
    if mode not in ("filter", "flag"):
        raise ValueError(f"unknown mode {mode!r}")
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.text import doc_fingerprint

    seen_fps = (
        seen_df.select(
            doc_fingerprint(seen_text_col or text_col).alias("_fp")
        )
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    joined = (
        df.withColumn("_fp", doc_fingerprint(text_col))
        .join(F.broadcast(seen_fps), "_fp", "left")
        .withColumn("seen_before", F.coalesce(F.col("_hit"), F.lit(False)))
        .drop("_fp", "_hit")
    )
    if mode == "filter":
        return joined.filter(~F.col("seen_before")).drop("seen_before")
    return joined


def foreach_batch_sketch(
    target_path: str,
    key_col: str,
    width: int = 2048,
    depth: int = 4,
    seed: int = 42,
):
    """``foreachBatch`` callback maintaining a running count-min sketch
    over a stream: each micro-batch's sketch lands in its OWN epoch
    directory (``target_path/epoch=<id>/``), and readers merge across
    epochs with :func:`read_stream_sketch`.

    Per-epoch directories are what make this exactly-once under
    checkpoint replay: a replayed batch OVERWRITES its own epoch instead
    of double-merging into an accumulator (CMS merge is a sum — NOT
    idempotent — so the merge must happen at read time over
    deterministic per-epoch states, the same discipline as the bucketed
    upsert sink's partition overwrite). Per-batch I/O is sketch-sized:
    ≤ depth×width rows written, nothing read.
    """
    from orientdb_etl_spark.functions.profiling import cms_build

    def fn(batch_df, epoch_id: int) -> None:
        sk = cms_build(batch_df, key_col, width, depth, seed)
        sk.write.mode("overwrite").parquet(f"{target_path}/epoch={epoch_id}")

    return fn


def read_stream_sketch(spark, target_path: str):
    """Merge the per-epoch count-min sketches written by
    :func:`foreach_batch_sketch` into one queryable sketch (cell-wise
    sum — CMS linearity means the result equals a batch build over the
    whole stream's data). Feed it to ``profiling.cms_estimate``."""
    from pyspark.sql import functions as F  # noqa: F811

    from orientdb_etl_spark.functions.profiling import cms_merge

    epochs = spark.read.parquet(target_path).select("d", "bucket", "cnt")
    return cms_merge(epochs)


def foreach_batch_near_dedup(
    target_path: str,
    seen_df,
    text_col: str,
    id_col: str,
    **near_kwargs,
):
    """``foreachBatch`` callback streaming cross-snapshot NEAR-dedup:
    each micro-batch is MinHash-near-deduped against the STATIC curated
    corpus (:func:`~orientdb_etl_spark.functions.dedup.
    incremental_near_dedup` — new-vs-seen only, never new-vs-new) and
    its survivors land in their own epoch directory. Same exactly-once
    discipline as :func:`foreach_batch_sketch`: a checkpoint-replayed
    batch OVERWRITES its epoch — safe because a batch's survivor set is
    a deterministic function of (batch, seen corpus) alone.

    Batch parity: with the degenerate-bucket cap disabled
    (``max_bucket_size=None``) a document's drop decision depends ONLY
    on its own signature vs the seen corpus, so the union of per-epoch
    survivors EQUALS one batch run over the concatenated stream — the
    certificate ``stream_near_dedup`` pins. With a cap, the bound
    applies per micro-batch (bucket occupancy includes only that
    batch's new side), which is the scale-correct reading anyway: the
    cap exists to bound the candidate join of whatever is being joined.

    At 100 TB the seen side's signatures and banding should be computed
    once and persisted partitioned by (band, bucket) — see the batch
    operator's docstring; each micro-batch then only signs itself.
    """
    from orientdb_etl_spark.functions.dedup import incremental_near_dedup

    def fn(batch_df, epoch_id: int) -> None:
        surv = incremental_near_dedup(
            batch_df, seen_df, text_col, id_col, **near_kwargs
        )
        surv.write.mode("overwrite").parquet(f"{target_path}/epoch={epoch_id}")

    return fn


def read_stream_near_dedup(spark, target_path: str):
    """Union the per-epoch survivor sets written by
    :func:`foreach_batch_near_dedup` (the ``epoch`` partition column is
    kept — it is the micro-batch provenance; drop it for pure batch
    parity comparisons). An epoch whose micro-batch was ALL duplicates
    contributes zero rows, so its epoch value is absent here — count
    epochs from the ``epoch=*`` directories when you need the batch
    count itself."""
    return spark.read.parquet(target_path)


def drift_bounds(ref, value_col: str) -> "tuple[float, float]":
    """The two reference scalars a streaming drift monitor needs
    (min/max of the reference snapshot — PSI buckets are equi-width
    from the REFERENCE range). Collect is two doubles; compute once at
    monitor start and pass to :func:`foreach_batch_drift` so every
    micro-batch buckets against the identical edges
    :func:`read_stream_drift` will use."""
    row = ref.agg(
        F.min(F.col(value_col).cast("double")).alias("mn"),
        F.max(F.col(value_col).cast("double")).alias("mx"),
    ).first()
    if row["mn"] is None:
        raise ValueError(f"drift_bounds: no non-null values in {value_col!r}")
    return float(row["mn"]), float(row["mx"])


def foreach_batch_drift(
    target_path: str,
    value_col: str,
    ref_min: float,
    ref_max: float,
    bins: int = 10,
):
    """``foreachBatch`` callback maintaining streaming drift state: each
    micro-batch's bucket counts (bucketed against the REFERENCE range,
    out-of-range clamped into the end buckets — that IS drift) land in
    their own epoch directory. Same exactly-once discipline as
    :func:`foreach_batch_sketch`: a checkpoint-replayed batch OVERWRITES
    its epoch instead of double-counting, because counts merge by sum at
    read time. Per-batch I/O is ≤ ``bins`` rows.

    Bucket arithmetic mirrors ``stats._psi_bucket`` exactly, so the
    streamed PSI equals a batch :func:`~orientdb_etl_spark.functions.
    stats.psi` over the concatenated micro-batches — pinned by test.
    """
    mn, mx = float(ref_min), float(ref_max)

    def fn(batch_df, epoch_id: int) -> None:
        v = F.col(value_col).cast("double")
        if mn == mx:
            bucket = F.lit(1)
        else:
            raw = F.floor((v - F.lit(mn)) / F.lit(mx - mn) * bins) + 1
            bucket = F.greatest(
                F.least(raw.cast("int"), F.lit(int(bins))), F.lit(1)
            )
        counts = (
            batch_df.filter(v.isNotNull())
            .select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        counts.write.mode("overwrite").parquet(
            f"{target_path}/epoch={epoch_id}"
        )

    return fn


def read_stream_drift(spark, target_path: str, ref, value_col: str, bins: int = 10):
    """Merge the per-epoch bucket counts written by
    :func:`foreach_batch_drift` and score PSI against the reference
    snapshot — same output contract as ``stats.psi`` (per-bucket
    ``p_ref/p_cur/psi_term`` + grand ``psi_total``). Counts are
    integers, so the merged result equals the one-shot batch PSI over
    everything the stream has seen. The epochs frame is ≤ epochs×bins
    rows; the reference side is one scalar aggregate + one bucketed
    count of the reference frame."""
    from orientdb_etl_spark.functions.stats import (
        _psi_bucket,
        psi_from_counts,
    )

    stats = ref.agg(
        F.min(F.col(value_col).cast("double")).alias("_mn"),
        F.max(F.col(value_col).cast("double")).alias("_mx"),
    )
    *_, bucket = _psi_bucket(value_col, bins)
    r = (
        ref.filter(F.col(value_col).isNotNull())
        .join(F.broadcast(stats))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    c = (
        spark.read.parquet(target_path)
        .groupBy("bucket")
        .agg(F.sum("n").alias("n_cur"))
    )
    return psi_from_counts(r, c)


def foreach_batch_gram(target_path: str, vec_col: str, dim: int):
    """``foreachBatch`` callback maintaining a running Gram /
    second-moment matrix over an embedding stream: each micro-batch's
    d×d partial (:func:`~orientdb_etl_spark.functions.projections.
    gram_matrix`) lands in its OWN epoch directory and readers sum
    across epochs with :func:`read_stream_gram` — streaming PCA state
    without ever re-scanning history.

    Same exactly-once discipline as :func:`foreach_batch_sketch`: Gram
    accumulation is a SUM (linear, NOT idempotent), so a checkpoint-
    replayed batch must OVERWRITE its epoch rather than merge into an
    accumulator; the merge happens at read time over deterministic
    per-epoch states. Per-batch I/O is d²-sized regardless of the
    batch's row count.
    """
    from orientdb_etl_spark.functions.projections import gram_matrix

    def fn(batch_df, epoch_id: int) -> None:
        g = gram_matrix(batch_df, vec_col, dim)
        g.write.mode("overwrite").parquet(f"{target_path}/epoch={epoch_id}")

    return fn


def read_stream_gram(spark, target_path: str):
    """Sum the per-epoch Gram partials written by
    :func:`foreach_batch_gram` into one (i, j, g) matrix — by linearity
    it equals a batch :func:`gram_matrix` over the stream's full data,
    so the merged state feeds ``power_iteration``/``top_components``
    directly (streaming PCA refresh without a history re-scan)."""
    from pyspark.sql import functions as F  # noqa: F811

    cells = spark.read.parquet(target_path).select("i", "j", "g")
    return cells.groupBy("i", "j").agg(F.sum("g").alias("g"))


def foreach_batch_pairs(target_path: str, winner_col: str, loser_col: str):
    """``foreachBatch`` callback maintaining a running pairwise-battle
    count matrix over a preference stream (arena-style logs): each
    micro-batch's ``(winner, loser, n)`` partial lands in its OWN epoch
    directory; :func:`read_stream_pairs` sums across epochs into the
    consolidated battle matrix that
    :func:`~orientdb_etl_spark.functions.mleval.bradley_terry` fits with
    ``count_col="n"`` — a live leaderboard whose state is items²-sized
    regardless of stream volume, refreshed without re-scanning history.

    Same exactly-once discipline as :func:`foreach_batch_gram`: counts
    are SUMS (linear, not idempotent), so a checkpoint-replayed batch
    OVERWRITES its epoch rather than merging into an accumulator; the
    merge happens at read time over deterministic per-epoch states.
    """
    from pyspark.sql import functions as F  # noqa: F811

    def fn(batch_df, epoch_id: int) -> None:
        wl = (
            batch_df.where(
                F.col(winner_col).isNotNull() & F.col(loser_col).isNotNull()
            )
            .groupBy(winner_col, loser_col)
            .agg(F.count(F.lit(1)).alias("n"))
        )
        wl.write.mode("overwrite").parquet(f"{target_path}/epoch={epoch_id}")

    return fn


def read_stream_pairs(spark, target_path: str, winner_col: str, loser_col: str):
    """Sum the per-epoch battle partials written by
    :func:`foreach_batch_pairs` into one ``(winner, loser, n)`` matrix —
    by linearity it equals the one-shot aggregation over the stream's
    full data, so a Bradley–Terry fit over it equals the batch fit."""
    from pyspark.sql import functions as F  # noqa: F811

    return (
        spark.read.parquet(target_path)
        .groupBy(winner_col, loser_col)
        .agg(F.sum("n").alias("n"))
    )


def foreach_batch_qdigest(
    target_path: str, value_col: str, k: int = 64, universe_bits: int = 16
):
    """``foreachBatch`` callback maintaining streaming quantile state:
    each micro-batch's q-digest (functions/profiling.py
    :func:`qdigest_build` — ≤3k nodes regardless of batch size) lands
    in its OWN epoch directory; readers merge across epochs with
    :func:`read_stream_qdigest`. Same exactly-once discipline as
    :func:`foreach_batch_gram`: sketch construction is deterministic
    per input set but NOT idempotent under re-append, so a
    checkpoint-replayed batch OVERWRITES its epoch. Per-batch I/O is
    sketch-sized."""
    from orientdb_etl_spark.functions.profiling import qdigest_build

    def fn(batch_df, epoch_id: int) -> None:
        sk = qdigest_build(
            batch_df, value_col, k=k, universe_bits=universe_bits
        )
        sk.write.mode("overwrite").parquet(f"{target_path}/epoch={epoch_id}")

    return fn


def read_stream_qdigest(
    spark, target_path: str, k: int = 64, universe_bits: int = 16
):
    """Merge the per-epoch q-digests written by
    :func:`foreach_batch_qdigest` into one sketch (sequential
    :func:`~orientdb_etl_spark.functions.profiling.qdigest_merge` in
    epoch order — for two epochs the merge is symmetric union-sum, so
    arrival order cannot change the result). The merged sketch answers
    quantiles over the union of all epochs' data with the standard
    never-undershoot / ``universe_bits·n/k`` guarantees — streaming
    percentiles without a history re-scan."""
    import glob as _glob

    from orientdb_etl_spark.functions.profiling import qdigest_merge

    dirs = sorted(
        _glob.glob(f"{target_path}/epoch=*"),
        key=lambda p: int(p.rsplit("=", 1)[1]),
    )
    if not dirs:
        raise ValueError(f"no epoch directories under {target_path!r}")
    merged = spark.read.parquet(dirs[0]).select("lvl", "idx", "cnt")
    for d in dirs[1:]:
        merged = qdigest_merge(
            merged,
            spark.read.parquet(d).select("lvl", "idx", "cnt"),
            k=k,
            universe_bits=universe_bits,
        )
    return merged

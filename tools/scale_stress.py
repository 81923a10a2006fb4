"""Scale-stress harness: does the dedup/ANN machinery survive 10-50× the
fixture, and does the degenerate-bucket cap actually fire under a hot key?

Builds a corpus of ``factor`` re-keyed self-unions of ``documents`` (and
``embeddings``), injects a boilerplate hot key (``hot`` exact copies of one
document — the classic degenerate LSH bucket at 1000× median occupancy),
then measures:

- ``lsh_bucket_stats``: bucket occupancy + how many buckets exceed the cap
  and how many banded rows sit inside them (the cap observably engaging);
- ``minhash_lsh_dedup`` wall time and survivor count WITH the cap (bounded
  quadratic emit) vs pair counts with the cap disabled (the blow-up the
  cap prevents, measured on the candidate stream, not materialized);
- ``simhash_dedup`` wall time + survivors on the same skewed corpus;
- ``pairwise_topk_join`` (LSH-bucketed k-NN join) on the scaled embeddings;
- manifest ingest failure path: 64 gz shards + one poisoned URL —
  dead-letter row count under ``on_error='keep'`` and the raise under
  ``on_error='fail'`` (the documented error contract at shard scale);
- manifest resume: statePath run 1 records successes, run 2 over the same
  manifest dispatches ONLY the dead-letter, a late shard dispatches
  exactly the delta (the incremental-crawl idempotency contract).

Prints one JSON line; run with:

    python tools/scale_stress.py [sf_dir] [factor] [hot]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from orientdb_etl_spark import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    hot = int(sys.argv[3]) if len(sys.argv) > 3 else 1500

    from orientdb_etl_spark.functions.dedup import (
        _bucket_pairs,
        _minhash_banded,
        lsh_bucket_stats,
        minhash_lsh_dedup,
        simhash_dedup,
    )
    from orientdb_etl_spark.functions.similarity import pairwise_topk_join

    spark = get_spark("scale_stress")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    out: dict = {"sf_dir": sf_dir, "factor": factor, "hot": hot}
    out["n_docs_base"] = docs.count()
    out["n_vecs_base"] = emb.count()

    # --- corpus = factor re-keyed unions + one boilerplate hot key ------
    big = docs
    for i in range(1, factor):
        big = big.unionByName(
            docs.select(
                (F.col("doc_id") + i * 10_000_000).alias("doc_id"), "text"
            )
        )
    hot_text = docs.filter(F.col("doc_id") == 0).select("text")
    hot_docs = (
        spark.range(hot)
        .select((F.col("id") + 900_000_000).alias("doc_id"))
        .crossJoin(F.broadcast(hot_text))
    )
    big = big.unionByName(hot_docs).repartition(32).localCheckpoint()
    out["n_docs_scaled"] = big.count()

    bige = emb
    for i in range(1, factor):
        bige = bige.unionByName(
            emb.select(
                (F.col("vec_id") + i * 10_000_000).alias("vec_id"), "embedding"
            )
        )
    bige = bige.repartition(32).localCheckpoint()
    out["n_vecs_scaled"] = bige.count()

    # --- bucket-cap observability --------------------------------------
    # SAME banding (num_perm=128, bands=16 → 8 rows/band) as the timed
    # minhash_lsh_dedup below, so the reported bucket stats describe the
    # banding actually being stress-timed
    t0 = time.time()
    stats = lsh_bucket_stats(
        big, "text", "doc_id", num_perm=128, bands=16, max_bucket_size=1000
    ).first()
    out["bucket_stats"] = {k: (float(v) if v is not None else None) for k, v in stats.asDict().items()}
    out["t_bucket_stats"] = round(time.time() - t0, 2)

    # candidate-pair counts: capped vs uncapped (counted, not materialized)
    from orientdb_etl_spark.functions.dedup import _cap_bucket_size

    _, banded = _minhash_banded(big, "text", "doc_id", 128, 16, 5)
    banded = banded.localCheckpoint()
    t0 = time.time()
    capped = _cap_bucket_size(banded, ["band", "bucket"], 1000)
    out["n_cand_pairs_capped"] = _bucket_pairs(
        capped, ["band", "bucket"], "doc_id"
    ).count()
    out["t_cand_capped"] = round(time.time() - t0, 2)
    t0 = time.time()
    out["n_cand_pairs_uncapped"] = _bucket_pairs(
        banded, ["band", "bucket"], "doc_id"
    ).count()
    out["t_cand_uncapped"] = round(time.time() - t0, 2)

    # --- production dedup paths on the skewed corpus -------------------
    t0 = time.time()
    out["minhash_survivors"] = minhash_lsh_dedup(
        big, "text", "doc_id", num_perm=128, bands=16, threshold=0.7
    ).count()
    out["t_minhash_dedup"] = round(time.time() - t0, 2)

    t0 = time.time()
    out["simhash_survivors"] = simhash_dedup(
        big, "text", "doc_id", max_hamming=3
    ).count()
    out["t_simhash_dedup"] = round(time.time() - t0, 2)

    # --- full curation composition on the skewed corpus ----------------
    # (C4 clean → Gopher filter → exact dedup → MinHash-LSH near-dedup →
    # token annotation) — the dedup stages are stress-covered above; this
    # times THEIR COMPOSITION with the scan-fused clean/filter stages in
    # front, i.e. what a real corpus build runs end-to-end
    from orientdb_etl_spark.functions.curation import curate_corpus

    t0 = time.time()
    out["curate_survivors"] = curate_corpus(
        big, "text", "doc_id",
        min_words_per_line=1, require_terminal_punct=False,
        near_dup_threshold=0.7,
    ).count()
    out["t_curate_corpus"] = round(time.time() - t0, 2)

    # --- cross-snapshot incremental dedup on the skewed corpus ---------
    # seen = the base corpus; new = every re-keyed copy (incl. the hot
    # key), half of them suffix-perturbed so the exact fingerprint stage
    # catches the verbatim half and the MinHash stage must catch the rest
    from orientdb_etl_spark.functions.dedup import (
        incremental_dedup,
        incremental_near_dedup,
        semantic_dedup,
    )

    new_docs = big.filter(F.col("doc_id") >= 10_000_000).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 1, F.concat(F.col("text"), F.lit(" zz"))
        ).otherwise(F.col("text")),
    )
    out["n_incremental_new"] = new_docs.count()
    t0 = time.time()
    inc = incremental_near_dedup(
        incremental_dedup(new_docs, docs),
        docs,
        "text",
        "doc_id",
        threshold=0.6,
    )
    out["incremental_survivors"] = inc.count()
    out["t_incremental"] = round(time.time() - t0, 2)

    # --- SemDeDup on the scaled embeddings -----------------------------
    # every vector has factor-1 cosine-identical twins; the clustered
    # pair sweep must collapse the corpus back to ~the base count with
    # candidate work bounded by the cell sizes, not N²
    t0 = time.time()
    out["semantic_survivors"] = semantic_dedup(
        bige, "embedding", "vec_id", nlist=64, threshold=0.99
    ).count()
    out["t_semantic_dedup"] = round(time.time() - t0, 2)

    # --- fixed-state frequency sketch on the scaled events -------------
    # key cardinality stays fixed (same user_ids) while row count scales
    # by ``factor``: the sketch row count must NOT move — that is the
    # whole point of sketching (state bound independent of data volume)
    from orientdb_etl_spark.functions.profiling import cms_build
    from orientdb_etl_spark.operators.temporal import rolling_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "value"
    )
    bigev = ev
    for i in range(1, factor):
        bigev = bigev.unionByName(
            ev.select(
                (F.col("event_id") + i * 10_000_000).alias("event_id"),
                "ts", "user_id", "value",
            )
        )
    bigev = bigev.repartition(32).localCheckpoint()
    out["n_events_scaled"] = bigev.count()
    t0 = time.time()
    out["cms_rows_base"] = cms_build(ev, "user_id", width=2048, depth=4).count()
    out["t_cms_base"] = round(time.time() - t0, 2)
    t0 = time.time()
    out["cms_rows_scaled"] = cms_build(
        bigev, "user_id", width=2048, depth=4
    ).count()
    out["t_cms_scaled"] = round(time.time() - t0, 2)

    # --- keyed rolling time-RANGE window on the scaled events ----------
    # frames get ``factor``× denser per user (same time span, more rows):
    # per-key sliding state grows with window density, wall time should
    # stay near-linear in row count
    t0 = time.time()
    out["rolling_rows_scaled"] = rolling_agg(
        bigev, "ts", ["user_id"], {"rn": "count(1)", "rs": "sum(value)"}, 7200
    ).count()
    out["t_rolling_scaled"] = round(time.time() - t0, 2)

    # --- LSH-bucketed k-NN join on the scaled embeddings ---------------
    t0 = time.time()
    out["pairwise_rows"] = pairwise_topk_join(
        bige, bige, "embedding", "vec_id", "vec_id", k=3
    ).count()
    out["t_pairwise"] = round(time.time() - t0, 2)

    # --- association-rule basket cap under a degenerate mega-basket ----
    # one basket holding EVERY item (s·(s-1)/2 pair fan-out, the
    # quadratic hazard frequent_pairs documents): measure the capped run
    # and the pair count the cap removed (on the pair stream, not
    # materialized), mirroring the LSH bucket-cap evidence above
    from orientdb_etl_spark.functions.basket import frequent_pairs

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("basket"),
        (F.col("l_partkey") % 2000).alias("item"),
    )
    mega = spark.range(out["n_docs_base"]).select(
        F.lit(999_999_999).alias("basket"), (F.col("id") % 2000).alias("item")
    )
    skewed = li.unionByName(mega).repartition(32).localCheckpoint()
    out["n_basket_rows"] = skewed.count()

    def _pair_stream(b):
        # the raw candidate fan-out the cap bounds (pre-aggregation)
        a = b.select("basket", F.col("item").alias("_ia"))
        c = b.select("basket", F.col("item").alias("_ib"))
        return a.join(c, "basket").filter(F.col("_ia") < F.col("_ib")).count()

    dedup_b = skewed.distinct()
    sized = dedup_b.groupBy("basket").agg(F.count(F.lit(1)).alias("_sz"))
    kept = dedup_b.join(
        sized.filter(F.col("_sz") <= 100).select("basket"), "basket", "left_semi"
    )
    out["pair_stream_uncapped"] = _pair_stream(dedup_b)
    out["pair_stream_capped"] = _pair_stream(kept)
    # uncapped timed FIRST so any warm-up cost lands on the run the cap
    # is supposed to beat; min_pair_count=2 keeps the output non-empty
    t0 = time.time()
    out["pairs_uncapped"] = frequent_pairs(
        skewed, "basket", "item", min_pair_count=2
    ).count()
    out["t_pairs_uncapped"] = round(time.time() - t0, 2)
    t0 = time.time()
    out["pairs_capped"] = frequent_pairs(
        skewed, "basket", "item", min_pair_count=2, max_basket_size=100
    ).count()
    out["t_pairs_capped"] = round(time.time() - t0, 2)

    # --- set-similarity prefix filter: candidate reduction vs all-pairs
    # the lossless blocking evidence: count the candidate pair stream the
    # prefix filter emits vs the n·(n-1)/2 all-pairs a naive similarity
    # join verifies, on the (intentionally self-similar) document corpus
    from orientdb_etl_spark.functions.linkage import set_similarity_join

    sdocs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n_txt = sdocs.where(
        F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) > 0
    ).count()
    out["setsim_all_pairs"] = n_txt * (n_txt - 1) // 2
    t0 = time.time()
    res = set_similarity_join(sdocs, "doc_id", "text", threshold=0.9)
    out["setsim_true_pairs"] = res.count()
    out["t_setsim"] = round(time.time() - t0, 2)
    # candidate stream size: the REAL blocking stages (shared helpers —
    # includes the PPJoin positional filter), not a drifting copy
    from orientdb_etl_spark.functions.linkage import (
        _jaccard_candidates,
        _rarity_ordered,
        _token_sets,
    )

    sets = _token_sets(sdocs, "doc_id", "text")
    out["setsim_candidates"] = _jaccard_candidates(
        _rarity_ordered(sets, sets, 0.9), 0.9
    ).count()

    # --- exact shared-span machinery on the skewed corpus --------------
    # every re-keyed copy shares ALL its 8-token windows with its base
    # doc, so the corpus is maximal cross-doc span duplication. Evidence:
    # (a) winnowing (guard=3) shrinks the posting stream ~3x, (b) the
    # capped production pair config completes on 51k heavily-duplicated
    # docs, (c) per-doc exposure stats and the span-removal rewrite both
    # complete with per-doc-bounded state at the same scale
    from orientdb_etl_spark.functions.dedup import (
        shared_span_pairs,
        strip_duplicate_spans,
    )
    from orientdb_etl_spark.functions.passages import duplicate_passage_stats

    w = 8
    tkd = (
        big.where(F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) > 0)
        .select(F.split(F.lower(F.trim("text")), r"\s+").alias("_t"))
        .where(F.size("_t") >= w + 2)  # eligible for guard=3 too
        .select(
            F.expr(
                f"transform(sequence(1, size(_t) - {w} + 1), "
                f"i -> xxhash64(concat_ws(' ', slice(_t, i, {w}))))"
            ).alias("_h")
        )
        .localCheckpoint()
    )
    # posting-stream sizes, mirroring shared_span_pairs' guard selection
    out["span_postings_guard1"] = tkd.select(
        F.explode(F.expr("array_distinct(_h)"))
    ).count()
    out["span_postings_guard3"] = tkd.select(
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, size(_h) - 2), "
                "i -> array_min(slice(_h, i, 3))))"
            )
        )
    ).count()
    t0 = time.time()
    out["span_pairs_capped"] = shared_span_pairs(
        big, "text", "doc_id", window=w, guard=3, max_group=1000
    ).count()
    out["t_span_pairs"] = round(time.time() - t0, 2)
    t0 = time.time()
    exposed = duplicate_passage_stats(big, "text", "doc_id", n=w)
    agg = exposed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("dup_frac") > 0.5).cast("long")).alias("heavy"),
    ).first()
    out["span_stats_docs"] = int(agg["n"])
    out["span_stats_heavy_docs"] = int(agg["heavy"])
    out["t_span_stats"] = round(time.time() - t0, 2)
    t0 = time.time()
    stripped = strip_duplicate_spans(big, "text", "doc_id", window=w)
    sagg = stripped.agg(
        F.sum("removed_tokens").alias("rm"), F.sum("n_toks").alias("nt")
    ).first()
    out["span_strip_removed_tokens"] = int(sagg["rm"])
    out["span_strip_total_tokens"] = int(sagg["nt"])
    out["t_span_strip"] = round(time.time() - t0, 2)

    # ---- breadth-wave machinery on the scaled corpus/embeddings ----
    from orientdb_etl_spark.functions.decontam import semantic_decontaminate
    from orientdb_etl_spark.functions.spatial import grid_density_clusters

    # semantic decontamination: scaled train (factor× re-keyed embeddings)
    # vs an eval set of every 10th BASE vector — every re-keyed copy of an
    # eval member must drop (exact cosine 1), so survivors are checkable
    big_emb = emb
    for i in range(1, factor):
        big_emb = big_emb.unionAll(
            emb.select(
                (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                "embedding",
            )
        )
    big_emb = big_emb.localCheckpoint(eager=True)
    ev = emb.where(F.col("vec_id") % 10 == 0).select("embedding")
    t0 = time.time()
    out["semdecon_train"] = big_emb.count()
    out["semdecon_survivors"] = semantic_decontaminate(
        big_emb, ev, "embedding", "vec_id", threshold=0.97
    ).count()
    out["t_semantic_decontam"] = round(time.time() - t0, 2)

    # grid-density clustering: factor× points from re-keyed user ids —
    # cell count is FIXED by geometry, so dense-cell state must not grow
    pts = big_emb.select(
        F.col("vec_id").alias("id"),
        F.expr("((vec_id + 17) % 1000003) * 2654435761 % 4000").alias("x"),
        F.expr("((vec_id + 71) % 1000003) * 2654435761 % 4000").alias("y"),
    )
    t0 = time.time()
    labeled = grid_density_clusters(pts, "id", "x", "y", eps=250, min_pts=8)
    gagg = labeled.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("cluster").alias("k"),
        F.sum(F.col("cluster").isNull().cast("long")).alias("noise"),
    ).first()
    out["grid_points"] = int(gagg["n"])
    out["grid_clusters"] = int(gagg["k"])
    out["grid_noise_points"] = int(gagg["noise"])
    out["t_grid_clusters"] = round(time.time() - t0, 2)

    # --- manifest ingest failure path at shard scale --------------------
    # N gz shards staged from the scaled corpus + one poisoned URL in the
    # middle of the manifest. Evidence for the documented error contract
    # (README "Manifest-scale ingestion"): with on_error='keep' +
    # error_rows=True every good shard lands AND the poisoned URL emits
    # exactly one dead-letter row (line_no=0, NULL value); with
    # on_error='fail' the job raises instead of silently dropping.
    import gzip
    import shutil
    import tempfile

    from orientdb_etl_spark.sources.manifest import fetch_manifest

    n_shards = 64
    stage = tempfile.mkdtemp(prefix="manifest_stress_")
    try:
        texts = [
            r["text"]
            for r in docs.limit(n_shards * 50).select("text").collect()
        ]
        shard_urls = []
        for s in range(n_shards):
            p = f"{stage}/shard_{s:04d}.txt.gz"
            with gzip.open(p, "wt", encoding="utf-8") as f:
                for t in texts[s * 50 : (s + 1) * 50]:
                    f.write((t or "") + "\n")
            shard_urls.append(p)
        poisoned = (
            shard_urls[: n_shards // 2]
            + [f"{stage}/missing_shard.txt.gz"]
            + shard_urls[n_shards // 2 :]
        )
        t0 = time.time()
        fetched = fetch_manifest(
            poisoned, spark=spark, mode="lines",
            on_error="keep", error_rows=True,
        ).localCheckpoint(eager=True)
        dead = fetched.where(F.col("status") < 0)
        out["manifest_shards"] = n_shards
        out["manifest_rows_good"] = fetched.where(
            F.col("status") >= 0
        ).count()
        out["manifest_dead_letter_rows"] = dead.count()
        out["manifest_dead_letter_urls"] = [
            r["url"].rsplit("/", 1)[-1] for r in dead.select("url").collect()
        ]
        out["t_manifest_keep"] = round(time.time() - t0, 2)
        t0 = time.time()
        try:
            fetch_manifest(
                poisoned, spark=spark, mode="lines", on_error="fail"
            ).count()
            out["manifest_fail_raised"] = False
        except Exception:
            out["manifest_fail_raised"] = True
        out["t_manifest_fail"] = round(time.time() - t0, 2)

        # --- manifest resume (statePath) -----------------------------
        # Round-7 resume contract: run 1 fetches the full manifest and
        # records its successes; run 2 over the SAME manifest dispatches
        # ONLY the dead-letter (zero re-downloads); adding a shard then
        # dispatches exactly the delta. This is the incremental-crawl
        # idempotency the config statePath option exposes.
        from orientdb_etl_spark.sources.manifest import (
            record_manifest_state,
        )

        state = f"{stage}/state"
        t0 = time.time()
        r1 = fetch_manifest(
            poisoned, spark=spark, mode="binary", on_error="keep",
            state_path=state,
        ).localCheckpoint(eager=True)
        out["resume_run1_fetched"] = r1.count()
        out["resume_run1_recorded"] = record_manifest_state(r1, state)
        r2 = fetch_manifest(
            poisoned, spark=spark, mode="binary", on_error="keep",
            state_path=state,
        ).localCheckpoint(eager=True)
        out["resume_run2_fetched"] = r2.count()
        out["resume_run2_urls"] = sorted(
            r["url"].rsplit("/", 1)[-1] for r in r2.select("url").collect()
        )
        extra = f"{stage}/extra_shard.txt.gz"
        with gzip.open(extra, "wt", encoding="utf-8") as f:
            f.write("late shard\n")
        r3 = fetch_manifest(
            poisoned + [extra], spark=spark, mode="binary",
            on_error="keep", state_path=state,
        ).localCheckpoint(eager=True)
        out["resume_run3_urls"] = sorted(
            r["url"].rsplit("/", 1)[-1] for r in r3.select("url").collect()
        )
        out["t_manifest_resume"] = round(time.time() - t0, 2)

        # --- streaming ingest × resume state: crash + restart ---------
        # Round-8 crash-consistency contract: a checkpointed streaming
        # ingest with statePath is killed mid-run by a poisoned batch;
        # the restart from the SAME checkpoint must complete without
        # re-fetching any URL a committed batch ingested — proven by
        # DELETING those shard files before the restart. Also proves
        # cross-manifest URL dedup (the last manifest re-lists an
        # already-ingested URL whose file is gone).
        import os

        from orientdb_etl_spark.streaming.ops import start_manifest_ingest

        t0 = time.time()
        sdir = f"{stage}/stream"
        os.makedirs(f"{sdir}/man")
        n_per, n_man = 8, 4
        all_shards: list[str] = []
        for m in range(n_man):
            batch = shard_urls[m * n_per : (m + 1) * n_per]
            all_shards.extend(batch)
            lines = list(batch)
            if m == n_man - 1:
                lines.append(f"{stage}/missing_shard.txt.gz")  # poison
                lines.append(shard_urls[0])  # relisted, file deleted later
            with open(f"{sdir}/man/m{m}.txt", "w") as f:
                f.write("\n".join(lines) + "\n")
            os.utime(f"{sdir}/man/m{m}.txt", (1000000 + m, 1000000 + m))
        kw = dict(
            mode="lines",
            state_path=f"{sdir}/state",
            max_files_per_trigger=1,
            fetch_kwargs={"retries": 0},
        )
        q = start_manifest_ingest(
            spark, f"{sdir}/man", f"{sdir}/target", f"{sdir}/ckpt", **kw
        )
        try:
            q.awaitTermination(300)
        except Exception:
            pass
        out["stream_resume_crashed"] = q.exception() is not None
        committed = {
            r["url"]
            for r in spark.read.parquet(f"{sdir}/target")
            .select("url")
            .distinct()
            .collect()
        }
        out["stream_resume_committed_shards"] = len(committed)
        # fix the poison, delete every committed shard file, restart
        with gzip.open(
            f"{stage}/missing_shard.txt.gz", "wt", encoding="utf-8"
        ) as f:
            f.write("late line\n")
        for u in committed:
            os.remove(u)
        q2 = start_manifest_ingest(
            spark, f"{sdir}/man", f"{sdir}/target", f"{sdir}/ckpt", **kw
        )
        q2.awaitTermination(300)
        out["stream_resume_restart_clean"] = q2.exception() is None
        spark.catalog.refreshByPath(f"{sdir}/target")
        tgt = spark.read.parquet(f"{sdir}/target")
        out["stream_resume_final_urls"] = tgt.select("url").distinct().count()
        out["stream_resume_expected_urls"] = len(set(all_shards)) + 1
        out["stream_resume_dup_keys"] = (
            tgt.groupBy("url", "line_no").count().filter("count > 1").count()
        )
        out["stream_resume_state_urls"] = (
            spark.read.parquet(f"{sdir}/state").distinct().count()
        )
        out["t_stream_resume"] = round(time.time() - t0, 2)
    finally:
        shutil.rmtree(stage, ignore_errors=True)

    # --- trained-model quality filters on the skewed corpus ------------
    # (round 8) the CCNet KN perplexity filter and the fastText-style
    # classifier must hold shape at factor× + hot key: model state stays
    # bigram-type-/buckets-sized, the crawl is scanned once per stage,
    # and the 'hot' identical documents land identical scores (the
    # determinism the integer pinning guarantees — a hot boilerplate key
    # is exactly where a nondeterministic scorer would smear).
    from orientdb_etl_spark.functions.ngram_lm import perplexity_buckets
    from orientdb_etl_spark.functions.quality_clf import (
        score_quality,
        train_quality_classifier,
    )

    ref = docs.limit(2000)  # bounded reference corpus (CCNet: Wikipedia)
    t0 = time.time()
    buck = perplexity_buckets(big, ref, cutoffs=(35.0, 42.0))
    agg = (
        buck.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("bucket") == "tail").cast("int")).alias("tail"),
        ).first()
    )
    out["kn_scored_docs"] = agg.n
    out["kn_tail_docs"] = agg.tail
    hot_ppl = (
        buck.filter(F.col("doc_id") >= 900_000_000)
        .agg(
            F.count_distinct("ppl").alias("d"),
            F.count(F.lit(1)).alias("n"),
        )
        .first()
    )
    out["kn_hot_docs"] = hot_ppl.n
    out["kn_hot_distinct_ppl"] = hot_ppl.d  # MUST be 1
    out["t_kn_buckets"] = round(time.time() - t0, 2)

    t0 = time.time()
    labeled = big.withColumn("label", (F.col("doc_id") % 2 == 0).cast("int"))
    wtab = train_quality_classifier(
        labeled, buckets=1024, iters=3, lr=1.0
    )
    out["clf_weight_slots"] = wtab.count()
    out["t_clf_train"] = round(time.time() - t0, 2)
    t0 = time.time()
    scored = score_quality(big, wtab, buckets=1024)
    hot_prob = (
        scored.filter(F.col("doc_id") >= 900_000_000)
        .agg(F.count_distinct("prob").alias("d"))
        .first()
        .d
    )
    out["clf_scored_docs"] = scored.count()
    out["clf_hot_distinct_prob"] = hot_prob  # MUST be 1
    out["t_clf_score"] = round(time.time() - t0, 2)

    # --- DoReMi Group-DRO on the skewed corpus --------------------------
    # (round 8) the mixture optimizer's iteration state must stay bounded
    # at factor×: alpha is domain-count rows, weights buckets+1, gradient
    # partials domains×(buckets+1) — none scale with the corpus. The
    # output is a simplex over exactly the domain set.
    from orientdb_etl_spark.functions.doremi import doremi_mixture

    t0 = time.time()
    domained = labeled.withColumn(
        "dom", F.concat(F.lit("d"), (F.col("doc_id") % 8).cast("string"))
    )
    mix = doremi_mixture(
        domained, "dom", buckets=1024, ref_iters=1, iters=2,
        lr=1.0, eta=2.0,
    )
    rows = mix.collect()  # domain-count-bounded by construction
    out["doremi_domains"] = len(rows)
    out["doremi_expected_domains"] = 8
    out["doremi_alpha_sum"] = round(sum(r.alpha for r in rows), 6)
    out["doremi_alpha_final_sum"] = round(
        sum(r.alpha_final for r in rows), 6
    )
    out["t_doremi"] = round(time.time() - t0, 2)

    # --- q-digest quantile sketch on the skewed corpus ------------------
    # (round 8) the sketch must stay ≤3k nodes at factor× (state is
    # size-independent by construction) and its reads must keep the
    # never-undershoot / U·n/k rank guarantees against the exact column
    # — the hot key concentrates n_chars mass on one value, exactly the
    # skew a quantile sketch has to absorb without blowing its bound.
    from orientdb_etl_spark.functions.profiling import (
        qdigest_build,
        qdigest_quantiles,
    )

    t0 = time.time()
    qk, qu = 512, 20
    chars = big.select(F.length("text").cast("long").alias("n_chars"))
    sk = qdigest_build(chars, "n_chars", k=qk, universe_bits=qu)
    n_mass = sk.agg(F.sum("cnt")).first()[0]
    out["qdigest_nodes"] = sk.count()  # MUST be <= 3k
    out["qdigest_mass"] = n_mass
    ests = qdigest_quantiles(
        sk, [0.01, 0.5, 0.99], k=qk, universe_bits=qu
    ).collect()
    bound = qu * max(int(n_mass) // qk, 1)
    cert = chars.agg(
        *[
            F.sum((F.col("n_chars") <= F.lit(r.est)).cast("long")).alias(
                f"le{i}"
            )
            for i, r in enumerate(ests)
        ]
    ).first()
    out["qdigest_guarantees_ok"] = all(
        cert[f"le{i}"] >= r.target_rank
        and cert[f"le{i}"] - r.target_rank <= bound
        for i, r in enumerate(ests)
    )
    out["t_qdigest"] = round(time.time() - t0, 2)

    print(json.dumps(out))


if __name__ == "__main__":
    main()

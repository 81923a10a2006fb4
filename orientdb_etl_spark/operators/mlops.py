"""Config-transformer wrappers for the training-data operators.

Makes dedup/similarity/text first-class pipeline citizens — usable from a
JSON config like any reference transformer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from orientdb_etl_spark.context import PipelineContext
from orientdb_etl_spark.operators import register


@register("dedup")
def dedup_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    from orientdb_etl_spark.functions import dedup as D

    method = str(cfg.get("method", "exact")).lower()
    if method == "exact":
        return D.exact_dedup(df, cfg.get("columns"), cfg.get("tieBreak"))
    if method == "minhash":
        return D.minhash_lsh_dedup(
            df,
            cfg["textField"],
            cfg["idField"],
            num_perm=int(cfg.get("numPerm", 64)),
            bands=int(cfg.get("bands", 16)),
            shingle_k=int(cfg.get("shingle", 5)),
            threshold=float(cfg.get("threshold", 0.8)),
            survivor=cfg.get("survivor", "bucket_min"),
            score_col=cfg.get("scoreField"),
        )
    if method == "simhash":
        return D.simhash_dedup(
            df,
            cfg["textField"],
            cfg["idField"],
            max_hamming=int(cfg.get("maxHamming", 3)),
            survivor=cfg.get("survivor", "bucket_min"),
            score_col=cfg.get("scoreField"),
        )
    if method == "embedding":
        return D.embedding_near_dedup(
            df,
            cfg["vecField"],
            cfg["idField"],
            threshold=float(cfg.get("threshold", 0.95)),
        )
    if method == "soft":
        # duplicate-aware downweighting (keep, don't drop): weight =
        # 1/dup_count^alpha, to feed the weighted sampler
        return D.soft_dedup_weights(
            df,
            cfg["textField"],
            cfg["idField"],
            alpha=float(cfg.get("alpha", 1.0)),
        )
    if method == "incremental":
        seen_name = cfg["seenTable"]
        if seen_name not in ctx.tables:
            raise ValueError(
                f"dedup method 'incremental': seenTable {seen_name!r} is not "
                "a registered table"
            )
        seen = ctx.tables[seen_name]
        out = D.incremental_dedup(
            df,
            seen,
            text_col=cfg.get("textField", "text"),
            seen_text_col=cfg.get("seenTextField"),
            mode=cfg.get("mode", "filter"),
        )
        near = cfg.get("nearThreshold")
        if near is not None:
            out = D.incremental_near_dedup(
                out,
                seen,
                cfg.get("textField", "text"),
                cfg["idField"],
                seen_text_col=cfg.get("seenTextField"),
                num_perm=int(cfg.get("numPerm", 128)),
                bands=int(cfg.get("bands", 16)),
                shingle_k=int(cfg.get("shingle", 5)),
                threshold=float(near),
                mode=cfg.get("mode", "filter"),
            )
        return out
    if method == "semantic":
        return D.semantic_dedup(
            df,
            cfg["vecField"],
            cfg["idField"],
            nlist=int(cfg.get("nlist", 64)),
            threshold=float(cfg.get("threshold", 0.95)),
            survivor=cfg.get("survivor", "semdedup"),
            score_col=cfg.get("scoreField"),
        )
    raise ValueError(f"unknown dedup method {method!r}")


@register("similarity")
def similarity_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    from orientdb_etl_spark.functions import similarity as S

    method = str(cfg.get("method", "brute")).lower()
    if method == "brute":
        return S.brute_force_topk(
            df, cfg["vecField"], cfg["idField"], cfg["query"], int(cfg.get("k", 10))
        )
    if method == "lsh":
        return S.lsh_bucketed_topk(
            df, cfg["vecField"], cfg["idField"], cfg["query"],
            int(cfg.get("k", 10)), hamming=int(cfg.get("hamming", 1)),
        )
    if method == "ivf":
        return S.ivf_topk(
            df, cfg["vecField"], cfg["idField"], cfg["query"],
            k=int(cfg.get("k", 10)), nlist=int(cfg.get("nlist", 16)),
            nprobe=int(cfg.get("nprobe", 4)),
        )
    if method == "pairwise":
        return S.pairwise_topk_join(
            df, df, cfg["vecField"], cfg["idField"], cfg["idField"],
            k=int(cfg.get("k", 5)), planes=int(cfg.get("planes", 6)),
        )
    if method == "pq":
        rr = cfg.get("rerank")
        return S.pq_topk(
            df, cfg["vecField"], cfg["idField"], cfg["query"],
            k=int(cfg.get("k", 10)), m=int(cfg.get("m", 8)),
            ksub=int(cfg.get("ksub", 16)),
            rerank=None if rr is None else int(rr),
        )
    if method == "jl":
        from orientdb_etl_spark.functions.projections import jl_topk

        return jl_topk(
            df, cfg["vecField"], cfg["idField"], cfg["query"],
            dim=int(cfg["dim"]), out_dim=int(cfg.get("outDim", 16)),
            k=int(cfg.get("k", 10)), expand=int(cfg.get("expand", 4)),
            seed=int(cfg.get("seed", 42)),
        )
    if method == "ivfpq":
        rr = cfg.get("rerank", 5)
        return S.ivfpq_topk(
            df, cfg["vecField"], cfg["idField"], cfg["query"],
            k=int(cfg.get("k", 10)), nlist=int(cfg.get("nlist", 16)),
            nprobe=int(cfg.get("nprobe", 4)), m=int(cfg.get("m", 8)),
            ksub=int(cfg.get("ksub", 256)),
            rerank=None if rr is None else int(rr),
        )
    raise ValueError(f"unknown similarity method {method!r}")


@register("normalize")
def normalize_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"normalize": {"textField": "text", "form": "NFC",
    "stripControls": true}} — Unicode normalization ahead of fingerprint/
    dedup stages (combining-sequence vs precomposed text must not count
    as distinct documents)."""
    from orientdb_etl_spark.functions.text import normalize_text

    return normalize_text(
        df,
        cfg.get("textField", "text"),
        form=str(cfg.get("form", "NFC")),
        strip_controls=bool(cfg.get("stripControls", True)),
        out_col=cfg.get("outField"),
    )


@register("impute")
def impute_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"impute": {"columns": ["value"], "strategy": "median",
    "by": "event_type"}} — NULL fill from group statistics."""
    from orientdb_etl_spark.functions.preprocess import impute

    return impute(
        df, list(cfg["columns"]), cfg.get("strategy", "mean"), cfg.get("by")
    )


@register("standardize")
def standardize_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"standardize": {"columns": ["value"], "by": "event_type",
    "suffix": "_z"}} — per-group z-scores appended."""
    from orientdb_etl_spark.functions.preprocess import standardize

    return standardize(
        df, list(cfg["columns"]), cfg.get("by"), cfg.get("suffix", "_z")
    )


@register("htmlExtract")
def html_extract_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"htmlExtract": {"htmlField": "html", "outField": "text"}} —
    HTML → readable text as the first stage of a crawl-curation chain
    (upstream of normalize / c4 / gopher / dedup). Scan-fused JVM regex
    chain; ``outField`` defaults to replacing the input column."""
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.text import html_to_text

    src = cfg.get("htmlField", "html")
    out = cfg.get("outField", src)
    return df.withColumn(out, html_to_text(F.col(src)))


@register("text_metrics")
def text_metrics_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    from orientdb_etl_spark.functions.text import add_text_metrics

    return add_text_metrics(df, cfg.get("textField", "text"))


@register("lineDedup")
def line_dedup_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"lineDedup": {"textField": "text", "idField": "doc_id",
    "minDocs": 2, "mode": "strip"|"stats"}} — corpus-level boilerplate
    line removal (strip) or the per-doc shared-line profile (stats)."""
    from orientdb_etl_spark.functions.text import (
        line_dup_stats,
        strip_boilerplate_lines,
    )

    text = cfg.get("textField", "text")
    idc = cfg.get("idField", "doc_id")
    n = int(cfg.get("minDocs", 2))
    if str(cfg.get("mode", "strip")) == "stats":
        return line_dup_stats(df, text, idc, n)
    return strip_boilerplate_lines(df, text, idc, n)


@register("unigramScore")
def unigram_score_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"unigramScore": {"textField": "text", "idField": "doc_id"}} —
    per-doc mean unigram log-prob under the corpus's own distribution."""
    from orientdb_etl_spark.functions.text import unigram_logprob_score

    return unigram_logprob_score(
        df, cfg.get("textField", "text"), cfg.get("idField", "doc_id")
    )


@register("bm25")
def bm25_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"bm25": {"textField": "text", "idField": "doc_id",
    "query": ["spark", "window"], "k": 20}} — BM25 top-k relevance against
    a fixed term query; zero corpus shuffle (see functions.text.bm25_scores)."""
    from orientdb_etl_spark.functions.text import bm25_scores

    return bm25_scores(
        df,
        cfg.get("textField", "text"),
        cfg.get("idField", "doc_id"),
        list(cfg["query"]),
        k1=float(cfg.get("k1", 1.2)),
        b=float(cfg.get("b", 0.75)),
        k=int(cfg.get("k", 20)),
    )


@register("tfidfTopk")
def tfidf_topk_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"tfidfTopk": {"idField": "doc_id", "textField": "text", "k": 5,
    "minDf": 1}} — top-k TF-IDF keywords per document (the inverse view
    of bm25: per-doc extraction, not per-query ranking)."""
    from orientdb_etl_spark.functions.text import tfidf_topk

    return tfidf_topk(
        df,
        id_col=cfg.get("idField", "doc_id"),
        text_col=cfg.get("textField", "text"),
        k=int(cfg.get("k", 5)),
        min_df=int(cfg.get("minDf", 1)),
    )


@register("quality")
def quality_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"quality": {"textField": "text", "method": "gopher"|"c4"|"ngram",
    ...}} — quality signals/cleaning as config citizens:

    - ``gopher``: append the 8 Gopher rule flags as columns (prefix
      ``q_``); ``filter: true`` keeps only rows passing the ``rules``
      conjunction (default: the corpus-independent subset).
    - ``c4``: rewrite textField through C4 line cleaning
      (``minWords``, ``requireTerminalPunct``), dropping rows left
      empty; audit counts appended as ``n_lines``/``n_kept``.
    - ``ngram``: append ``rep<n>`` duplicate-n-gram fractions for each
      n in ``ns`` (default [2, 3]), one staged tokenization.
    """
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.text import (
        c4_line_filter,
        gopher_quality_flags,
        ngram_repetition_ratio,
    )

    text = cfg.get("textField", "text")
    method = str(cfg.get("method", "gopher")).lower()
    if method == "gopher":
        out = df.withColumn("_g", gopher_quality_flags(text))
        if cfg.get("filter"):
            from orientdb_etl_spark.functions.curation import DEFAULT_QUALITY_RULES

            keep = F.lit(True)
            for rule in cfg.get("rules", list(DEFAULT_QUALITY_RULES)):
                keep = keep & F.col(f"_g.{rule}")
            out = out.filter(keep)
        flags = [f.name for f in out.schema["_g"].dataType.fields]
        return out.select(
            "*", *[F.col(f"_g.{f}").alias(f"q_{f}") for f in flags]
        ).drop("_g")
    if method == "c4":
        out = (
            df.withColumn(
                "_c4",
                c4_line_filter(
                    text,
                    int(cfg.get("minWords", 3)),
                    bool(cfg.get("requireTerminalPunct", True)),
                ),
            )
            .filter(F.col("_c4.n_kept") > 0)
            .withColumn(text, F.col("_c4.text"))
            .withColumn("n_lines", F.col("_c4.n_lines"))
            .withColumn("n_kept", F.col("_c4.n_kept"))
            .drop("_c4")
        )
        return out
    if method == "ngram":
        staged = df.withColumn("_toks", F.split(F.trim(F.col(text)), r"\s+"))
        for n in cfg.get("ns", [2, 3]):
            staged = staged.withColumn(
                f"rep{n}",
                ngram_repetition_ratio(text, int(n), tokens=F.col("_toks")),
            )
        return staged.drop("_toks")
    raise ValueError(f"unknown quality method {method!r}")


@register("curate")
def curate_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"curate": {"textField": "text", "idField": "doc_id",
    "nearDupThreshold": 0.7|null, "stripSpanWindow": 8|null, ...}} —
    the end-to-end curation composition (C4 clean → Gopher filter →
    dedup → tokenize, optionally followed by the exact-substring span
    remediation) as one config transformer."""
    from orientdb_etl_spark.functions.curation import (
        DEFAULT_QUALITY_RULES,
        curate_corpus,
    )

    thr = cfg.get("nearDupThreshold", 0.7)
    ssw = cfg.get("stripSpanWindow")
    return curate_corpus(
        df,
        cfg.get("textField", "text"),
        cfg.get("idField", "doc_id"),
        min_words_per_line=int(cfg.get("minWords", 3)),
        require_terminal_punct=bool(cfg.get("requireTerminalPunct", True)),
        quality_rules=cfg.get("rules", DEFAULT_QUALITY_RULES),
        near_dup_threshold=None if thr is None else float(thr),
        num_perm=int(cfg.get("numPerm", 128)),
        bands=int(cfg.get("bands", 16)),
        strip_span_window=None if ssw is None else int(ssw),
    )


@register("passages")
def passages_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"passages": {"textField": "text", "idField": "doc_id", "n": 20,
    "mode": "stats"|"strip", "minDocs": 2}} — cross-document duplicated-
    passage profiling (stats) or ExactSubstr-style passage removal
    (strip)."""
    from orientdb_etl_spark.functions import passages as P

    kwargs = dict(
        text_col=cfg.get("textField", "text"),
        id_col=cfg.get("idField", "doc_id"),
        n=int(cfg.get("n", 20)),
        stride=int(cfg.get("stride", 1)),
        min_docs=int(cfg.get("minDocs", 2)),
    )
    if str(cfg.get("mode", "stats")).lower() == "strip":
        return P.strip_duplicate_passages(df, **kwargs)
    return P.duplicate_passage_stats(df, **kwargs)


@register("sample")
def sample_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"sample": {"method": "split"|"shuffle"|"stratified"|"mixture"|
    "tokenBudget"|"quantile", ...}} — the deterministic sampling family
    as config citizens (id-hash derived, stable across runs/engines;
    "quantile" buckets by exact score quantiles, CCNet-style)."""
    from orientdb_etl_spark.functions import sampling as S

    method = str(cfg.get("method", "split")).lower()
    seed = int(cfg.get("seed", 42))
    if method == "split":
        return S.hash_split(
            df, cfg["idField"], cfg["weights"], seed,
            cfg.get("outField", "split"),
        )
    if method == "shuffle":
        return S.deterministic_shuffle(df, cfg["idField"], seed)
    if method == "stratified":
        return S.stratified_sample(
            df, cfg["groupField"], cfg["idField"], int(cfg["nPerGroup"]), seed
        )
    if method == "mixture":
        return S.mixture_sample(
            df, cfg["groupField"], cfg["idField"], cfg["rates"],
            float(cfg.get("defaultRate", 1.0)), seed,
        )
    if method == "quantile":
        return S.quantile_bucket(
            df, cfg["scoreField"], int(cfg.get("k", 3)),
            cfg.get("outField", "score_bucket"),
        )
    if method == "tokenbudget":
        return S.token_budget_sample(
            df, cfg["groupField"], cfg["idField"], cfg["tokenField"],
            {k: int(v) for k, v in cfg["budgets"].items()},
            cfg.get("defaultBudget"), seed,
        )
    if method == "weighted":
        # Efraimidis–Spirakis without replacement, weight-proportional
        return S.weighted_sample(
            df, cfg["idField"], cfg["weightField"], int(cfg["k"]), seed
        )
    if method == "temperature":
        # alpha-scaled domain rebalancing (downsample-only)
        return S.temperature_sample(
            df, cfg["groupField"], cfg["idField"], cfg.get("massField"),
            float(cfg.get("alpha", 0.5)), seed,
        )
    if method == "neyman":
        # optimal allocation DESIGN (n_h ∝ N_h·S_h); feed alloc_n/n_rows
        # back into the stratified executor
        return S.neyman_allocation(
            df, cfg["groupField"], cfg["valueField"], int(cfg["totalN"]),
            scale=int(cfg.get("scale", 100)),
        )
    if method == "unimax":
        # epoch-capped uniform budget allocation (Chung et al. ICLR'23);
        # feed quota/n_tokens back as per-group rates
        return S.unimax_allocation(
            df, cfg["groupField"], cfg["tokenField"], int(cfg["budget"]),
            max_epochs=float(cfg.get("maxEpochs", 4.0)),
        )
    raise ValueError(f"unknown sample method {method!r}")


@register("pack")
def pack_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"pack": {"method": "offsets"|"greedy", "capacity": 2048, ...}} —
    sequence packing as a config citizen."""
    from orientdb_etl_spark.functions import packing as P

    method = str(cfg.get("method", "offsets")).lower()
    kwargs = dict(
        id_col=cfg.get("idField", "doc_id"),
        tokens_col=cfg.get("tokenField", "n_tokens"),
        capacity=int(cfg.get("capacity", 2048)),
        shard_col=cfg.get("shardField"),
        n_shards=int(cfg.get("nShards", 32)),
    )
    if method == "offsets":
        return P.pack_offsets(df, **kwargs)
    if method == "greedy":
        return P.pack_greedy(df, **kwargs)
    raise ValueError(f"unknown pack method {method!r}")


@register("decontaminate")
def decontaminate_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"decontaminate": {"evalTable": "eval_docs", "n": 13,
    "mode": "flag"|"filter"|"hits", "method": "exact"|"bloom",
    "mBits": 8388608, "k": 5}} — benchmark decontamination against a
    registered eval table (broadcast n-gram join); method "bloom" screens
    corpus grams through a broadcast Bloom bitmap first — same result,
    for eval sets too large to broadcast as a join hash table."""
    from orientdb_etl_spark.functions.decontam import (
        bloom_decontaminate,
        decontaminate,
    )

    eval_df = ctx.tables[cfg["evalTable"]]
    kwargs = dict(
        text_col=cfg.get("textField", "text"),
        id_col=cfg.get("idField", "doc_id"),
        eval_text_col=cfg.get("evalTextField"),
        n=int(cfg.get("n", 13)),
        mode=cfg.get("mode", "flag"),
    )
    method = str(cfg.get("method", "exact"))
    if method == "bloom":
        return bloom_decontaminate(
            df, eval_df,
            m_bits=int(cfg.get("mBits", 1 << 23)),
            k=int(cfg.get("k", 5)),
            **kwargs,
        )
    if method != "exact":
        raise ValueError(f"unknown decontaminate method {method!r}")
    return decontaminate(df, eval_df, **kwargs)


@register("profile")
def profile_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"profile": {"method": "columns"|"heavyHitters"|"ngramTopk"|
    "diff"|"madOutliers"|"hll"|"cms"|"qdigest"|"joinCardinality"|
    "weightedPercentiles", ...}} — single-pass profiling as a config
    citizen (the audit stage of a curation pipeline)."""
    from orientdb_etl_spark.functions import profiling as P

    method = str(cfg.get("method", "columns")).lower()
    if method == "columns":
        return P.column_profile(df, cfg.get("columns"))
    if method == "heavyhitters":
        return P.heavy_hitters(
            df, cfg["keyField"], int(cfg.get("k", 20))
        )
    if method == "ngramtopk":
        return P.ngram_topk(
            df, cfg.get("textField", "text"),
            n=int(cfg.get("n", 3)), k=int(cfg.get("k", 20)),
        )
    if method == "diff":
        # CDC-style snapshot diff: the pipeline's frame is the NEW
        # snapshot, the registered table the OLD one
        old = ctx.tables[cfg["oldTable"]]
        return P.snapshot_diff(
            old,
            df,
            list(cfg["keys"]),
            compare_cols=cfg.get("compareColumns"),
            include_unchanged=bool(cfg.get("includeUnchanged", False)),
        )
    if method == "madoutliers":
        return P.mad_outliers(
            df, cfg["valueField"], cfg.get("by"),
            float(cfg.get("threshold", 3.5)),
        )
    if method == "hll":
        # mergeable distinct-count sketches + union certificate
        return P.hll_union_certificate(
            df, cfg["valueField"], cfg["groupField"],
            int(cfg.get("lgK", 14)), float(cfg.get("tol", 0.05)),
        )
    if method == "cms":
        # count-min sketch: fixed-memory frequency state. Without a
        # probeTable the sketch itself is the output (persist it, query
        # later); with one, returns (key, est) for the probe keys.
        width = int(cfg.get("width", 2048))
        depth = int(cfg.get("depth", 4))
        seed = int(cfg.get("seed", 42))
        sketch = P.cms_build(df, cfg["keyField"], width, depth, seed)
        if "probeTable" not in cfg:
            return sketch
        return P.cms_estimate(
            sketch, ctx.tables[cfg["probeTable"]], cfg["keyField"],
            width, depth, seed,
        )
    if method == "qdigest":
        # mergeable quantile sketch (deterministic q-digest): without
        # quantiles the ≤3k-node sketch itself is the output (persist,
        # merge, query later); with them, the per-q answers
        k = int(cfg.get("k", 256))
        ubits = int(cfg.get("universeBits", 24))
        sketch = P.qdigest_build(df, cfg["valueField"], k, ubits)
        if not cfg.get("quantiles"):
            return sketch
        return P.qdigest_quantiles(
            sketch, [float(q) for q in cfg["quantiles"]], k, ubits
        )
    if method == "keyskew":
        return P.key_skew_profile(
            df, cfg["keyField"], int(cfg.get("topK", 10))
        )
    if method == "joincardinality":
        return P.join_cardinality_estimate(
            df, ctx.tables[cfg["rightTable"]],
            cfg["leftKey"], cfg["rightKey"],
            top_k=int(cfg.get("topK", 10)),
        )
    if method == "weightedpercentiles":
        return P.weighted_percentiles(
            df, cfg.get("by") or [], cfg["valueField"],
            cfg["weightField"], list(cfg.get("percentiles", [25, 50, 75])),
        )
    raise ValueError(f"unknown profile method {method!r}")


@register("urlCurate")
def url_curate_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"urlCurate": {"urlField": "url", "normalize": true,
    "domainField": "domain", "blockDomains": [...], "allowDomains": [...],
    "maxPerDomain": 1000, "orderBy": ["n_chars DESC", "doc_id"],
    "dedup": false, "idField": "doc_id"}} — crawl-mix URL curation
    (functions/webcure.py): normalization, registered-domain annotation,
    block/allow lists, per-domain contribution caps, URL-level dedup."""
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions import webcure as W

    url_col = cfg.get("urlField", "url")
    if cfg.get("dedup"):
        df = W.url_dedup(df, url_col, cfg.get("idField", "doc_id"))
    if cfg.get("normalize", True):
        df = df.withColumn(url_col, W.normalize_url(url_col))
    domain_col = cfg.get("domainField", "domain")
    df = df.withColumn(domain_col, W.registered_domain(url_col))
    if cfg.get("blockDomains"):
        df = W.domain_filter(df, domain_col, list(cfg["blockDomains"]), "block")
    if cfg.get("allowDomains"):
        df = W.domain_filter(df, domain_col, list(cfg["allowDomains"]), "allow")
    if cfg.get("maxPerDomain"):
        order = []
        for spec in cfg.get("orderBy") or [cfg.get("idField", "doc_id")]:
            parts = str(spec).split()
            col = F.col(parts[0])
            order.append(col.desc() if parts[-1].upper() == "DESC" else col.asc())
        df = W.per_domain_cap(df, domain_col, int(cfg["maxPerDomain"]), order)
    return df


@register("expect")
def expect_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"expect": {"constraints": [{"type": "not_null", "column": "id"},
    ...], "approx": false, "onFail": "report"|"error"|"filterReport"}} —
    Deequ-style single-pass data-quality gate (functions/expectations.py).
    "report" replaces the frame with the constraint report; "error"
    raises on any failure and passes the data through unchanged (the
    publish-gate shape)."""
    from orientdb_etl_spark.functions.expectations import (
        assert_expectations,
        check_expectations,
    )

    constraints = list(cfg.get("constraints") or [])
    approx = bool(cfg.get("approx", False))
    on_fail = str(cfg.get("onFail", "report"))
    if on_fail == "error":
        return assert_expectations(df, constraints, approx=approx)
    if on_fail == "report":
        return check_expectations(df, constraints, approx=approx)
    raise ValueError(f"unknown onFail mode {on_fail!r}")


@register("retrieve")
def retrieve_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"retrieve": {"textField": "text", "idField": "doc_id",
    "embeddingsTable": "emb", "vecField": "embedding",
    "vecIdField": "vec_id", "queryTerms": [...], "queryVec": [...],
    "k": 10, "depth": 50, "kRrf": 60}} — hybrid BM25+cosine retrieval
    fused with RRF (functions/retrieval.py). The pipeline frame is the
    document corpus; the dense side reads a registered embeddings table
    (omit it to fuse BM25 with itself degenerately is refused)."""
    from orientdb_etl_spark.functions.retrieval import hybrid_topk

    emb = ctx.tables[cfg["embeddingsTable"]]
    return hybrid_topk(
        df,
        cfg.get("textField", "text"),
        cfg.get("idField", "doc_id"),
        emb,
        cfg.get("vecField", "embedding"),
        cfg.get("vecIdField", "vec_id"),
        list(cfg["queryTerms"]),
        [float(x) for x in cfg["queryVec"]],
        k=int(cfg.get("k", 10)),
        depth=int(cfg.get("depth", 50)),
        k_rrf=int(cfg.get("kRrf", 60)),
    )


@register("lmScore")
def lm_score_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"lmScore": {"textField": "text", "idField": "doc_id",
    "order": 1|2, "lambda": 0.8}} — corpus-self-trained LM quality score
    (CCNet perplexity-filter proxy): order 1 = unigram mean logprob,
    order 2 = interpolated bigram LM."""
    from orientdb_etl_spark.functions.text import (
        bigram_logprob_score,
        unigram_logprob_score,
    )

    order = int(cfg.get("order", 2))
    if order == 1:
        return unigram_logprob_score(
            df, cfg.get("textField", "text"), cfg.get("idField", "doc_id")
        )
    if order == 2:
        return bigram_logprob_score(
            df,
            cfg.get("textField", "text"),
            cfg.get("idField", "doc_id"),
            lam=float(cfg.get("lambda", 0.8)),
        )
    raise ValueError(f"unsupported LM order {order}")


@register("bpe")
def bpe_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"bpe": {"mode": "train"|"segment", "textField": "text",
    "numMerges": 100, "minWordFreq": 1, "mergesTable": "merges"}} — BPE
    vocabulary induction / application (functions/bpe.py). Train emits
    the (step, pair, freq) merge table; segment applies a registered
    merge table to the corpus."""
    from orientdb_etl_spark.functions.bpe import bpe_segment, bpe_train

    mode = str(cfg.get("mode", "train"))
    if mode == "train":
        return bpe_train(
            df,
            cfg.get("textField", "text"),
            num_merges=int(cfg.get("numMerges", 100)),
            min_word_freq=int(cfg.get("minWordFreq", 1)),
        )
    if mode == "segment":
        return bpe_segment(
            df,
            ctx.tables[cfg["mergesTable"]],
            cfg.get("textField", "text"),
            out_col=cfg.get("outField", "bpe_symbols"),
        )
    raise ValueError(f"unknown bpe mode {mode!r}")


@register("dsirSelect")
def dsir_select_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"dsirSelect": {"targetTable": "wiki", "k": 1000, "textField":
    "text", "idField": "doc_id", "buckets": 4096, "ngram": 2,
    "weightsOnly": false}} — DSIR data selection (Xie et al. NeurIPS'23,
    functions/dsir.py): score the incoming RAW frame's documents by
    hashed-n-gram importance toward the registered target corpus, then
    Gumbel-top-k resample ∝ exp(logw). ``weightsOnly: true`` skips the
    selection and emits the (id, n_feats, logw) score table instead."""
    from orientdb_etl_spark.functions.dsir import (
        dsir_logweights,
        dsir_resample,
    )

    tname = cfg["targetTable"]
    if tname not in ctx.tables:
        raise ValueError(
            f"dsirSelect: targetTable {tname!r} is not registered"
        )
    kw = dict(
        text_col=cfg.get("textField", "text"),
        id_col=cfg.get("idField", "doc_id"),
        buckets=int(cfg.get("buckets", 4096)),
        seed=int(cfg.get("seed", 11)),
        n_max=int(cfg.get("ngram", 2)),
    )
    if cfg.get("weightsOnly"):
        return dsir_logweights(df, ctx.tables[tname], **kw)
    return dsir_resample(
        df,
        ctx.tables[tname],
        k=int(cfg["k"]),
        gumbel_seed=int(cfg.get("gumbelSeed", 42)),
        **kw,
    )


@register("unigramLm")
def unigram_lm_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"unigramLm": {"mode": "train"|"segment", "textField": "text",
    "maxPieceLen": 3, "maxWordLen": 12, "seedMulti": 40, "iters": 2,
    "vocabTable": "vocab"}} — SentencePiece-style unigram-LM vocabulary
    induction / application (functions/unigram.py): BPE's merge-free
    companion. Train emits the (piece, freq, logp) vocabulary; segment
    Viterbi-applies a registered vocabulary table to the corpus."""
    from orientdb_etl_spark.functions.unigram import (
        unigram_lm_train,
        unigram_segment,
    )

    mode = str(cfg.get("mode", "train"))
    L = int(cfg.get("maxPieceLen", 3))
    W = int(cfg.get("maxWordLen", 12))
    if mode == "train":
        prune = cfg.get("pruneTo")
        return unigram_lm_train(
            df,
            cfg.get("textField", "text"),
            max_piece_len=L,
            max_word_len=W,
            seed_multi=int(cfg.get("seedMulti", 40)),
            n_iter=int(cfg.get("iters", 2)),
            prune_to=None if prune is None else int(prune),
            prune_by=str(cfg.get("pruneBy", "count")),
        )
    if mode == "segment":
        return unigram_segment(
            df,
            ctx.tables[cfg["vocabTable"]],
            cfg.get("textField", "text"),
            out_col=cfg.get("outField", "unigram_pieces"),
            max_piece_len=L,
            max_word_len=W,
        )
    raise ValueError(f"unknown unigramLm mode {mode!r}")


@register("analyze")
def analyze_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"analyze": {"method": ..., ...}} — the inferential-statistics
    surface (functions/stats.py + preprocess.py) as one config
    transformer, dispatching on ``method``:

    - ``welch`` / ``mannWhitney``: {"groupField", "valueField",
      "groupA", "groupB"}
    - ``kruskal``: {"groupField", "valueField"}
    - ``spearman``: {"xField", "yField"}
    - ``chiSquare`` / ``mutualInformation``: {"aField", "bField"}
    - ``diversity``: {"groupField", "categoryField"}
    - ``jsd``: {"categoryField", "flagField"}
    - ``kaplanMeier`` / ``nelsonAalen``: {"durationField",
      "observedField"}
    - ``cuped``: {"unitField", "armField", "preField", "postField"}
    - ``woeIv``: {"featureField", "labelField", "smooth": 0.5}
    - ``bestSplit``: {"featureField", "labelField"}
    - ``crossCorrelation``: {"tsField", "labelField", "labelX",
      "labelY", "maxLag": 12, "bucketSeconds": 3600}
    - ``changepoint`` / ``mannKendall``: {"tsField",
      "bucketSeconds": 3600}
    - ``logRank``: {"durationField", "observedField", "groupField",
      "groupA", "groupB"}
    - ``anova`` / ``levene``: {"groupField", "valueField",
      "scale": 100}
    - ``forecastBacktest``: {"by", "tsField", "valueField",
      "bucketSeconds": 3600, "season": 24, "scale": 100}
    - ``contribution``: {"beforeTable", "dims", "valueField",
      "topK": 10} — incoming frame is the AFTER period
    - ``srm``: {"armField", "expected": {"A": 0.5, "B": 0.5}}
    """
    from orientdb_etl_spark.functions import stats as S
    from orientdb_etl_spark.functions.preprocess import best_split, woe_iv

    m = str(cfg.get("method", ""))
    if m == "welch":
        return S.welch_ttest(
            df, cfg["groupField"], cfg["valueField"], cfg["groupA"], cfg["groupB"]
        )
    if m == "mannWhitney":
        return S.mann_whitney_u(
            df, cfg["groupField"], cfg["valueField"], cfg["groupA"], cfg["groupB"]
        )
    if m == "kruskal":
        return S.kruskal_wallis(df, cfg["groupField"], cfg["valueField"])
    if m == "spearman":
        return S.spearman_corr(df, cfg["xField"], cfg["yField"])
    if m == "chiSquare":
        return S.chi_square(df, cfg["aField"], cfg["bField"])
    if m == "mutualInformation":
        return S.mutual_information(df, cfg["aField"], cfg["bField"])
    if m == "diversity":
        return S.diversity_metrics(
            df, cfg["groupField"], cfg["categoryField"]
        )
    if m == "jsd":
        return S.js_divergence(df, cfg["categoryField"], cfg["flagField"])
    if m == "kaplanMeier":
        return S.kaplan_meier(df, cfg["durationField"], cfg["observedField"])
    if m == "nelsonAalen":
        return S.nelson_aalen(df, cfg["durationField"], cfg["observedField"])
    if m == "cuped":
        return S.cuped(
            df,
            cfg["unitField"],
            cfg["armField"],
            cfg["preField"],
            cfg["postField"],
        )
    if m == "woeIv":
        return woe_iv(
            df,
            cfg["featureField"],
            cfg["labelField"],
            smooth=float(cfg.get("smooth", 0.5)),
        )
    if m == "bestSplit":
        return best_split(df, cfg["featureField"], cfg["labelField"])
    if m == "crossCorrelation":
        return S.cross_correlation(
            df,
            cfg["tsField"],
            cfg["labelField"],
            cfg["labelX"],
            cfg["labelY"],
            max_lag=int(cfg.get("maxLag", 12)),
            bucket_seconds=int(cfg.get("bucketSeconds", 3600)),
        )
    if m == "changepoint":
        return S.changepoint(
            df,
            cfg["tsField"],
            bucket_seconds=int(cfg.get("bucketSeconds", 3600)),
        )
    if m == "mannKendall":
        return S.mann_kendall(
            df,
            cfg["tsField"],
            bucket_seconds=int(cfg.get("bucketSeconds", 3600)),
        )
    if m == "logRank":
        return S.log_rank(
            df,
            cfg["durationField"],
            cfg["observedField"],
            cfg["groupField"],
            cfg["groupA"],
            cfg["groupB"],
        )
    if m == "anova":
        return S.anova_oneway(
            df,
            cfg["groupField"],
            cfg["valueField"],
            scale=int(cfg.get("scale", 100)),
        )
    if m == "levene":
        return S.levene_bf(
            df,
            cfg["groupField"],
            cfg["valueField"],
            scale=int(cfg.get("scale", 100)),
        )
    if m == "forecastBacktest":
        return S.forecast_backtest(
            df,
            cfg.get("by") or [],
            cfg["tsField"],
            cfg["valueField"],
            bucket_seconds=int(cfg.get("bucketSeconds", 3600)),
            season=int(cfg.get("season", 24)),
            scale=int(cfg.get("scale", 100)),
        )
    if m == "contribution":
        return S.contribution_analysis(
            ctx.tables[cfg["beforeTable"]],
            df,
            list(cfg["dims"]),
            cfg["valueField"],
            top_k=int(cfg.get("topK", 10)),
            scale=int(cfg.get("scale", 100)),
        )
    if m == "srm":
        return S.srm_check(df, cfg["armField"], dict(cfg["expected"]))
    raise ValueError(f"unknown analyze method {m!r}")


@register("cluster")
def cluster_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"cluster": {"vecField": "embedding", "idField": "vec_id",
    "k": 8, "rounds": 2, "stats": false}} — quantized-grid k-means
    (functions/clustering.py); ``stats`` true emits (cluster, n,
    inertia), else per-id assignments."""
    from orientdb_etl_spark.functions.clustering import (
        kmeans_cluster_stats,
        kmeans_quantized,
    )

    args = dict(
        k=int(cfg.get("k", 8)),
        rounds=int(cfg.get("rounds", 2)),
        scale=int(cfg.get("scale", 1024)),
        seed=int(cfg.get("seed", 7)),
    )
    if cfg.get("stats"):
        return kmeans_cluster_stats(
            df, cfg["vecField"], cfg["idField"], **args
        )
    final, _ = kmeans_quantized(df, cfg["vecField"], cfg["idField"], **args)
    return final


@register("shard")
def shard_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"shard": {"keyField": "id", "shards": 8, "seed": 0,
    "outField": "shard"}} — rendezvous-hash routing
    (functions/sampling.py)."""
    from orientdb_etl_spark.functions.sampling import rendezvous_shards

    return rendezvous_shards(
        df,
        cfg["keyField"],
        shards=int(cfg.get("shards", 8)),
        seed=int(cfg.get("seed", 0)),
        out_col=cfg.get("outField", "shard"),
    )


@register("twap")
def twap_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"twap": {"keyField", "tsField", "valueField", "idField"}} —
    step-interpolated time-weighted average (operators/temporal.py)."""
    from orientdb_etl_spark.operators.temporal import twap

    return twap(
        df, cfg["keyField"], cfg["tsField"], cfg["valueField"], cfg["idField"]
    )


@register("islands")
def islands_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"islands": {"keyField": "id"}} — gaps-and-islands key-coverage
    audit (functions/profiling.py)."""
    from orientdb_etl_spark.functions.profiling import key_islands

    return key_islands(df, cfg["keyField"])


@register("concurrency")
def concurrency_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"concurrency": {"startField", "endField", "topK": 20}} —
    sweep-line peak concurrency over half-open intervals
    (operators/temporal.py)."""
    from orientdb_etl_spark.operators.temporal import peak_concurrency

    return peak_concurrency(
        df, cfg["startField"], cfg["endField"], top_k=int(cfg.get("topK", 20))
    )


@register("linkPredict")
def link_predict_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"linkPredict": {"basketField", "itemField", "minCommon": 1,
    "maxBasketSize": null}} — Adamic–Adar scores over the bipartite
    item projection (functions/graph.py)."""
    from orientdb_etl_spark.functions.graph import adamic_adar

    mbs = cfg.get("maxBasketSize")
    return adamic_adar(
        df,
        cfg["basketField"],
        cfg["itemField"],
        min_common=int(cfg.get("minCommon", 1)),
        max_basket_size=int(mbs) if mbs is not None else None,
    )


@register("resolve")
def resolve_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"resolve": {"idField": "id", "blockField": "name",
    "fields": {"city": 0.9, ...} | ["city", ...], "rules":
    {"out": ["latest", "col"], ...}, "m": 0.95, "threshold": 0.0,
    "window": 5, "orderField": null}} — end-to-end entity resolution
    (functions/linkage.py): sorted-neighborhood blocking →
    Fellegi–Sunter scoring → connected components → golden-record
    survivorship."""
    from orientdb_etl_spark.functions.linkage import resolve_entities

    rules = {
        out: (spec[0], spec[1]) for out, spec in dict(cfg["rules"]).items()
    }
    return resolve_entities(
        df,
        cfg["idField"],
        cfg["blockField"],
        cfg["fields"],
        rules=rules,
        m=float(cfg.get("m", 0.95)),
        threshold=float(cfg.get("threshold", 0.0)),
        window=int(cfg.get("window", 5)),
        order_col=cfg.get("orderField"),
    )


@register("ohlc")
def ohlc_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"ohlc": {"keyField", "tsField", "valueField", "idField",
    "bucketSeconds": 3600}} — OHLC candlestick resampling
    (operators/temporal.py)."""
    from orientdb_etl_spark.operators.temporal import ohlc_bars

    return ohlc_bars(
        df,
        cfg["keyField"],
        cfg["tsField"],
        cfg["valueField"],
        cfg["idField"],
        bucket_seconds=int(cfg.get("bucketSeconds", 3600)),
    )


@register("rankEval")
def rank_eval_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"rankEval": {"queryField", "scoreField", "labelField",
    "idField", "k": 10}} — MRR / nDCG@k / hit-rate@k retrieval metrics
    (functions/mleval.py)."""
    from orientdb_etl_spark.functions.mleval import ranking_metrics

    return ranking_metrics(
        df,
        cfg["queryField"],
        cfg["scoreField"],
        cfg["labelField"],
        cfg["idField"],
        k=int(cfg.get("k", 10)),
    )


@register("containmentJoin")
def containment_join_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"containmentJoin": {"idField", "textField", "rightTable",
    "rightIdField", "rightTextField", "threshold": 0.8}} — asymmetric
    token-set containment join (functions/linkage.py): the input frame
    is the LEFT (excerpt) side, ``rightTable`` the corpus searched."""
    from orientdb_etl_spark.functions.linkage import containment_join

    return containment_join(
        df,
        cfg["idField"],
        cfg["textField"],
        ctx.tables[cfg["rightTable"]],
        cfg["rightIdField"],
        cfg["rightTextField"],
        threshold=float(cfg.get("threshold", 0.8)),
    )


@register("phraseSearch")
def phrase_search_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"phraseSearch": {"idField", "textField", "phrase"}} — exact
    positional phrase search over the inverted index
    (functions/retrieval.py)."""
    from orientdb_etl_spark.functions.retrieval import phrase_search

    return phrase_search(df, cfg["idField"], cfg["textField"], cfg["phrase"])


@register("jwScore")
def jw_score_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"jwScore": {"fieldA", "fieldB", "outField": "jw"}} —
    Jaro–Winkler similarity of two string columns on an
    (already-blocked) pair frame (functions/linkage.py)."""
    from orientdb_etl_spark.functions.linkage import jaro_winkler

    return df.withColumn(
        cfg.get("outField", "jw"),
        jaro_winkler(cfg["fieldA"], cfg["fieldB"]),
    )


@register("sharedSpans")
def shared_spans_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"sharedSpans": {"idField", "textField", "window": 8, "guard": 1,
    "maxGroup": 1000}} — exact shared token-span pair detection
    (functions/dedup.py, Lee et al. ACL'22 exact-substring axis;
    guard > 1 = winnowing)."""
    from orientdb_etl_spark.functions.dedup import shared_span_pairs

    return shared_span_pairs(
        df,
        cfg["textField"],
        cfg["idField"],
        window=int(cfg.get("window", 8)),
        guard=int(cfg.get("guard", 1)),
        max_group=(
            None
            if cfg.get("maxGroup", 1000) is None
            else int(cfg.get("maxGroup", 1000))
        ),
    )


@register("stripSpans")
def strip_spans_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"stripSpans": {"idField", "textField", "window": 8}} — rewrite
    documents with cross-doc duplicated spans removed from all but the
    min-id owner (functions/dedup.py::strip_duplicate_spans, the
    Lee et al. ACL'22 exact-substring remediation)."""
    from orientdb_etl_spark.functions.dedup import strip_duplicate_spans

    return strip_duplicate_spans(
        df,
        cfg["textField"],
        cfg["idField"],
        window=int(cfg.get("window", 8)),
    )


@register("fdAudit")
def fd_audit_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"fdAudit": {"candidates": [["det", "dep"], ...]}} —
    functional-dependency audit with the TANE g3 error
    (functions/profiling.py)."""
    from orientdb_etl_spark.functions.profiling import fd_audit

    return fd_audit(df, [tuple(c) for c in cfg["candidates"]])


@register("readability")
def readability_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"readability": {"textField", "outField": "readability"}} —
    Flesch / Flesch–Kincaid struct column (functions/text.py)."""
    from orientdb_etl_spark.functions.text import readability

    return df.withColumn(
        cfg.get("outField", "readability"), readability(cfg["textField"])
    )


@register("driftReport")
def drift_report_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"driftReport": {"refTable": "snapshot_v1", "columns": [...]}}
    — batch dataset-drift report (functions/profiling.py): the input
    frame is the CURRENT snapshot, ``refTable`` the reference."""
    from orientdb_etl_spark.functions.profiling import drift_report

    return drift_report(
        ctx.tables[cfg["refTable"]], df, cols=cfg.get("columns")
    )


@register("mmr")
def mmr_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"mmr": {"idField", "scoreField", "vecField", "k": 10,
    "lambda": 0.75}} — MMR diversification of a bounded candidate list
    (functions/retrieval.py). The input frame must already be
    depth-bounded (a retriever's top-N)."""
    from orientdb_etl_spark.functions.retrieval import mmr_diversify

    return mmr_diversify(
        df,
        cfg["idField"],
        cfg["scoreField"],
        cfg["vecField"],
        k=int(cfg.get("k", 10)),
        lam=float(cfg.get("lambda", 0.75)),
    )


@register("phoneticBlock")
def phonetic_block_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"phoneticBlock": {"nameField": "name", "idField": "id",
    "minNames": 2}} — Soundex blocking for record linkage
    (functions/linkage.py): phonetic block key + per-block distinct
    surface forms, the O(n) candidate-generation pass upstream of a
    ``resolve``/``fellegi_sunter`` scorer."""
    from orientdb_etl_spark.functions.linkage import phonetic_blocks

    return phonetic_blocks(
        df,
        cfg["nameField"],
        cfg["idField"],
        min_names=int(cfg.get("minNames", 2)),
    )


@register("gridCluster")
def grid_cluster_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"gridCluster": {"idField": "id", "xField": "x", "yField": "y",
    "eps": 250, "minPts": 4}} — grid-density clustering
    (functions/spatial.py): dense-cell connected components, per-point
    labels, sparse-cell points NULL (noise)."""
    from orientdb_etl_spark.functions.spatial import grid_density_clusters

    return grid_density_clusters(
        df,
        cfg["idField"],
        cfg["xField"],
        cfg["yField"],
        eps=int(cfg.get("eps", 250)),
        min_pts=int(cfg.get("minPts", 4)),
    )


@register("amsF2")
def ams_f2_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"amsF2": {"keyField": "user_id", "estimators": 9, "seed": 31}}
    — AMS second-moment (self-join size) sketch certificate
    (functions/profiling.py): one constant-state pass vs the exact
    Σ count², the pre-flight skew probe for a planned shuffle key."""
    from orientdb_etl_spark.functions.profiling import ams_f2_certificate

    return ams_f2_certificate(
        df,
        cfg["keyField"],
        estimators=int(cfg.get("estimators", 9)),
        seed=int(cfg.get("seed", 31)),
    )


@register("kmv")
def kmv_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"kmv": {"keyField": "user_id", "groupField": null, "k": 256,
    "seed": 9}} — exactly-replayable k-minimum-values distinct sketch
    certificate (functions/profiling.py); with ``groupField`` adds the
    merged-sketch ALL row."""
    from orientdb_etl_spark.functions.profiling import kmv_distinct_certificate

    return kmv_distinct_certificate(
        df,
        cfg["keyField"],
        group_col=cfg.get("groupField"),
        k=int(cfg.get("k", 256)),
        seed=int(cfg.get("seed", 9)),
    )


@register("heaps")
def heaps_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"heaps": {"textField": "text", "idField": "doc_id"}} —
    Heaps'-law vocabulary-growth fit (functions/profiling.py), the
    growth-side dual of the zipf corpus audit."""
    from orientdb_etl_spark.functions.profiling import heaps_fit

    return heaps_fit(df, cfg["textField"], cfg["idField"])


@register("diffInDiff")
def did_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"diffInDiff": {"treatField", "postField", "valueField",
    "scale": 100}} — two-period difference-in-differences point
    estimate (functions/stats.py)."""
    from orientdb_etl_spark.functions.stats import diff_in_diff

    return diff_in_diff(
        df,
        cfg["treatField"],
        cfg["postField"],
        cfg["valueField"],
        scale=int(cfg.get("scale", 100)),
    )


@register("vocabCoverage")
def vocab_coverage_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"vocabCoverage": {"textField": "text", "idField": "doc_id",
    "vocabSize": 30000}} — per-doc OOV audit against the corpus's own
    top vocabulary (functions/text.py); pair with a ``let``-staged
    external vocab via semanticDecontam-style pre-registration when
    auditing against a fixed tokenizer."""
    from orientdb_etl_spark.functions.text import top_vocab, vocab_coverage

    vocab = top_vocab(df, cfg["textField"], int(cfg.get("vocabSize", 30000)))
    return vocab_coverage(df, cfg["textField"], cfg["idField"], vocab)


@register("featureHash")
def feature_hash_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"featureHash": {"textField": "text", "idField": "doc_id",
    "dims": 64, "signed": true, "seed": 11}} — vocabulary-free fixed-
    width vectorization (the hashing trick; functions/preprocess.py)."""
    from orientdb_etl_spark.functions.preprocess import feature_hash

    return feature_hash(
        df,
        cfg["textField"],
        cfg["idField"],
        dims=int(cfg.get("dims", 64)),
        signed=bool(cfg.get("signed", True)),
        seed=int(cfg.get("seed", 11)),
        portable=bool(cfg.get("portable", False)),
    )


@register("stratifiedAte")
def stratified_ate_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"stratifiedAte": {"treatField", "outcomeField", "stratumField",
    "scale": 100}} — Cochran subclassification treatment-effect
    estimate (functions/stats.py); compare naive_diff vs ate to see the
    composition confounding."""
    from orientdb_etl_spark.functions.stats import stratified_ate

    return stratified_ate(
        df,
        cfg["treatField"],
        cfg["outcomeField"],
        cfg["stratumField"],
        scale=int(cfg.get("scale", 100)),
    )


@register("semanticDecontam")
def semantic_decontam_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"semanticDecontam": {"evalTable": "eval_vectors",
    "vecField": "embedding", "idField": "vec_id", "threshold": 0.97,
    "planes": 8, "mode": "filter"|"flag"}} — embedding-space
    decontamination against a registered eval-vector table
    (functions/decontam.py)."""
    from orientdb_etl_spark.functions.decontam import semantic_decontaminate

    return semantic_decontaminate(
        df,
        ctx.tables[cfg["evalTable"]],
        cfg.get("vecField", "embedding"),
        cfg.get("idField", "vec_id"),
        threshold=float(cfg.get("threshold", 0.97)),
        planes=int(cfg.get("planes", 8)),
        seed=int(cfg.get("seed", 42)),
        mode=cfg.get("mode", "filter"),
    )


@register("probScores")
def prob_scores_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"probScores": {"labelField": "y", "probField": "p"}} — Brier +
    log-loss proper-scoring summary (functions/mleval.py)."""
    from orientdb_etl_spark.functions.mleval import prob_scores

    return prob_scores(
        df,
        cfg["labelField"],
        cfg["probField"],
        scale=int(cfg.get("scale", 1_000_000)),
    )


@register("conformal")
def conformal_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"conformal": {"testTable": "holdout", "labelField": "y",
    "predField": "yhat", "alphaPct": 10}} — split-conformal interval:
    the pipeline frame is the CALIBRATION set; coverage is certified on
    the registered test table (functions/mleval.py)."""
    from orientdb_etl_spark.functions.mleval import conformal_interval

    return conformal_interval(
        df,
        ctx.tables[cfg["testTable"]],
        cfg["labelField"],
        cfg["predField"],
        alpha_pct=int(cfg.get("alphaPct", 10)),
        scale=int(cfg.get("scale", 100)),
    )


@register("coresetSelect")
def coreset_select_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"coresetSelect": {"vecField": "embedding", "idField": "vec_id",
    "k": 6, "pool": 24}} — greedy facility-location exemplar selection
    over an embedding column (functions/coreset.py): k representative
    rows with marginal gain and cumulative coverage."""
    from orientdb_etl_spark.functions.coreset import (
        facility_location_select,
    )

    return facility_location_select(
        df,
        cfg["vecField"],
        cfg["idField"],
        k=int(cfg.get("k", 6)),
        pool=int(cfg.get("pool", 24)),
        seed=int(cfg.get("seed", 9)),
        scale=int(cfg.get("scale", 10000)),
        round_to=int(cfg.get("roundTo", 6)),
    )


@register("kmvOverlap")
def kmv_overlap_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"kmvOverlap": {"otherTable": "b", "keyField": "user_id",
    "k": 256}} — KMV/theta-sketch set-overlap estimate between the
    pipeline frame's and a registered table's key sets, certified
    against the exact distinct-join (functions/profiling.py)."""
    from orientdb_etl_spark.functions.profiling import (
        kmv_overlap_certificate,
    )

    return kmv_overlap_certificate(
        df,
        ctx.tables[cfg["otherTable"]],
        cfg["keyField"],
        k=int(cfg.get("k", 256)),
        seed=int(cfg.get("seed", 9)),
        round_to=int(cfg.get("roundTo", 6)),
    )


@register("btRank")
def bt_rank_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"btRank": {"winnerField": "winner", "loserField": "loser",
    "iters": 8, "countField": null}} — Bradley–Terry
    preference-strength leaderboard over a battle log (functions/
    mleval.py): one row per item with wins, games, normalized theta,
    rank."""
    from orientdb_etl_spark.functions.mleval import bradley_terry

    return bradley_terry(
        df,
        winner_col=cfg.get("winnerField", "winner"),
        loser_col=cfg.get("loserField", "loser"),
        count_col=cfg.get("countField"),
        iters=int(cfg.get("iters", 8)),
        round_to=int(cfg.get("roundTo", 6)),
    )


@register("winRates")
def win_rates_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"winRates": {"winnerField": "winner", "loserField": "loser",
    "z": 1.96}} — per-pair win rates with Wilson score intervals over a
    battle log (functions/mleval.py): the uncertainty companion of
    btRank."""
    from orientdb_etl_spark.functions.mleval import pairwise_winrates

    return pairwise_winrates(
        df,
        winner_col=cfg.get("winnerField", "winner"),
        loser_col=cfg.get("loserField", "loser"),
        count_col=cfg.get("countField"),
        z=float(cfg.get("z", 1.96)),
        round_to=int(cfg.get("roundTo", 6)),
    )


@register("wasserstein")
def wasserstein_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"wasserstein": {"groupField", "valueField", "groupA", "groupB",
    "scale": 100}} — exact 1-D earth-mover distance between two sample
    distributions (functions/stats.py); the magnitude-aware companion
    of psi/jsd/ks drift checks."""
    from orientdb_etl_spark.functions.stats import wasserstein_1d

    return wasserstein_1d(
        df,
        cfg["groupField"],
        cfg["valueField"],
        cfg["groupA"],
        cfg["groupB"],
        scale=int(cfg.get("scale", 100)),
    )


@register("knPerplexity")
def kn_perplexity_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"knPerplexity": {"trainTable": "wiki", "textField": "text",
    "idField": "doc_id", "discount": 0.75, "buckets": false,
    "cutoffs": [30.0, 100.0]}} — CCNet perplexity filter (Wenzek et al.
    LREC'20, functions/ngram_lm.py): score the incoming frame's
    documents by Kneser-Ney bigram perplexity under a model trained on
    the registered reference corpus. ``buckets: true`` adds the
    head/middle/tail split — with fixed ``cutoffs`` (the production
    path: per-row CASE, no extra shuffle) or, when omitted, exact
    ntile tertiles (calibration-scope global window — run it on the
    bounded sample the cutoffs are derived from)."""
    from orientdb_etl_spark.functions.ngram_lm import (
        kn_perplexity,
        perplexity_buckets,
    )

    tname = cfg["trainTable"]
    if tname not in ctx.tables:
        raise ValueError(
            f"knPerplexity: trainTable {tname!r} is not registered"
        )
    kw = dict(
        text_col=cfg.get("textField", "text"),
        id_col=cfg.get("idField", "doc_id"),
        discount=float(cfg.get("discount", 0.75)),
    )
    if cfg.get("buckets"):
        cut = cfg.get("cutoffs")
        return perplexity_buckets(
            df,
            ctx.tables[tname],
            cutoffs=tuple(cut) if cut is not None else None,
            **kw,
        )
    return kn_perplexity(df, ctx.tables[tname], **kw)


@register("qualityClassifier")
def quality_classifier_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"qualityClassifier": {"trainTable": "seed", "labelField":
    "label", "textField": "text", "idField": "doc_id", "buckets": 1024,
    "iters": 4, "lr": 0.5, "threshold": 0.5, "weightsOnly": false,
    "keepOnly": false}} — fastText-style hashed-n-gram logistic
    regression (Joulin et al. EACL'17; the GPT-3/LLaMA web-filter
    shape, functions/quality_clf.py): train on the registered labeled
    seed corpus (0/1 ``labelField``), score the incoming frame.
    ``weightsOnly: true`` emits the trained weight table instead;
    ``keepOnly: true`` filters to prob >= threshold and keeps the
    incoming columns."""
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.quality_clf import (
        score_quality,
        train_quality_classifier,
    )

    tname = cfg["trainTable"]
    if tname not in ctx.tables:
        raise ValueError(
            f"qualityClassifier: trainTable {tname!r} is not registered"
        )
    text_col = cfg.get("textField", "text")
    id_col = cfg.get("idField", "doc_id")
    buckets = int(cfg.get("buckets", 1024))
    seed = int(cfg.get("seed", 11))
    n_max = int(cfg.get("ngram", 2))
    w = train_quality_classifier(
        ctx.tables[tname],
        label_col=cfg.get("labelField", "label"),
        text_col=text_col,
        id_col=id_col,
        buckets=buckets,
        seed=seed,
        n_max=n_max,
        iters=int(cfg.get("iters", 4)),
        lr=float(cfg.get("lr", 0.5)),
    )
    if cfg.get("weightsOnly"):
        return w
    scored = score_quality(
        df,
        w,
        text_col=text_col,
        id_col=id_col,
        buckets=buckets,
        seed=seed,
        n_max=n_max,
        threshold=float(cfg.get("threshold", 0.5)),
    )
    if cfg.get("keepOnly"):
        return df.join(
            scored.filter(F.col("keep")).select(id_col), id_col, "semi"
        )
    return scored


@register("doremi")
def doremi_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"doremi": {"domainField": "source", "labelField": "label",
    "textField": "text", "idField": "doc_id", "buckets": 1024,
    "refIters": 2, "iters": 3, "lr": 0.5, "eta": 1.0, "smooth": 0.1}}
    — DoReMi domain-mixture optimization (Xie et al. NeurIPS'23,
    functions/doremi.py): Group-DRO multiplicative weights over the
    incoming labeled corpus's domains, against a uniform-mixture
    reference model. Emits one row per domain with the averaged
    ``alpha`` to train the full model with."""
    from orientdb_etl_spark.functions.doremi import doremi_mixture

    return doremi_mixture(
        df,
        cfg["domainField"],
        label_col=cfg.get("labelField", "label"),
        text_col=cfg.get("textField", "text"),
        id_col=cfg.get("idField", "doc_id"),
        buckets=int(cfg.get("buckets", 1024)),
        seed=int(cfg.get("seed", 11)),
        n_max=int(cfg.get("ngram", 2)),
        ref_iters=int(cfg.get("refIters", 2)),
        iters=int(cfg.get("iters", 3)),
        lr=float(cfg.get("lr", 0.5)),
        eta=float(cfg.get("eta", 1.0)),
        smooth=float(cfg.get("smooth", 0.1)),
    )


@register("jlProject")
def jl_project_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"jlProject": {"vecField": "embedding", "dim": 64, "outDim": 8,
    "seed": 42, "prefix": "jl"}} — Johnson-Lindenstrauss sign projection
    (functions/projections.py): appends ``outDim`` reduced columns via a
    portable ±1 hash matrix, unrolled into codegen expressions (no UDF,
    no shuffle, no fitted state)."""
    from orientdb_etl_spark.functions.projections import jl_project

    return jl_project(
        df,
        cfg["vecField"],
        dim=int(cfg["dim"]),
        out_dim=int(cfg.get("outDim", 8)),
        seed=int(cfg.get("seed", 42)),
        prefix=cfg.get("prefix", "jl"),
    )


@register("pca")
def pca_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """{"pca": {"vecField": "embedding", "dim": 64, "k": 2, "prefix": "pc",
    "method": "eigh"|"power", "steps": 30}} — one-pass Gram-matrix PCA
    (functions/projections.py): Arrow-batched partial X'X per partition
    (the shuffle carries partitions×d² cells, never the corpus), then
    either numpy eigh (production) or fixed-step power iteration with
    deflation (the engine-portable twin); the projection itself is always
    JVM-side literal arithmetic."""
    from orientdb_etl_spark.functions import projections as P

    vec = cfg["vecField"]
    dim = int(cfg["dim"])
    k = int(cfg.get("k", 2))
    prefix = cfg.get("prefix", "pc")
    if str(cfg.get("method", "eigh")).lower() == "power":
        comps = P.top_components(
            P.gram_matrix(df, vec, dim), dim, k=k, steps=int(cfg.get("steps", 30))
        )
        return P.project_components(df, vec, [c for c, _ in comps], prefix)
    return P.pca_embed(df, vec, dim, k=k, prefix=prefix)


@register("clusterSplit")
def cluster_split_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"clusterSplit": {"clusterField": "cluster_id", "weights":
    {"train": 0.9, "test": 0.1}, "seed": 42, "outField": "split",
    "report": false}} — leakage-safe split (functions/sampling.py):
    hashes the dedup CLUSTER id so near-duplicate documents never
    straddle train/test; with ``report: true`` returns the one-row
    leakage certificate (n_clusters, n_spanning, max_splits_per_cluster)
    for an EXISTING ``outField`` assignment instead."""
    from orientdb_etl_spark.functions.sampling import (
        cluster_split,
        split_leakage_report,
    )

    if cfg.get("report"):
        return split_leakage_report(
            df, cfg["clusterField"], cfg.get("outField", "split")
        )
    return cluster_split(
        df,
        cfg["clusterField"],
        dict(cfg["weights"]),
        seed=int(cfg.get("seed", 42)),
        out_col=cfg.get("outField", "split"),
    )


@register("textrankKeywords")
def textrank_keywords_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"textrankKeywords": {"textField": "text", "iterations": 6,
    "topk": 20, "minWeight": 1}} — corpus-level TextRank keyword
    extraction (weighted PageRank over the adjacent-content-word
    co-occurrence graph)."""
    from orientdb_etl_spark.functions.text import textrank_keywords

    return textrank_keywords(
        df,
        text_col=cfg.get("textField", "text"),
        iterations=int(cfg.get("iterations", 6)),
        damping=float(cfg.get("damping", 0.85)),
        topk=int(cfg.get("topk", 20)),
        min_len=int(cfg.get("minLen", 4)),
        min_weight=int(cfg.get("minWeight", 1)),
    )


@register("passAtK")
def pass_at_k_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"passAtK": {"problemField": "problem", "correctField": "ok",
    "ks": [1, 5, 10]}} — unbiased pass@k over a per-sample correctness
    log (one row per k: n_problems with n ≥ k and their mean
    1 − C(n−c,k)/C(n,k))."""
    from orientdb_etl_spark.functions.mleval import pass_at_k

    return pass_at_k(
        df,
        problem_col=cfg.get("problemField", "problem"),
        correct_col=cfg.get("correctField", "ok"),
        ks=tuple(int(k) for k in cfg.get("ks", (1, 5, 10))),
    )


@register("wordpiece")
def wordpiece_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"wordpiece": {"mode": "train"|"segment", "textField": "text",
    "numMerges": 10, "minWordFreq": 1, "mergesTable": "merges"}} —
    WordPiece (likelihood-scored) vocabulary induction / application.
    Train emits (step, pair, freq, score); segment applies a trained
    merge table via the shared greedy-left replace chain (the
    merge-table shape is bpe-compatible)."""
    from orientdb_etl_spark.functions.bpe import bpe_segment, wordpiece_train

    mode = str(cfg.get("mode", "train"))
    if mode == "train":
        return wordpiece_train(
            df,
            cfg.get("textField", "text"),
            num_merges=int(cfg.get("numMerges", 10)),
            min_word_freq=int(cfg.get("minWordFreq", 1)),
        )
    if mode == "segment":
        return bpe_segment(
            df,
            ctx.tables[cfg["mergesTable"]],
            cfg.get("textField", "text"),
            out_col=cfg.get("outField", "wp_symbols"),
        )
    raise ValueError(f"unknown wordpiece mode {mode!r}")


@register("bitextMine")
def bitext_mine_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"bitextMine": {"targetTable": "tgt", "vecField": "embedding",
    "idField": "vec_id", "targetIdField": "vec_id", "k": 4,
    "threshold": 1.05, "exact": false}} — margin-based parallel-pair
    mining (Artetxe & Schwenk 'max' strategy) between the pipeline
    payload (source side) and a registered target table. ``exact``
    switches from the LSH-bucketed production path to the quadratic
    certificate baseline."""
    from orientdb_etl_spark.functions.similarity import (
        bitext_mine,
        bitext_mine_exact,
    )

    tgt = ctx.tables[cfg["targetTable"]]
    kwargs = dict(
        vec_col=cfg.get("vecField", "embedding"),
        src_id=cfg.get("idField", "vec_id"),
        tgt_id=cfg.get("targetIdField", cfg.get("idField", "vec_id")),
        k=int(cfg.get("k", 4)),
        threshold=float(cfg.get("threshold", 1.05)),
    )
    if cfg.get("exact", False):
        return bitext_mine_exact(df, tgt, **kwargs)
    return bitext_mine(
        df, tgt,
        planes=int(cfg.get("planes", 6)),
        seed=int(cfg.get("seed", 7)),
        **kwargs,
    )


@register("sq8Quantize")
def sq8_quantize_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"sq8Quantize": {"vecField": "embedding", "dim": 64,
    "outField": "q8", "reconstructField": "recon"}} — per-dimension
    int8 scalar quantization (FAISS SQ8 shape): fit min/max in one
    codegen aggregation (2·dim doubles of driver state), emit the code
    array, and optionally a reconstructed vector column for ADC
    consumers."""
    from orientdb_etl_spark.functions.projections import (
        sq8_quantize,
        sq8_reconstruct_expr,
        sq8_stats,
    )

    vec = cfg.get("vecField", "embedding")
    dim = int(cfg["dim"])
    out_col = cfg.get("outField", "q8")
    stats = sq8_stats(df, vec, dim)
    out = sq8_quantize(df, vec, stats, out_col=out_col)
    recon = cfg.get("reconstructField")
    if recon:
        out = out.withColumn(recon, sq8_reconstruct_expr(out_col, stats))
    return out


@register("preferencePairs")
def preference_pairs_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"preferencePairs": {"promptField": "prompt", "responseField":
    "response", "scoreField": "score", "minMargin": 0.0}} — DPO/RLHF
    preference-pair construction: per prompt, highest-scored response
    (chosen) vs lowest (rejected), margin-gated, deterministic
    tie-breaks."""
    from orientdb_etl_spark.functions.objectives import preference_pairs

    return preference_pairs(
        df,
        prompt_col=cfg.get("promptField", "prompt"),
        response_col=cfg.get("responseField", "response"),
        score_col=cfg.get("scoreField", "score"),
        min_margin=float(cfg.get("minMargin", 0.0)),
    )


@register("clusterAgreement")
def cluster_agreement_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"clusterAgreement": {"predField": "cluster", "goldField":
    "label"}} — B³ precision/recall/F1 + Adjusted Rand of a predicted
    partition against a gold partition (near-dup cluster / blocking-key
    evaluation)."""
    from orientdb_etl_spark.functions.clustering import clustering_agreement

    return clustering_agreement(
        df,
        pred_col=cfg.get("predField", "cluster"),
        gold_col=cfg.get("goldField", "label"),
    )

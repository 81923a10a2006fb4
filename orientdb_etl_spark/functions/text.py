"""Text analysis operators for training-data curation.

All pure JVM expressions (split / regexp / aggregate) — these run inside
whole-stage codegen over the documents table; no Python in the hot path.

The per-document metrics (token count, quality score, language ID,
content fingerprint) are lambda-free SQL text, each formula written once
as a function of the SQL text of its inputs: the public column functions
return ``F.expr`` of it, and :func:`add_text_metrics` composes the same
text into one staged projection pair. Building them costs a few py4j
round trips instead of one per column node, and no higher-order lambda
is evaluated interpreted per token.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# Small built-in stopword inventories for the n-gram/stopword language
# heuristic. Deliberately tiny: language-ID here is a cheap curation signal
# (real pipelines plug a model via the multimodal/pandas-UDF path).
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "des", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "por", "con"],
}

_WS_RE = r"\s+"
_PUNCT_RE = r"[^!-/:-@\[-`{-~]"
_NON_WORD_RE = r"[^a-z0-9\s]"
# a whole whitespace token of ASCII letters: the run starts the text or
# follows a whitespace character and ends the text or precedes one
_ALPHA_TOKEN_RE = r"(?:^|\s)[A-Za-z]+(?=\s|\z)"


def _lit(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql(col: str | Column) -> str:
    """SQL text of a column argument: a name as is, a Column as printed."""
    return col if isinstance(col, str) else col._jc.toString()  # noqa: SLF001


def _quoted(name: str) -> str:
    """A top-level column name as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _trimmed_sql(text: str) -> str:
    return f"trim(coalesce({text}, ''))"


def _token_count_sql(trimmed: str) -> str:
    # split('') is [''], one element for no token
    return f"(size(split({trimmed}, {_lit(_WS_RE)})) - cast({trimmed} = '' AS int))"


def _quality_sql(text: str, trimmed: str, n_toks: str) -> str:
    n_alpha = f"size(regexp_extract_all({trimmed}, {_lit(_ALPHA_TOKEN_RE)}, 0))"
    # a whole guarded CASE, never a bare division: under ANSI arithmetic a
    # division repeated in one projection may be evaluated ahead of its guard
    mean_wl = f"CASE WHEN {n_toks} > 0 THEN length({text}) / {n_toks} ELSE 0.0D END"
    # NULL text has no score: `least` would skip its NULL length
    return (
        f"CASE WHEN {text} IS NOT NULL THEN (least(length({text}) / 500.0D, 1.0D)"
        f" + (1 - CASE WHEN length({text}) > 0 THEN length(regexp_replace("
        f"{text}, {_lit(_PUNCT_RE)}, '')) / length({text}) ELSE 0.0D END)"
        f" + CASE WHEN {n_toks} > 0 THEN {n_alpha} / {n_toks} ELSE 0.0D END"
        f" + CASE WHEN {mean_wl} BETWEEN 2 AND 12 THEN 1.0D ELSE 0.0D END) / 4 END"
    )


def _language_sql(trimmed: str) -> str:
    # the largest (overlap, priority) wins; 'und' outranks every language
    # at overlap 0, so zero overlap is 'und' and ties go en > de > fr > es
    words = f"array_distinct(split(lower({trimmed}), {_lit(_WS_RE)}))"
    ranked = ["named_struct('s', 0, 'p', 5, 'l', 'und')"] + [
        f"named_struct('s', size(array_intersect({words}, "
        f"array({', '.join(_lit(w) for w in ws)}))), 'p', {4 - i}, 'l', '{lang}')"
        for i, (lang, ws) in enumerate(_STOPWORDS.items())
    ]
    return f"array_max(array({', '.join(ranked)})).l"


def _fingerprint_sql(text: str) -> str:
    return (
        f"md5(trim(regexp_replace(regexp_replace(lower({text}), "
        f"{_lit(_NON_WORD_RE)}, ''), {_lit(_WS_RE)}, ' ')))"
    )


def tokens_col(col: str | Column) -> Column:
    """Empty/null-safe whitespace token array (`split('')` would yield
    `['']` — this maps empty text to an empty array). Stage this ONCE in a
    projection when several consumers read the tokens: a column tree
    referenced twice is evaluated twice."""
    trimmed = _trimmed_sql(_sql(col))
    return F.expr(
        f"CASE WHEN length({trimmed}) = 0 THEN cast(array() AS array<string>) "
        f"ELSE split({trimmed}, {_lit(_WS_RE)}) END"
    )


def token_count(col: str | Column) -> Column:
    """Whitespace token count; empty/null-safe."""
    return F.expr(_token_count_sql(_trimmed_sql(_sql(col))))


def bpe_ish_token_count(col: str | Column) -> Column:
    """Sub-word-ish token count: splits on whitespace AND punctuation AND
    letter/digit boundaries — a cheap proxy for BPE token counts (useful
    for budget estimates without shipping a tokenizer to executors)."""
    c = F.col(col) if isinstance(col, str) else col
    # letter runs, digit runs, and each remaining symbol count as one token
    # each — RE2-compatible (no lookarounds) so oracles can share the regex
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)))


def quality_score(col: str | Column, tokens: Column | None = None) -> Column:
    """Composite document-quality score in [0, 1]:

    mean of (a) length score (saturating at 500 chars), (b) 1 - punctuation
    ratio, (c) alpha-token ratio (tokens made only of ASCII letters),
    (d) mean-word-length sanity (penalize <2 or >12). The exact blend
    mirrors common curation heuristics (length/punct/stopword ratios);
    each term is expressible in ANSI SQL so the operator is
    oracle-checkable. NULL text scores NULL, so no quality floor keeps
    it.

    ``tokens``: a pre-staged :func:`tokens_col` column — pass it when
    computing several signals in one scan to count the tokens once per row.
    """
    text = _sql(col)
    trimmed = _trimmed_sql(text)
    n_toks = (
        f"size({_sql(tokens)})" if tokens is not None else _token_count_sql(trimmed)
    )
    return F.expr(_quality_sql(text, trimmed, n_toks))


def language_id(col: str | Column) -> Column:
    """Stopword-overlap language heuristic: the language whose stopword
    inventory overlaps the document's distinct lower-cased token set most;
    zero overlap → 'und' (undetermined), ties → the first of en, de, fr,
    es. Deterministic and SQL-expressible."""
    return F.expr(_language_sql(_trimmed_sql(_sql(col))))


def doc_fingerprint(col: str | Column) -> Column:
    """Canonical-content fingerprint: lowercase, collapse whitespace,
    strip punctuation, md5. Two docs differing only in spacing/punct/case
    share a fingerprint — the standard exact-near-dup key."""
    return F.expr(_fingerprint_sql(_sql(col)))


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?[0-9][0-9()\-\s]{7,}[0-9]"
_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_scrub(col: str | Column) -> Column:
    """Redact common PII patterns (emails, phone numbers, IPv4) with typed
    placeholders — the pre-training scrub pass. RE2-compatible patterns so
    the oracle can share them; pure JVM regexp_replace chain (no UDF)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, _EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, _IP_RE, "<IP>")
    out = F.regexp_replace(out, _PHONE_RE, "<PHONE>")
    return out


def repetition_ratio(col: str | Column) -> Column:
    """Fraction of duplicate lines in a document (a Gopher-style quality
    signal: high line-level repetition flags boilerplate/spam). 0.0 for
    single-line docs; 1 - distinct_lines/lines otherwise."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.split(c, "\n")
    n = F.size(lines)
    nd = F.size(F.array_distinct(lines))
    return F.when(n > 0, 1.0 - nd / n).otherwise(F.lit(0.0))


def ngram_repetition_ratio(
    col: str | Column, n: int = 3, tokens: Column | None = None
) -> Column:
    """Fraction of word n-grams that are duplicates within the document
    (Gopher's dup-n-gram-fraction repetition family, Rae et al. 2021 —
    the signal that catches looping/spam text that line-level repetition
    misses): 1 - distinct_ngrams / ngrams, 0.0 for docs with fewer than
    n words. Pure expression — word n-grams via sequence + slice +
    concat_ws, no explode (the n-gram array never leaves the row).

    ``tokens``: a pre-staged token-array column. Spark evaluates
    higher-order-function lambdas interpreted, so when computing several
    n for one document STAGE THE SPLIT ONCE (`withColumn("_toks",
    split(trim(text), '\\s+'))`) and pass it here — measured ~4× faster
    than re-splitting inside every ratio."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens if tokens is not None else F.split(F.trim(c), r"\s+")
    n_toks = F.size(toks)
    n_grams = F.greatest(n_toks - F.lit(n - 1), F.lit(0))
    gram_arr = F.transform(
        F.sequence(F.lit(1), F.greatest(n_toks - F.lit(n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    nd = F.size(F.array_distinct(gram_arr))
    return F.when(
        (n_toks >= n) & (n_grams > 0), 1.0 - nd / n_grams
    ).otherwise(F.lit(0.0))


def c4_line_filter(
    col: str | Column,
    min_words: int = 3,
    require_terminal_punct: bool = True,
) -> Column:
    """C4-style line cleaning (Raffel et al. 2020 §2.2) as one struct:
    keep only lines that (a) have ≥ ``min_words`` words, (b) end in
    terminal punctuation (. ! ? ") when ``require_terminal_punct``,
    (c) contain no curly brace (code), and (d) contain none of the
    blocklist phrases ('lorem ipsum', 'javascript', 'cookie policy',
    'terms of use'). Returns struct(text, n_lines, n_kept) — the cleaned
    text plus audit counts. Pure per-row expressions: the line array
    never leaves the row, so the filter runs inside the scan stage."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.split(c, "\n")

    def _keep(ln: Column) -> Column:
        t = F.trim(ln)
        words_ok = F.size(F.split(t, r"\s+")) >= min_words
        punct_ok = (
            t.rlike(r'[.!?"]$') if require_terminal_punct else F.lit(True)
        )
        brace_ok = ~t.contains("{") & ~t.contains("}")
        low = F.lower(t)
        block_ok = (
            ~low.contains("lorem ipsum")
            & ~low.contains("javascript")
            & ~low.contains("cookie policy")
            & ~low.contains("terms of use")
        )
        return words_ok & punct_ok & brace_ok & block_ok

    kept = F.filter(lines, _keep)
    return F.struct(
        F.array_join(kept, "\n").alias("text"),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
    )


def gopher_quality_flags(col: str | Column) -> Column:
    """Gopher-rules quality flags (Rae et al. 2021, Appendix A) as one
    struct of booleans — the standard pretraining-corpus filter set, each
    rule a pure JVM expression so the operator is oracle-checkable:

    - ``word_count_ok``: 50 ≤ words ≤ 100,000
    - ``mean_word_len_ok``: mean word length in [3, 10]
    - ``symbol_ratio_ok``: (# '#' chars + '...' runs) / words < 0.1
    - ``bullet_ok``: < 90% of lines start with a bullet
    - ``ellipsis_ok``: < 30% of lines end with an ellipsis
    - ``alpha_ok``: ≥ 80% of words contain an alphabetic character
    - ``stopword_ok``: ≥ 2 of the 8 required English stop words present
    - ``passes``: all of the above

    Empty documents fail every word-based rule (FALSE, not NULL) so the
    flags compose into filters without three-valued-logic surprises.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(c), r"\s+")
    n_words = token_count(c)
    nz = n_words > 0
    mean_wl = F.length(F.regexp_replace(c, r"\s+", "")) / n_words
    n_sym = F.length(F.regexp_replace(c, "[^#]", "")) + F.size(
        F.regexp_extract_all(c, F.lit(r"\.\.\."), F.lit(0))
    )
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    bullet_frac = (
        F.size(F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]")))
        / n_lines
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda ln: ln.rlike(r"(\.\.\.|…)$")))
        / n_lines
    )
    alpha_frac = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))) / n_words
    required = ["the", "be", "to", "of", "and", "that", "have", "with"]
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, F.lower)),
            F.array(*[F.lit(w) for w in required]),
        )
    )
    word_count_ok = F.when(nz, (n_words >= 50) & (n_words <= 100_000)).otherwise(False)
    mean_word_len_ok = F.when(nz, (mean_wl >= 3) & (mean_wl <= 10)).otherwise(False)
    symbol_ratio_ok = F.when(nz, n_sym / n_words < 0.1).otherwise(False)
    bullet_ok = bullet_frac < 0.9
    ellipsis_ok = ellipsis_frac < 0.3
    alpha_ok = F.when(nz, alpha_frac >= 0.8).otherwise(False)
    stopword_ok = stop_hits >= 2
    return F.struct(
        word_count_ok.alias("word_count_ok"),
        mean_word_len_ok.alias("mean_word_len_ok"),
        symbol_ratio_ok.alias("symbol_ratio_ok"),
        bullet_ok.alias("bullet_ok"),
        ellipsis_ok.alias("ellipsis_ok"),
        alpha_ok.alias("alpha_ok"),
        stopword_ok.alias("stopword_ok"),
        (
            word_count_ok
            & mean_word_len_ok
            & symbol_ratio_ok
            & bullet_ok
            & ellipsis_ok
            & alpha_ok
            & stopword_ok
        ).alias("passes"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    training-sample fan-out (doc → chunks). One row per chunk with
    (id, chunk_idx, chunk_text, n_tokens); declarative explode of
    token-slice windows, no UDF, so the fan-out parallelizes like any
    generator at 100 TB."""
    step = chunk_tokens - overlap
    if step <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    # chunk start offsets: 1, 1+step, ... (1-based for slice)
    starts = F.expr(
        f"transform(sequence(0, greatest(cast(ceil((size(_toks) - {chunk_tokens}) / "
        f"cast({step} as double)) as int), 0)), i -> i * {step} + 1)"
    )
    return (
        df.select(F.col(id_col), toks.alias("_toks"))
        .filter(n > 0)
        .select(
            id_col,
            F.posexplode(starts).alias("chunk_idx", "_start"),
            F.col("_toks"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.array_join(
                F.slice(F.col("_toks"), F.col("_start"), F.lit(chunk_tokens)), " "
            ).alias("chunk_text"),
            F.least(
                F.size(F.col("_toks")) - F.col("_start") + 1, F.lit(chunk_tokens)
            ).alias("n_tokens"),
        )
    )


def add_text_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Convenience: attach the full metric set (``n_tokens``, ``quality``,
    ``lang_pred``, ``fingerprint``) in one projection pair: the first
    stages the trimmed text and its token count once, the second reads
    them in the same formulas the column functions above return. An
    existing column of an output's name is replaced in place."""
    trimmed = _trimmed_sql(text_col)
    metrics = {
        "n_tokens": "_nt",
        "quality": _quality_sql(text_col, "_tr", "_nt"),
        "lang_pred": _language_sql("_tr"),
        "fingerprint": _fingerprint_sql(text_col),
    }
    kept = [
        f"{metrics.pop(c)} AS {_quoted(c)}" if c in metrics else _quoted(c)
        for c in df.columns
    ]
    return df.selectExpr(
        "*", f"{trimmed} AS _tr", f"{_token_count_sql(trimmed)} AS _nt"
    ).selectExpr(*kept, *[f"{e} AS {c}" for c, e in metrics.items()])


def line_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-level line-duplication profile — the signal behind
    RefinedWeb/FineWeb-style line dedup: a line appearing in ≥ ``min_docs``
    distinct documents is boilerplate (nav bars, footers, subscribe
    prompts), and a document dominated by such lines is itself boilerplate.

    Returns (id, n_lines, n_common, common_ratio) with blank lines
    ignored and lines deduplicated per doc (a line repeated inside ONE doc
    is repetition_ratio's business, not this one's).

    Scale shape: lines shuffle once as (md5, id) for the distinct +
    document-frequency aggregation (16 B + id per row, never the text),
    then the per-doc regroup is the second shuffle. Both aggregations
    partial-combine map-side; skew = a single line shared by most of the
    corpus, bounded because each doc contributes a line once.
    """
    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("_ln"),
    ).filter(F.length(F.trim(F.col("_ln"))) > 0)
    per_doc = lines.select(
        id_col, F.md5(F.trim(F.col("_ln"))).alias("_lh")
    ).distinct()
    freq = per_doc.groupBy("_lh").agg(
        F.count(F.lit(1)).alias("_df")
    )
    return (
        per_doc.join(freq, "_lh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("_df") >= min_docs, 1).otherwise(0)).alias(
                "n_common"
            ),
        )
        .withColumn(
            "common_ratio", F.round(F.col("n_common") / F.col("n_lines"), 4)
        )
    )


# HTML → text extraction rules, applied in order. Shared by the Spark
# column chain AND the generated SQL twin (html_to_text_sql) so both
# engines execute byte-identical logic — the same same-generated-text
# discipline as layout.zorder_interleave_sql. Every pattern is RE2-safe
# (no backreferences or lookaround; DuckDB's regex engine is RE2, Spark's
# is java.util.regex — this subset behaves identically in both):
#   1-2  script/style elements go entirely (content is code, not text)
#   3    comments go
#   4-5  block-level boundaries become newlines BEFORE tags are stripped
#   6    every remaining tag becomes a space
#   7-12 the five standard entities + nbsp decode; &amp; LAST so
#        double-escaped text ("&amp;lt;") decodes one level, per spec
#   13-16 whitespace canonicalization: collapse horizontal runs, tidy
#        space around newlines, cap blank-line runs, trim the ends
_HTML_RULES: list[tuple[str, str]] = [
    (r"(?is)<script[^>]*>.*?</script\s*>", ""),
    (r"(?is)<style[^>]*>.*?</style\s*>", ""),
    (r"(?s)<!--.*?-->", ""),
    (r"(?i)<(?:br|hr)\s*/?\s*>", "\n"),
    (r"(?i)</(?:p|div|h[1-6]|li|tr|table|ul|ol|blockquote|section|article)\s*>", "\n"),
    (r"<[^>]*>", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&apos;", "'"),
    (r"&nbsp;", " "),
    (r"&amp;", "&"),
    (r"[ \t\r\f]+", " "),
    (r" ?\n ?", "\n"),
    (r"\n{3,}", "\n\n"),
    (r"^\s+|\s+$", ""),
]


def html_to_text(col: str | Column) -> Column:
    """Extract readable text from an HTML document column — the first
    stage of any web-crawl curation pipeline (upstream of
    strip_boilerplate_lines / c4_line_filter, which operate on the
    extracted text's lines).

    Pure JVM regexp_replace chain fused into the scan by whole-stage
    codegen: zero shuffles, zero Python, embarrassingly parallel — the
    right shape for the 100 TB ingest path where this runs once per
    crawled page. A full HTML5 parser (tree construction, implied tags)
    is out of scope by design: for corpus curation the regex extraction
    is the standard trade (C4 / CCNet both operate on extracted text,
    not DOM trees), and anything stricter belongs in a Pandas-UDF stage
    with a real parser library.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = c
    for pat, repl in _HTML_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def html_to_text_sql(expr: str) -> str:
    """The DuckDB twin of :func:`html_to_text`, generated from the SAME
    rule table: nested regexp_replace(..., 'g') calls. ``expr`` is any
    SQL string expression."""
    out = expr
    for pat, repl in _HTML_RULES:
        p = pat.replace("'", "''")
        r = repl.replace("\\", "\\\\").replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return out


def strip_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Remove corpus-common lines (document frequency ≥ ``min_docs``) from
    every document, preserving original line order; docs whose every line
    is boilerplate keep an empty text. All other columns pass through.

    posexplode carries the line position through the frequency join so the
    rebuild (collect_list of (pos, line) → sort → concat) restores order
    deterministically — the standard explode/regroup shape, two shuffles.
    """
    lines = df.select(
        F.col(id_col).alias("_sid"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_ln"),
    )
    hashed = lines.withColumn("_lh", F.md5(F.trim(F.col("_ln"))))
    freq = (
        hashed.filter(F.length(F.trim(F.col("_ln"))) > 0)
        .select("_sid", "_lh")
        .distinct()
        .groupBy("_lh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_lh")
    )
    kept = hashed.join(freq, "_lh", "left_anti")
    rebuilt = (
        kept.groupBy("_sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_ln"))
                    ),
                    lambda s: s["_ln"],
                ),
                "\n",
            ).alias("_stripped")
        )
    )
    return (
        df.join(rebuilt, df[id_col] == rebuilt["_sid"], "left")
        .drop("_sid")
        .withColumn(text_col, F.coalesce(F.col("_stripped"), F.lit("")))
        .drop("_stripped")
    )


def unigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the cheap proxy for the CCNet/KenLM perplexity
    filter: gibberish and rare-token spam score low, fluent text scores
    near the corpus mode. Two-pass by construction (the model IS the
    corpus): pass 1 aggregates token frequencies, pass 2 joins each
    token occurrence back to its frequency and averages log p per doc.

    Returns (id, n_tokens, mean_logprob). Tokens are lowercased
    whitespace tokens; docs with no tokens are absent from the output.

    Scale shape: the token stream shuffles twice (vocab count, per-doc
    regroup); the vocab joins back by token hash. At web scale the vocab
    tail is huge but the HEAD carries almost all occurrences — the join
    is a standard hot-key-tolerant hash join (AQE handles the stopword
    skew), and both aggregations partial-combine map-side.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.transform(tokens_col(F.col(text_col)), F.lower)
        ).alias("_tok"),
    )
    vocab = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_n"))
    total = vocab.agg(F.sum("_n").alias("_total"))
    scored = (
        toks.join(vocab, "_tok")
        .join(F.broadcast(total))
        .select(
            id_col,
            (F.log(F.col("_n")) - F.log(F.col("_total"))).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("_lp"), 4).alias("mean_logprob"),
    )


def bigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.8,
) -> DataFrame:
    """Per-document mean log-probability under an interpolated bigram LM
    trained on the corpus itself — one step closer to the CCNet/KenLM
    perplexity filter (Wenzek et al. LREC 2020) than the unigram proxy:
    ``P(w|prev) = λ·c(prev,w)/c(prev,·) + (1-λ)·c(w)/N``. Word salad
    with plausible unigrams but implausible transitions ("the the of
    and") now scores low too.

    Returns (id, n_bigrams, mean_logprob); docs with fewer than two
    tokens are absent. Tokens are lowercased whitespace tokens; the
    bigram context count ``c(prev,·)`` is the observed bigram mass of
    ``prev`` (no end-of-doc continuation mass).

    Scale shape: bigram extraction is a per-row expression + explode (no
    window); model building is two hash aggregations (map-side partial);
    scoring joins each bigram occurrence to its counts — token-keyed
    hash joins with Zipfian hot keys (stopword pairs), the standard AQE
    skew-join case. Everything partial-aggregates before the exchanges.
    """
    t = tokens_col(F.col(text_col))
    bg = F.expr(
        "transform(sequence(1, size(_t) - 1), "
        "i -> concat_ws(' ', lower(element_at(_t, i)), "
        "lower(element_at(_t, i + 1))))"
    )
    bigrams = (
        df.select(F.col(id_col), t.alias("_t"))
        .filter(F.size("_t") >= 2)
        .select(id_col, F.explode(bg).alias("_bg"))
        .withColumn("_prev", F.substring_index("_bg", " ", 1))
        .withColumn("_cur", F.substring_index("_bg", " ", -1))
    )
    bg_counts = bigrams.groupBy("_prev", "_cur").agg(
        F.count(F.lit(1)).alias("_cb")
    )
    ctx_counts = bg_counts.groupBy("_prev").agg(F.sum("_cb").alias("_cctx"))
    uni = bigrams.groupBy("_cur").agg(F.count(F.lit(1)).alias("_cu"))
    total = uni.agg(F.sum("_cu").alias("_n"))
    scored = (
        bigrams.join(bg_counts, ["_prev", "_cur"])
        .join(ctx_counts, "_prev")
        .join(uni, "_cur")
        .join(F.broadcast(total))
        .select(
            id_col,
            F.log(
                F.lit(lam) * F.col("_cb") / F.col("_cctx")
                + F.lit(1.0 - lam) * F.col("_cu") / F.col("_n")
            ).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_lp"), 4).alias("mean_logprob"),
    )


def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """BM25 relevance of every document against a fixed term query
    (Robertson/Spärck Jones probabilistic weighting with the Lucene
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf).

    Scale shape — the corpus itself NEVER shuffles: per-term tf and doc
    length are per-row expressions (``size(filter(toks, ...))``, no
    explode); N / avgdl / per-term df reduce to ONE single-row aggregate
    (partial map-side) that broadcasts back via cross join; scoring is a
    projection; the top-k is TakeOrderedAndProject. Cost at 100 TB = one
    scan + a scalar broadcast, for any fixed query size.

    Deterministic: ties (identical tf vector and length) break by id.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    for t in query_terms:
        if not t.isalnum():
            raise ValueError(f"query term {t!r} must be alphanumeric")
    base = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    ).withColumn("_dl", F.size("_toks"))
    for i, t in enumerate(query_terms):
        base = base.withColumn(
            f"_tf{i}", F.expr(f"size(filter(_toks, x -> lower(x) = '{t.lower()}'))")
        )
    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(query_terms))
        ],
    )
    # one literal sum, fixed association order — the DuckDB oracle uses the
    # byte-identical expression so float evaluation matches
    terms = [
        f"ln((_n - _df{i} + 0.5) / (_df{i} + 0.5) + 1.0) * "
        f"(_tf{i} * ({k1} + 1)) / "
        f"(_tf{i} + {k1} * (1 - {b} + {b} * _dl / _avgdl))"
        for i in range(len(query_terms))
    ]
    score = " + ".join(terms)
    return (
        base.crossJoin(F.broadcast(stats))
        .withColumn("_score", F.expr(score))
        .orderBy(F.col("_score").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round("_score", 4).alias("bm25"))
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    strip_controls: bool = True,
    out_col: str | None = None,
) -> DataFrame:
    """Unicode normalization for web-crawl text: compose combining
    sequences to ``form`` (NFC default — the form dedup fingerprints,
    tokenizers, and downstream equality all assume; 'café' as
    e+COMBINING-ACUTE vs precomposed é must not count as two different
    documents) and optionally strip C0/C1 control characters except
    tab/newline/carriage-return.

    Scale shape: the control strip is a pure JVM regexp; the
    normalization itself has no Spark SQL builtin, so it runs as an
    Arrow-batched pandas UDF over stdlib ``unicodedata`` — one map
    stage, no shuffle, no driver state. ASCII-only batches pass through
    unchanged (normalize is identity), so the common case costs one
    vectorized scan.
    """
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @pandas_udf(StringType())
    def _norm(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: None if t is None else unicodedata.normalize(form, t)
        )

    out = out_col or text_col
    col = _norm(F.col(text_col))
    if strip_controls:
        col = F.regexp_replace(col, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
    return df.withColumn(out, col)


def tfidf_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_df: int = 1,
) -> DataFrame:
    """Top-k TF-IDF keywords per document (Spärck Jones '72 weighting in
    the smooth-idf form sklearn standardized: ``tf · (ln((N+1)/(df+1))
    + 1)``) — per-doc keyword extraction, the inverse view of
    :func:`bm25_scores` (which scores docs against one fixed query).

    Plan shape: tokenize+explode is one Generate (no shuffle), the
    (doc, term) tf count is ONE grouped shuffle, per-term document
    frequency aggregates off that same frame, and the scored frame joins
    back on the term key — vocabulary-sized, so Catalyst/AQE picks
    broadcast vs shuffle by its real size (a web-scale vocabulary is NOT
    reliably broadcastable; don't force it). The per-doc top-k is the
    rank-filter shape that compiles to WindowGroupLimit with a partial
    pre-shuffle prune. N (corpus size) is a single-row broadcast.
    Ranking is on the unrounded score with a term tie-break, so the
    selection is total and portable; the emitted score rounds to 4dp.
    """
    from orientdb_etl_spark.operators.relational import topk_per_group

    toks = df.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("_raw")
    )
    tf = (
        toks.select(F.col(id_col), F.lower(F.col("_raw")).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_dft"))
        .filter(F.col("_dft") >= int(min_df))
    )
    n = df.select(F.col(id_col)).agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(dft, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "_score",
            F.col("tf")
            * (F.log((F.col("_n") + 1.0) / (F.col("_dft") + 1.0)) + 1.0),
        )
    )
    return topk_per_group(
        scored, id_col, ["_score DESC", "term ASC"], int(k), rank_col="rank"
    ).select(
        id_col, "term", "tf", F.round("_score", 4).alias("tfidf"), "rank"
    )




def pmi_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    top_k: int = 50,
    round_to: int = 6,
) -> DataFrame:
    """Top collocations by pointwise mutual information (Church & Hanks
    1990): adjacent lowercased token bigrams scored with ``pmi =
    ln(p(xy) / (p(x)·p(y)))`` where ``p(xy) = c_xy/N_bigrams`` and the
    unigram probabilities use the full token count — the
    phrase-discovery pass (\"new york\", \"machine learning\") that
    feeds tokenizer vocab curation upstream of BPE. Returns the top
    ``top_k`` pairs ``(w1, w2, n_pair, pmi)``; ``min_count`` floors the
    pair support so rare-pair PMI noise (which maxes PMI at count 1)
    never wins.

    Scale shape: tokenize once, two Generate explodes (unigrams,
    bigrams via an index transform — guarded ``size >= 2`` so
    ``sequence()`` never descends), ONE grouped shuffle each, then the
    pair frame joins the vocabulary-sized unigram counts on each side
    (Catalyst/AQE picks broadcast vs shuffle by real vocab size). All
    counts are exact BIGINTs; selection orders on the RAW probability
    ratio (pure arithmetic — bit-identical across engines, unlike ln's
    libm) with a (w1, w2) tie-break, compiling to
    TakeOrderedAndProject; only the emitted score applies ``ln``.
    """
    low = F.transform(tokens_col(text_col), lambda x: F.lower(x))
    toks = df.select(low.alias("_t"))
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    totals = uni.agg(
        F.sum("_c").alias("_nu"),
    )
    bg = (
        toks.where(F.size("_t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_t) - 1), "
                    "j -> struct(element_at(_t, j) AS w1, "
                    "element_at(_t, j + 1) AS w2))"
                )
            ).alias("_p")
        )
        .select("_p.w1", "_p.w2")
    )
    pairs = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    nb = pairs.agg(F.sum("n_pair").alias("_nb"))
    d = lambda c: c.cast("double")  # noqa: E731
    scored = (
        pairs.where(F.col("n_pair") >= int(min_count))
        .join(uni.select(F.col("w").alias("w1"), F.col("_c").alias("_c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("_c").alias("_c2")), "w2")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(nb))
        .withColumn(
            "_ratio",
            d(F.col("n_pair"))
            * d(F.col("_nu"))
            * d(F.col("_nu"))
            / (d(F.col("_nb")) * d(F.col("_c1")) * d(F.col("_c2"))),
        )
    )
    return (
        scored.orderBy(F.col("_ratio").desc(), "w1", "w2")
        .limit(int(top_k))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(F.log(F.col("_ratio")), round_to).alias("pmi"),
        )
    )


def readability(col: str | Column) -> Column:
    """Flesch reading-ease + Flesch–Kincaid grade as a struct of
    deterministic, SQL-replayable counts (Kincaid et al. 1975):

    - ``n_words``: whitespace tokens;
    - ``n_sentences``: runs of sentence-ending punctuation ``[.!?]+``,
      clamped to >= 1 (a fragment is one sentence);
    - ``n_syllables``: vowel-group runs ``[aeiouy]+`` over the lowercased
      text, plus one per vowel-less word (every word counts at least one
      syllable) — the standard cheap heuristic; vowel runs never cross
      whitespace, so one global regexp count equals the per-word sum;
    - ``flesch`` = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words);
    - ``fk_grade`` = 0.39·(words/sentences) + 11.8·(syll/words) − 15.59.

    Everything is JVM regex/array arithmetic inside one scan — zero
    exchanges, embarrassingly parallel at any scale — and each count is
    expressible in ANSI SQL, which makes the scores hash-checkable.
    NULL/blank text yields NULL."""
    c = F.col(col) if isinstance(col, str) else col
    blank = F.length(F.trim(F.coalesce(c, F.lit("")))) == 0
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    n_words = F.size(toks)
    n_sent = F.greatest(F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1))
    vowelless = F.size(F.filter(toks, lambda t: ~t.rlike("[aeiouy]")))
    n_syll = F.regexp_count(F.lower(c), F.lit("[aeiouy]+")) + vowelless
    wps = n_words.cast("double") / n_sent
    spw = n_syll.cast("double") / n_words
    return F.when(
        ~blank,
        F.struct(
            n_words.alias("n_words"),
            n_sent.alias("n_sentences"),
            n_syll.alias("n_syllables"),
            F.round(
                F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
            ).alias("flesch"),
            F.round(
                F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
            ).alias("fk_grade"),
        ),
    )


def top_vocab(
    df: DataFrame, text_col: str, size: int = 30000
) -> DataFrame:
    """Top-``size`` corpus tokens by occurrence count (ties broken by
    token ascending — deterministic, engine-portable). One explode +
    hash aggregation + TakeOrderedAndProject; the result is
    vocabulary-sized (broadcastable) by construction."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(int(size))
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab: DataFrame,
    round_to: int = 6,
) -> DataFrame:
    """Per-document out-of-vocabulary audit against a reference
    vocabulary (tokenizer-fit assessment — the coverage statistic you
    check before committing to a vocab, and the drift alarm when a new
    crawl slice stops matching it): ``(id, n_tokens, n_oov, oov_rate)``
    counting token OCCURRENCES (not types) outside ``vocab``'s first
    column.

    Scale shape: the vocabulary is broadcast (vocab-sized by
    definition); the corpus explodes to tokens and LEFT-joins the
    broadcast membership — no shuffle of corpus data, one per-doc hash
    aggregation. Pairs with :func:`top_vocab` (self-fit) or the learned
    BPE table from :mod:`~orientdb_etl_spark.functions.bpe`.
    """
    vcol = vocab.columns[0]
    v = F.broadcast(
        vocab.select(F.col(vcol).alias("_vtok")).distinct().withColumn(
            "_in", F.lit(1)
        )
    )
    toks = (
        df.where(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("_tok"),
        )
        .where(F.col("_tok") != "")
    )
    return (
        toks.join(v, toks["_tok"] == v["_vtok"], "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "id",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov") / F.col("n_tokens").cast("double"), round_to
            ).alias("oov_rate"),
        )
    )


#: Content-word stoplist for :func:`textrank_keywords` — common English
#: function words that survive the length-4 filter. Kept deliberately
#: small and FROZEN: the oracle twin inlines the same list, so the two
#: must move together.
TEXTRANK_STOPWORDS: tuple[str, ...] = (
    "that", "with", "this", "from", "have", "were", "their", "they",
    "which", "would", "there", "about", "when", "will", "been", "more",
    "into", "than", "other", "some", "what", "over", "only", "also",
)


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    iterations: int = 6,
    damping: float = 0.85,
    topk: int = 20,
    min_len: int = 4,
    min_weight: int = 1,
) -> DataFrame:
    """Corpus-level TextRank keyword extraction (Mihalcea & Tarau,
    EMNLP'04): PageRank over the word co-occurrence graph — nodes are
    content words (lowercase alpha runs, ``len ≥ min_len``, stoplist-
    filtered), undirected edges connect ADJACENT content words within a
    document weighted by co-occurrence count, and the weighted-PageRank
    recurrence r(v) = (1−d) + d·Σ_u r(u)·w(u,v)/wdeg(u) runs a fixed
    ``iterations`` rounds from r₀ = 1. Returns the ``topk`` keywords:
    ``(word, weight, score)`` with ``weight`` the word's total incident
    edge weight and ``score`` the final rank (6dp).

    Determinism/portability: ranks live as INTEGER NANOS (bigint) so
    every cross-edge sum is addition-order-free and a SQL oracle
    unrolling the same rounds replays the trajectory bit-for-bit (the
    per-edge contribution is one double division, rounded back to
    nanos; both engines fold the identical doubles).

    Scale shape: tokenize+pair is one Generate (no join — adjacent
    pairs come from an index fold over the token array); the edge table
    is one grouped shuffle, vocabulary²-bounded and in practice
    corpus-sized but STATIC across rounds; each round is one join + one
    vocabulary-sized aggregation (the unigram/BT iteration discipline:
    state is vocabulary-sized, lineage bounded per round by
    localCheckpoint). ``min_weight`` prunes hapax edges before
    iteration — at web scale the long tail of weight-1 edges dominates
    the edge count while contributing noise rank. The final top-k is a
    TakeOrderedAndProject, never a global window. No counterpart in the
    reference (row-at-a-time ETL, OETLProcessor.java:252-283); §2.8
    extension.
    """
    if iterations <= 0 or topk <= 0:
        raise ValueError("iterations and topk must be positive")
    toks = F.filter(
        F.split(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z]+"
        ),
        lambda t: (F.length(t) >= int(min_len))
        & ~t.isin(*TEXTRANK_STOPWORDS),
    )
    t = df.select(toks.alias("_t"))
    pairs = t.select(
        F.explode(
            F.when(
                F.size("_t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("_t") - 1),
                    lambda i: F.struct(
                        F.least(
                            F.element_at("_t", i), F.element_at("_t", i + 1)
                        ).alias("a"),
                        F.greatest(
                            F.element_at("_t", i), F.element_at("_t", i + 1)
                        ).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("_p")
    ).select("_p.a", "_p.b")
    und = (
        pairs.where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_w"))
        .filter(F.col("_w") >= int(min_weight))
    )
    edges = (
        und.select(F.col("a").alias("_u"), F.col("b").alias("_v"), "_w")
        .unionByName(
            und.select(F.col("b").alias("_u"), F.col("a").alias("_v"), "_w")
        )
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("_u").agg(F.sum("_w").alias("_wd"))
    nodes = edges.select(F.col("_u").alias("word")).distinct()
    nano = 1_000_000_000
    teleport = int(round((1.0 - damping) * nano))
    ranks = nodes.select("word", F.lit(nano).cast("bigint").alias("_r"))
    for _ in range(int(iterations)):
        contrib = (
            ranks.join(edges, ranks["word"] == edges["_u"])
            .join(deg, "_u")
            .select(
                F.col("_v").alias("word"),
                F.round(
                    (F.col("_r") * F.col("_w"))
                    / F.col("_wd").cast("double")
                )
                .cast("bigint")
                .alias("_c"),
            )
            .groupBy("word")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.join(contrib, "word", "left")
            .select(
                "word",
                (
                    F.lit(teleport).cast("bigint")
                    + F.round(
                        F.lit(float(damping))
                        * F.coalesce(F.col("_in"), F.lit(0))
                        .cast("double")
                    ).cast("bigint")
                ).alias("_r"),
            )
            .localCheckpoint(eager=True)
        )
    wdeg = deg.select(F.col("_u").alias("word"), F.col("_wd").alias("weight"))
    return (
        ranks.join(wdeg, "word")
        .orderBy(F.col("_r").desc(), F.col("word").asc())
        .limit(int(topk))
        .select(
            "word",
            "weight",
            F.round(F.col("_r") / F.lit(1e9), 6).alias("score"),
        )
    )


def textrank_rounds_sql(
    docs_cte: str,
    text_expr: str = "text",
    iterations: int = 6,
    damping: float = 0.85,
    topk: int = 20,
    min_len: int = 4,
    min_weight: int = 1,
) -> str:
    """DuckDB replay of :func:`textrank_keywords`: identical tokenizer,
    identical canonical undirected edge table, and the same unrolled
    integer-nano rounds (MATERIALIZED per round — each round is read by
    the next's join AND aggregation)."""
    stop = ", ".join(f"'{w}'" for w in TEXTRANK_STOPWORDS)
    nano = 1_000_000_000
    teleport = int(round((1.0 - damping) * nano))
    sql = (
        f"WITH t AS (SELECT list_filter(regexp_split_to_array("
        f"lower(coalesce({text_expr}, '')), '[^a-z]+'), "
        f"x -> length(x) >= {int(min_len)} AND NOT list_contains("
        f"[{stop}], x)) AS t FROM {docs_cte}), "
        "pr AS (SELECT unnest([{'a': least(t[j], t[j+1]), "
        "'b': greatest(t[j], t[j+1])} FOR j IN range(1, len(t))]) AS p "
        "FROM t WHERE len(t) >= 2), "
        "und AS (SELECT p.a AS a, p.b AS b, count(*) AS w FROM pr "
        "WHERE p.a <> p.b GROUP BY 1, 2 "
        f"HAVING count(*) >= {int(min_weight)}), "
        "ed AS MATERIALIZED (SELECT a AS u, b AS v, w FROM und "
        "UNION ALL SELECT b AS u, a AS v, w FROM und), "
        "deg AS MATERIALIZED (SELECT u, CAST(SUM(w) AS BIGINT) AS wd "
        "FROM ed GROUP BY u), "
        "nodes AS MATERIALIZED (SELECT DISTINCT u AS word FROM ed), "
        f"r0 AS (SELECT word, CAST({nano} AS BIGINT) AS r FROM nodes), "
    )
    for i in range(1, int(iterations) + 1):
        sql += (
            f"r{i} AS MATERIALIZED (SELECT n.word, "
            f"CAST({teleport} AS BIGINT) + CAST(round({float(damping)!r} "
            "* CAST(coalesce(s.c, 0) AS DOUBLE)) AS BIGINT) AS r "
            "FROM nodes n LEFT JOIN (SELECT e.v AS word, "
            "SUM(CAST(round((p.r * e.w) / CAST(g.wd AS DOUBLE)) "
            f"AS BIGINT)) AS c FROM r{i - 1} p "
            "JOIN ed e ON e.u = p.word JOIN deg g ON g.u = p.word "
            "GROUP BY e.v) s ON s.word = n.word), "
        )
    sql = sql.rstrip(", ") + " "
    sql += (
        f"SELECT n.word, g.wd AS weight, round(n.r / 1e9, 6) AS score "
        f"FROM r{int(iterations)} n JOIN deg g ON g.u = n.word "
        f"ORDER BY n.r DESC, n.word ASC LIMIT {int(topk)}"
    )
    return sql

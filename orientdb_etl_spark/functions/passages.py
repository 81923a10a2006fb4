"""Passage-level (exact-substring) duplicate detection and removal.

Published context: suffix-array ExactSubstr dedup (Lee et al.,
"Deduplicating Training Data Makes Language Models Better", ACL 2022)
removes any long substring that appears twice in the corpus. A distributed
suffix array over 100 TB is impractical; the standard scalable
approximation (hash-gram passage dedup, as in open corpus tooling built on
n-gram/Bloom passage marking) slides a fixed-length token window over
every document and calls a window DUPLICATED when the same n-gram occurs
in ≥ ``min_docs`` distinct documents. Detection is exact for windows of
exactly n tokens; longer shared passages are covered as runs of
overlapping duplicated windows, which the span-merge in
:func:`strip_duplicate_passages` reassembles.

Scale shape: one explode of (doc, position) → gram hash (xxhash64 of the
token window, built as a pure JVM expression), ONE grouped shuffle to
count distinct docs per gram (map-side combined), a join back of only the
duplicated grams, and an Arrow-batched span-merge per document. No
driver-side state; the duplicated-gram set stays distributed.

Oracle twin: :func:`duplicate_passage_stats` with ``portable=True`` groups
by the gram TEXT itself (no hash), which a relational oracle can mirror
exactly — the hash-vs-text split mirrors the minhash production/portable twins.

Siblings in ``functions/dedup.py``: ``shared_span_pairs`` exposes the
corpus-level PAIR view over the same window fingerprints (which documents
share spans with which, with a winnowing posting-compression knob), and
``strip_duplicate_spans`` is the ALL-BUT-ONE removal complement of
:func:`strip_duplicate_passages` (a canonical owner keeps the span; here
every occurrence is removed).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _doc_grams(
    df: DataFrame, text_col: str, id_col: str, n: int, stride: int
) -> DataFrame:
    """(id, pos, gram) for every stride-th token position; gram = the
    space-joined n-token window starting there. Pure expressions; the
    n× blowup is bounded by stride (stride=1 ⇒ exact window coverage,
    stride=n ⇒ disjoint blocks)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    return (
        df.select(
            F.col(id_col).alias("_id"),
            toks.alias("_toks"),
        )
        .filter(F.size("_toks") >= n)
        .select(
            "_id",
            F.explode(
                F.expr(f"sequence(1, size(_toks) - {n} + 1, {stride})")
            ).alias("pos"),
            F.col("_toks"),
        )
        .select(
            "_id",
            "pos",
            F.concat_ws(" ", F.expr(f"slice(_toks, pos, {n})")).alias("gram"),
        )
    )


def duplicate_passage_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 20,
    stride: int = 1,
    min_docs: int = 2,
    portable: bool = False,
) -> DataFrame:
    """Per-document duplicated-passage profile: ``(id, n_grams,
    n_dup_grams, dup_frac)`` where a gram position counts as duplicated
    iff its n-token window occurs in ≥ ``min_docs`` DISTINCT documents
    (cross-document duplication — within-document repetition is the
    separate ``ngram_repetition`` signal).

    Contract note: documents SHORTER than ``n`` tokens produce no gram
    and therefore NO output row (they cannot contain an n-token passage).
    A caller left-joining this profile back onto the corpus must treat
    the resulting NULLs as "no passage possible", not "unprofiled" —
    coalescing dup_frac to 0 for them is correct, but do it knowingly.

    ``portable=False`` (production): grams shuffle as 8-byte xxhash64
    keys. ``portable=True``: grams shuffle as text so a relational
    oracle can replay the identical grouping (hash collisions — ~n²/2⁶⁴
    — are the only semantic difference)."""
    grams = _doc_grams(df, text_col, id_col, n, stride)
    key = F.col("gram") if portable else F.xxhash64("gram")
    keyed = grams.select("_id", "pos", key.alias("_k"))
    dup_keys = (
        keyed.groupBy("_k")
        .agg(F.countDistinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_k")
    )
    marked = keyed.join(dup_keys, "_k", "left_semi").groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_dup_grams")
    )
    totals = keyed.groupBy("_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        totals.join(marked, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.round(
                F.coalesce("n_dup_grams", F.lit(0)) / F.col("n_grams"), 4
            ).alias("dup_frac"),
        )
    )


def strip_duplicate_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 20,
    stride: int = 1,
    min_docs: int = 2,
) -> DataFrame:
    """Rewrite each document with cross-document duplicated passages
    REMOVED (the ExactSubstr removal semantics at gram granularity):
    a token is dropped iff some duplicated window covers it; overlapping
    windows merge into one span, so an arbitrarily long shared passage
    disappears as a unit. Documents emptied BY the stripping are dropped;
    documents with nothing to strip (including NULL/empty texts) pass
    through byte-identical.

    Output: original columns with ``text_col`` rewritten plus
    ``n_tokens_removed``. One grouped shuffle for the duplicated-gram
    set, one grouped collect of duplicated starts per doc (ids +
    int positions only — never the text), and an Arrow-batched numpy
    mask per document for the rewrite."""
    grams = _doc_grams(df, text_col, id_col, n, stride)
    keyed = grams.select("_id", "pos", F.xxhash64("gram").alias("_k"))
    dup_keys = (
        keyed.groupBy("_k")
        .agg(F.countDistinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_k")
    )
    dup_starts = (
        keyed.join(dup_keys, "_k", "left_semi")
        .groupBy("_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_starts"))
    )

    @F.pandas_udf(T.StructType([
        T.StructField("text", T.StringType()),
        T.StructField("removed", T.IntegerType()),
    ]))
    def _strip(toks_col: pd.Series, starts: pd.Series) -> pd.DataFrame:
        out_t, out_r = [], []
        for toks, st in zip(toks_col, starts):
            if toks is None:
                out_t.append(None)
                out_r.append(0)
                continue
            toks = list(toks)
            if st is None or len(st) == 0:
                out_t.append(" ".join(toks))
                out_r.append(0)
                continue
            mask = np.zeros(len(toks), dtype=bool)
            for p in st:  # 1-based window starts
                mask[p - 1 : p - 1 + n] = True
            kept = [t for t, m in zip(toks, mask) if not m]
            out_t.append(" ".join(kept))
            out_r.append(int(mask.sum()))
        return pd.DataFrame({"text": out_t, "removed": out_r})

    joined = df.join(
        dup_starts, df[id_col] == dup_starts["_id"], "left"
    ).drop("_id")
    # tokenize ONCE, Spark-side, with the SAME split the gram stage used —
    # the window positions index these exact tokens (a second tokenizer in
    # Python could disagree on exotic whitespace and shift every span)
    stripped = joined.withColumn(
        "_s",
        _strip(F.split(F.trim(F.col(text_col)), r"\s+"), F.col("_starts")),
    )
    keep = [c for c in df.columns if c != text_col]
    return (
        stripped.select(
            *keep,
            # untouched documents (nothing stripped — including NULL/empty
            # texts) pass through BYTE-IDENTICAL: the token re-join is only
            # ever applied to documents an actual removal rewrote, so the
            # operator never silently collapses whitespace it didn't touch
            F.when(F.col("_s.removed") == 0, F.col(text_col))
            .otherwise(F.col("_s.text"))
            .alias(text_col),
            F.col("_s.removed").alias("n_tokens_removed"),
        )
        # drop only documents EMPTIED BY STRIPPING; originally-empty docs
        # are not this operator's business and stay
        .filter(
            (F.col("n_tokens_removed") == 0)
            | (F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) > 0)
        )
    )

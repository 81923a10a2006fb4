"""BPE vocabulary induction: learn byte-pair-encoding merges from a
corpus (Sennrich et al. ACL 2016) with pure DataFrame ops.

The algorithm is inherently iterative — each merge step needs the pair
statistics AFTER all previous merges — but each step is fully relational:

1. word frequencies (one hash agg over exploded tokens);
2. each word becomes a space-delimited symbol sequence
   (``'hi' → ' h i </w> '``, sentinel-padded);
3. per step: pair counts = frequency-weighted symbol bigrams (hash agg),
   best pair = 1-row ``TakeOrderedAndProject`` (count desc, pair asc —
   deterministic tiebreak), merge applied with a LITERAL string
   ``replace`` of ``' a b '`` by ``' ab '`` on the padded sequence.

Everything stays in ONE lazy plan — the per-step "best pair" is a 1-row
broadcast cross join, never a driver collect — which is also what makes
the whole training run replayable as a single unrolled SQL statement in
the oracle.

Merge application note: ``replace`` substitutes leftmost non-overlapping
occurrences and resumes scanning after each substitution, so a run of an
odd number of identical symbols merges ⌊n/2⌋ pairs left-to-right — the
same greedy-left convention as the reference BPE implementation.

Scale shape at 100 TB: the corpus is touched ONCE (token explode + word
count); every merge step then runs over the WORD TABLE (vocabulary-sized,
orders of magnitude smaller than the corpus — the classic BPE trick).
Lineage grows linearly with merge count; ``iterate.chain_cut`` bounds it.

No counterpart in the reference; north-star extension per SURVEY §2.8.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orientdb_etl_spark.functions.iterate import chain_cut


def _symbol_bigrams(tok_arr_col: str) -> F.Column:
    """Adjacent symbol pairs ('a b') of a symbol ARRAY column. The < 2
    guard matters twice over: a fully-merged word has one symbol, and
    Spark's ``sequence(1, 0)`` DESCENDS ([1, 0]) instead of returning
    empty — without the guard it indexes out of bounds (DuckDB's
    ``range(1, 1)`` is empty, so the oracle would also diverge)."""
    return F.expr(
        f"CASE WHEN size({tok_arr_col}) < 2 "
        f"THEN cast(array() as array<string>) "
        f"ELSE transform(sequence(1, size({tok_arr_col}) - 1), "
        f"i -> concat_ws(' ', element_at({tok_arr_col}, i), "
        f"element_at({tok_arr_col}, i + 1))) END"
    )


def _word_seqs(
    df: DataFrame, text_col: str, min_word_freq: int
) -> DataFrame:
    """Shared trainer staging: whitespace word table with frequencies,
    each word as the sentinel-padded symbol sequence ``' h i </w> '``
    (sentinel spaces make ``' a b '`` replacement respect symbol
    boundaries). Vocabulary-sized — the corpus is touched exactly
    once."""
    words = (
        df.select(
            F.explode(
                F.split(
                    F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))),
                    r"\s+",
                )
            ).alias("_w")
        )
        .filter(F.col("_w") != "")
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_f"))
        .filter(F.col("_f") >= min_word_freq)
    )
    return words.select(
        F.concat(
            F.lit(" "),
            F.trim(F.regexp_replace(F.col("_w"), "(.)", "$1 ")),
            F.lit(" </w> "),
        ).alias("_seq"),
        F.col("_f"),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
    min_word_freq: int = 1,
) -> DataFrame:
    """Learn ``num_merges`` BPE merges; returns (step, pair, freq) —
    one row per merge in training order, ``pair`` the space-separated
    symbol pair merged at that step, ``freq`` its frequency-weighted
    count at selection time."""
    if num_merges <= 0:
        raise ValueError("num_merges must be positive")
    seqs = _word_seqs(df, text_col, min_word_freq)
    merges: list[DataFrame] = []
    for step in range(1, num_merges + 1):
        pairs = (
            # stage the split once — interpreted HOF lambdas don't CSE
            seqs.select(F.split(F.trim("_seq"), " ").alias("_t"), "_f")
            .select(F.explode(_symbol_bigrams("_t")).alias("_pair"), "_f")
            .groupBy("_pair")
            .agg(F.sum("_f").alias("_cnt"))
        )
        best = pairs.orderBy(
            F.col("_cnt").desc(), F.col("_pair").asc()
        ).limit(1)
        merges.append(
            best.select(
                F.lit(step).alias("step"),
                F.col("_pair").alias("pair"),
                F.col("_cnt").alias("freq"),
            )
        )
        seqs = (
            seqs.crossJoin(F.broadcast(best.select(F.col("_pair").alias("_bp"))))
            .withColumn(
                "_seq",
                F.replace(
                    F.col("_seq"),
                    F.concat(F.lit(" "), F.col("_bp"), F.lit(" ")),
                    F.concat(
                        F.lit(" "),
                        F.replace(F.col("_bp"), F.lit(" "), F.lit("")),
                        F.lit(" "),
                    ),
                ),
            )
            .drop("_bp")
        )
        seqs = chain_cut(seqs, step, num_merges)
    return reduce(DataFrame.unionByName, merges)


def bpe_segment(
    df: DataFrame,
    merges_df: DataFrame,
    text_col: str = "text",
    out_col: str = "bpe_symbols",
) -> DataFrame:
    """Apply a learned merge table to a corpus: every token becomes its
    BPE symbol sequence (array<string>). The merge table (small by
    construction) is collected in training order and applied as a chain
    of literal replaces — one projection, no joins, corpus scanned once.
    """
    ordered = [
        (r.step, r.pair)
        for r in merges_df.select("step", "pair").collect()
    ]
    ordered.sort()
    tok_seq = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.col("_tok"), "(.)", "$1 ")),
        F.lit(" </w> "),
    )
    seq = tok_seq
    for _, pair in ordered:
        seq = F.replace(
            seq,
            F.lit(f" {pair} "),
            F.lit(" " + pair.replace(" ", "") + " "),
        )
    return (
        df.withColumn(
            "_toks",
            F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"),
        )
        .withColumn("_tok", F.explode("_toks"))
        .filter(F.col("_tok") != "")
        .withColumn(out_col, F.split(F.trim(seq), " "))
        .drop("_toks", "_tok")
    )


def wordpiece_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
    min_word_freq: int = 1,
) -> DataFrame:
    """Learn ``num_merges`` WordPiece merges (Schuster & Nakajima,
    ICASSP'12; the BERT tokenizer's trainer): identical merge loop to
    :func:`bpe_train`, but each step merges the pair maximizing the
    LIKELIHOOD gain ``score = count(ab) / (count(a)·count(b))`` — the
    pair whose merge most increases a unigram LM's corpus likelihood —
    instead of the raw pair count. Rare-but-predictive pairs win over
    merely-frequent ones ('##ing' forms before 'th e' would). Returns
    ``(step, pair, freq, score)`` in training order, ``score`` the
    selection-time likelihood ratio (12dp; selection ranks the
    UNROUNDED double with a pair-string tie-break, so the trajectory
    is total and engine-portable: all three counts are exact integers
    and both engines perform the identical two-double division).

    Scale shape: the corpus collapses to the vocabulary-sized word
    table once; every step then runs one pair aggregation + one symbol
    aggregation over that table (both vocabulary-sized), scores pairs
    against a 1-row broadcast symbol-count MAP (no join — the symbol
    table is chars + merges-so-far, bounded by construction), and pins
    the single winning row driver-side (a 1-row collect — the bounded
    k-means-centroids pattern). Pinning the winner makes the merge a
    LITERAL string replace, so the symbol-sequence lineage stays LINEAR
    in the step count; the previous all-lazy form embedded each step's
    full selection subtree (pair agg + two symbol joins) inside the
    next step's sequences, tripling the plan per step (4 merges ⇒ a
    4260-node physical plan whose AQE re-optimizations dominated the
    runtime). Training stops early, returning the completed steps, once
    no word has two symbols left. No counterpart in the reference
    (OETLProcessor.java:252-283); §2.8 extension.
    """
    if num_merges <= 0:
        raise ValueError("num_merges must be positive")
    spark = df.sparkSession
    # the per-step 1-row collects below are separate actions, so the
    # vocabulary-sized word table is cached once to keep the corpus
    # touched EXACTLY once across all merge steps (released before
    # returning — zero persisted frames survive the call)
    base = _word_seqs(df, text_col, min_word_freq).cache()
    seqs = base
    rows = []
    schema = None
    for step in range(1, num_merges + 1):
        split = seqs.select(F.split(F.trim("_seq"), " ").alias("_t"), "_f")
        pairs = (
            split.select(F.explode(_symbol_bigrams("_t")).alias("_pair"), "_f")
            .groupBy("_pair")
            .agg(F.sum("_f").alias("_cnt"))
        )
        # symbol counts as ONE broadcast map row instead of two
        # split-half equi-joins: the symbol vocabulary is initial chars
        # + one new symbol per merge — bounded, never corpus-sized
        symmap = (
            split.select(F.explode("_t").alias("_s"), "_f")
            .groupBy("_s")
            .agg(F.sum("_f").alias("_sc"))
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("_s", "_sc"))
                ).alias("_m")
            )
        )
        left = F.substring_index(F.col("_pair"), " ", 1)
        right = F.substring_index(F.col("_pair"), " ", -1)
        scored = pairs.crossJoin(F.broadcast(symmap)).withColumn(
            "_score",
            F.col("_cnt")
            / (
                F.element_at(F.col("_m"), left).cast("double")
                * F.element_at(F.col("_m"), right)
            ),
        )
        best = (
            scored.orderBy(F.col("_score").desc(), F.col("_pair").asc())
            .limit(1)
            .select(
                F.lit(step).alias("step"),
                F.col("_pair").alias("pair"),
                F.col("_cnt").alias("freq"),
                F.round("_score", 12).alias("score"),
            )
        )
        if schema is None:
            schema = best.schema
        row = best.first()  # None once no word has two symbols left
        if row is None:
            break
        rows.append(row)
        merged = row.pair.replace(" ", "")
        seqs = seqs.withColumn(
            "_seq",
            F.replace(
                F.col("_seq"),
                F.lit(f" {row.pair} "),
                F.lit(f" {merged} "),
            ),
        )
        seqs = chain_cut(seqs, step, num_merges)
    base.unpersist()
    return spark.createDataFrame(rows, schema)

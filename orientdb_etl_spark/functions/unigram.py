"""Unigram-LM (SentencePiece-style) vocabulary induction: learn a
subword vocabulary with fixed-iteration Viterbi (hard) EM — the
companion of :mod:`functions.bpe` on the merge-free side of the
tokenizer family (Kudo, ACL 2018 "Subword Regularization"; the hard-EM
variant keeps every step deterministic and engine-replayable).

Algorithm (all relational, all deterministic):

1. **Word table** — same extraction as BPE: lowercase, whitespace
   split, frequency-weighted; words longer than ``max_word_len`` are
   excluded (they would only deepen the DP; the cap keeps the lattice
   width fixed and is applied identically in the oracle).
2. **Seed vocabulary** — every substring of length ≤ ``max_piece_len``
   counted with word-frequency weights (one hash agg over the exploded
   substring grid); ALL single characters are kept (they guarantee
   every word stays segmentable) plus the top ``seed_multi`` longer
   pieces by (count desc, piece asc) — a deterministic
   ``TakeOrderedAndProject``, never a full sort.
3. **E-step (Viterbi)** — per word, the classic segmentation DP:
   ``best(i) = max_l best(i-l) + logp(word[i-l+1..i])``. The whole
   lattice is ONE projection of nested higher-order functions
   (``aggregate``/``transform``/``array_max`` — JVM codegen, no Python,
   no shuffle): per-word piece scores become a flat array indexed by
   ``(start-1)*L + len`` (built once against the seed vocabulary; see
   :func:`unigram_lm_train`), the forward pass folds over positions,
   and the backtrace recovers the argmax path by EXACT float equality
   against the forward values (both engines fold the same rounded
   doubles in the same order, so ``best[i-l] + score == best[i]`` is
   engine-portable; ties break to the LONGEST piece via ``array_max``
   over the qualifying lengths).
4. **M-step** — chosen-piece counts (frequency-weighted hash agg) are
   Laplace-smoothed over the FIXED seed vocabulary (``count + 1``), so
   the piece set never changes across iterations and the oracle's CTE
   chain stays structurally identical per round. Log-probabilities are
   rounded to 6 dp BEFORE entering the next DP — that rounding is what
   makes the lattice arithmetic bit-identical between Spark and DuckDB
   (same trick as the hybrid-retrieval rank keys).

Scale shape at 100 TB: the corpus is touched ONCE (token explode +
word count); every EM iteration then runs over the WORD TABLE
(vocabulary-sized — the same reduction BPE exploits) against a 1-row
broadcast log-prob array, with one hash agg for the chosen pieces. The
substring grid is ``max_word_len × max_piece_len`` rows per distinct
word — bounded by construction, never corpus-sized. Only
vocabulary-sized state reaches the driver.

No counterpart in the reference; north-star extension per SURVEY §2.8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orientdb_etl_spark.functions.iterate import chain_cut, pin

#: Sentinel for "piece not in vocabulary" — any path through it loses
#: to any all-in-vocabulary path (single chars are always in), and both
#: engines fold the same literal, so backtrace equality still holds.
_NEG = "cast(-1e9 as double)"


def _word_table(df: DataFrame, text_col: str, max_word_len: int) -> DataFrame:
    """(word, freq) — lowercase whitespace tokens ≤ max_word_len."""
    return (
        df.select(
            F.explode(
                F.split(
                    F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))),
                    r"\s+",
                )
            ).alias("_w")
        )
        .filter((F.col("_w") != "") & (F.length("_w") <= max_word_len))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_f"))
    )


def _substring_grid(words: DataFrame, max_piece_len: int) -> DataFrame:
    """Full (start, len) grid per word — including out-of-range cells
    as NULL pieces, so the per-word score array built from it has
    CONTIGUOUS flat indices ``(start-1)*L + len`` with no gaps."""
    L = max_piece_len
    return words.select(
        "_w",
        "_f",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(_w)), s -> "
                f"transform(sequence(1, {L}), l -> named_struct("
                f"'s', s, 'l', l, 'p', CASE WHEN s + l - 1 <= length(_w) "
                f"THEN substring(_w, s, l) END))))"
            )
        ).alias("_g"),
    ).select(
        "_w",
        "_f",
        F.col("_g.s").alias("_s"),
        F.col("_g.l").alias("_l"),
        F.col("_g.p").alias("_p"),
    )


def _with_logp(counts: DataFrame) -> DataFrame:
    """(piece, cnt) → (piece, cnt, lp) with lp = round(ln(cnt/total), 6).
    The total is a 1-row broadcast cross join; 6-dp rounding is the
    engine-portability contract (see module docstring)."""
    tot = counts.agg(F.sum("cnt").alias("_tot"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "piece",
        "cnt",
        F.round(F.log(F.col("cnt") / F.col("_tot")), 6).alias("lp"),
    )


def _dp_piece_counts(arr: DataFrame, L: int) -> DataFrame:
    """Forward DP + exact-equality backtrace + frequency-weighted
    chosen-piece counts over a ``(_w, _f, _sc)`` frame whose ``_sc`` is
    the flat per-word score array (see :func:`_slot_scores`)."""
    # forward pass: acc[j] holds best(j-1); best(i) probes best(i-l) at
    # acc[i-l+1] and the piece ending at i at _sc[(i-l)*L + l]
    dp = arr.withColumn(
        "_best",
        F.expr(
            f"aggregate(sequence(1, length(_w)), "
            f"array(cast(0.0 as double)), "
            f"(acc, i) -> concat(acc, array(array_max("
            f"transform(sequence(1, least({L}, i)), l -> "
            f"element_at(acc, i - l + 1) "
            f"+ element_at(_sc, (i - l) * {L} + l))))))"
        ),
    )
    # argmax path: chosen length at position i = LONGEST l whose
    # candidate equals best(i) exactly (fold re-used the same doubles)
    choice = dp.withColumn(
        "_ch",
        F.expr(
            f"transform(sequence(1, length(_w)), i -> array_max("
            f"filter(sequence(1, least({L}, i)), l -> "
            f"element_at(_best, i - l + 1) "
            f"+ element_at(_sc, (i - l) * {L} + l) "
            f"= element_at(_best, i + 1))))"
        ),
    )
    # backtrace fold: walk pos back by _ch[pos], emitting each piece;
    # length(_w) steps is an upper bound (each step consumes ≥ 1 char)
    seg = choice.withColumn(
        "_pieces",
        F.expr(
            "aggregate(sequence(1, length(_w)), "
            "named_struct('pos', length(_w), "
            "'ps', cast(array() as array<string>)), "
            "(st, x) -> IF(st.pos <= 0, st, named_struct("
            "'pos', st.pos - element_at(_ch, st.pos), "
            "'ps', concat(st.ps, array(substring(_w, "
            "st.pos - element_at(_ch, st.pos) + 1, "
            "element_at(_ch, st.pos)))))), "
            "st -> st.ps)"
        ),
    )
    return (
        seg.select("_f", F.explode("_pieces").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("_f").alias("cnt"))
    )


def _slot_scores(arr0: DataFrame, lprow: DataFrame) -> DataFrame:
    """``(_w, _f, _sc)``: each word's seed-slot array ``_si`` mapped
    through the 1-row slot-ordered log-prob array ``_lparr``, broadcast
    onto the words so the DP stage's generated code holds no
    per-iteration literal; slot −1 (out of vocabulary or range) scores
    the ``-1e9`` sentinel."""
    return arr0.crossJoin(F.broadcast(lprow)).select(
        "_w",
        "_f",
        F.transform(
            F.col("_si"),
            lambda i: F.when(i < 0, F.lit(-1e9).cast("double")).otherwise(
                F.element_at(F.col("_lparr"), i + F.lit(1))
            ),
        ).alias("_sc"),
    )


def _alt_scores(vocab_full: DataFrame, max_piece_len: int) -> DataFrame:
    """(piece, alt) for every MULTI-char piece: the best segmentation
    score of the piece's OWN string under the current vocabulary with
    the full-span cell masked out — i.e. the log-likelihood its
    occurrences fall back to if the piece is pruned. Single characters
    are always in the vocabulary, so ``alt`` is always finite. Same
    forward fold as the word lattice, run over the vocabulary-sized
    piece table (never the corpus) against a broadcast of itself."""
    L = max_piece_len
    multis = vocab_full.filter(F.length("piece") > 1).select(
        F.col("piece").alias("_w"), F.lit(1).cast("bigint").alias("_f")
    )
    grid = _substring_grid(multis, L)
    scored = grid.join(
        F.broadcast(vocab_full.select(F.col("piece").alias("_p"), "lp")),
        "_p",
        "left",
    ).withColumn("_idx", ((F.col("_s") - 1) * L + F.col("_l")).cast("int"))
    # mask the (s=1, l=len) cell at ARRAY BUILD time — any path through
    # the piece itself is forced to lose, so best[len] is the best
    # PROPER sub-segmentation
    arr = scored.groupBy("_w").agg(
        F.expr(
            f"transform(array_sort(collect_list(named_struct("
            f"'i', _idx, 'v', CASE WHEN _s = 1 AND _l = length(_w) "
            f"THEN {_NEG} ELSE coalesce(lp, {_NEG}) END))), x -> x.v)"
        ).alias("_sc")
    )
    return arr.select(
        F.col("_w").alias("piece"),
        F.expr(
            f"element_at(aggregate(sequence(1, length(_w)), "
            f"array(cast(0.0 as double)), "
            f"(acc, i) -> concat(acc, array(array_max("
            f"transform(sequence(1, least({L}, i)), l -> "
            f"element_at(acc, i - l + 1) "
            f"+ element_at(_sc, (i - l) * {L} + l)))))), length(_w) + 1)"
        ).alias("alt"),
    )


def unigram_lm_train(
    df: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 3,
    max_word_len: int = 12,
    seed_multi: int = 40,
    n_iter: int = 2,
    prune_to: int | None = None,
    prune_by: str = "count",
) -> DataFrame:
    """Train a unigram LM vocabulary; returns (piece, freq, logp) —
    one row per surviving-vocabulary piece with its Laplace-smoothed
    count after the final Viterbi E-step and the 6-dp-rounded
    log-probability.

    ``prune_to`` completes the SentencePiece loop: after each E-step,
    only the top ``prune_to`` multi-char pieces by (smoothed count desc,
    piece asc) survive into the next iteration — the shrinking-vocab
    schedule (Kudo ACL'18 §3.2 prunes by likelihood loss; count rank is
    its deterministic first-order proxy under a unigram model, where a
    piece's likelihood contribution is count·logp). Single characters
    are never pruned — they keep every word segmentable. ``None`` keeps
    the whole seed vocabulary (the fixed-vocab EM the oracle row pins).

    ``prune_by`` selects the pruning score (only meaningful with
    ``prune_to``). ``"count"`` is the deterministic first-order proxy
    above. ``"loss"`` is SentencePiece's likelihood-loss rank made
    exact under the hard-EM model: for each multi-char piece,
    ``loss = round(cnt · (logp(piece) − alt(piece)), 6)`` where ``alt``
    is the best segmentation of the piece's own string WITHOUT its
    full-span cell (:func:`_alt_scores`) — exactly how much corpus
    log-likelihood is lost if the piece's occurrences are re-segmented
    with the remaining vocabulary. Ties break (loss desc, piece asc).
    The two ranks genuinely differ: a frequent piece whose characters
    are themselves frequent (cheap to re-segment) can lose to a rarer
    piece built from rare characters (expensive to re-segment) — pinned
    by test. Cost: one extra |V|-sized self-join + fold per iteration,
    still corpus-free.

    Execution shape: the piece GEOMETRY of a word's flat score array is
    vocabulary-independent — which (start, len) cell holds which
    substring never changes, only the log-probabilities do. So the
    per-word arrays are built ONCE as SEED-SLOT INDEX arrays
    (``_si[idx]`` = the seed slot of the cell's piece, −1 if out of
    vocabulary/range) and cached, and each iteration's scores are a
    ``transform`` lookup into that iteration's log-prob array
    (:func:`_slot_scores`). Fixed-vocabulary iterations chain lazily
    into one action (``iterate.chain_cut``); with pruning each iteration
    is ONE word-table-sized job plus the 1-row log-prob job. The
    vocabulary-sized iteration state is pinned driver-side through
    ``iterate.pin`` (the k-means-centroids pattern): the M-step
    (Laplace +1) and the prune ranks are exact integer /
    collected-double arithmetic, every ``log`` runs in Spark, and the DP
    folds the same doubles in the same order, so the result matches the
    relational DuckDB twin bit-for-bit. The word grid is cached so the
    corpus is scanned once; both caches are released before returning.
    """
    if n_iter <= 0:
        raise ValueError("n_iter must be positive")
    if max_piece_len < 2:
        raise ValueError("max_piece_len must be at least 2")
    if prune_by not in ("count", "loss"):
        raise ValueError(f"prune_by must be count|loss, got {prune_by!r}")
    spark = df.sparkSession
    L = max_piece_len
    words = _word_table(df, text_col, max_word_len)
    grid = _substring_grid(words, L).cache()
    seed_counts = (
        grid.filter(F.col("_p").isNotNull())
        .groupBy(F.col("_p").alias("piece"))
        .agg(F.sum("_f").alias("cnt"))
    )
    singles = seed_counts.filter(F.length("piece") == 1)
    multis = (
        seed_counts.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(seed_multi)
    )
    seed_rows = singles.unionByName(multis).collect()
    slot_pieces = sorted(r.piece for r in seed_rows)
    slot_df = spark.createDataFrame(
        [(p, i) for i, p in enumerate(slot_pieces)], "_p string, _slot int"
    )
    arr0 = (
        grid.join(F.broadcast(slot_df), "_p", "left")
        .withColumn("_idx", ((F.col("_s") - 1) * L + F.col("_l")).cast("int"))
        .groupBy("_w", "_f")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(named_struct("
                "'i', _idx, 'v', coalesce(_slot, -1)))), x -> x.v)"
            ).alias("_si")
        )
        .cache()
    )
    counts = {r.piece: int(r.cnt) for r in seed_rows}
    alive = set(counts)
    if prune_to is None:
        # fixed-vocabulary EM: every intermediate is SINGLE-consumer
        # (state row -> E-step -> chosen counts -> next state), so the
        # whole n_iter chain runs LAZILY inside ONE action — the only
        # driver pin is the final |V|-bounded counts. Pruning needs a
        # rank between iterations (multi-consumer), so the prune modes
        # pin per iteration below.
        slots_lit = spark.createDataFrame(
            [(p, i) for i, p in enumerate(slot_pieces)],
            "piece string, _slot int",
        )
        counts_df = spark.createDataFrame(
            sorted(counts.items()), "piece string, cnt bigint"
        ).join(F.broadcast(slots_lit), "piece").select("_slot", "cnt")
        for it in range(1, n_iter + 1):
            # slot-ordered log-prob array in ONE aggregation (sum +
            # collect_list together keep counts_df single-consumer);
            # cnt is never NULL here — Laplace keeps every slot alive
            lprow = counts_df.agg(
                F.sum("cnt").alias("_tot"),
                F.expr(
                    "array_sort(collect_list(named_struct("
                    "'i', _slot, 'c', cnt)))"
                ).alias("_cs"),
            ).select(
                F.expr(
                    "transform(_cs, x -> round(ln(x.c / _tot), 6))"
                ).alias("_lparr")
            )
            chosen = _dp_piece_counts(_slot_scores(arr0, lprow), L)
            counts_df = slots_lit.join(chosen, "piece", "left").select(
                "_slot",
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1)).alias(
                    "cnt"
                ),
            )
            counts_df = chain_cut(counts_df, it, n_iter)
        rows, _ = pin(counts_df, len(slot_pieces), "unigram piece counts")
        counts = {slot_pieces[r._slot]: int(r.cnt) for r in rows}
    else:
        for _ in range(n_iter):
            # log-probs of the CURRENT vocabulary, computed IN-PLAN as a
            # 1-row slot-ordered array (log stays in Spark so the doubles
            # match the relational twin bit-for-bit) and broadcast into the
            # E-step — one job per iteration, and the DP stage's generated
            # code stays literal-free, so codegen caches across iterations
            cur = spark.createDataFrame(
                [(i, counts.get(p)) for i, p in enumerate(slot_pieces)],
                "_slot int, cnt bigint",
            )  # cnt NULL = pruned/out of the current vocabulary
            tot = cur.agg(F.sum("cnt").alias("_tot"))  # sum skips NULLs
            lprow = (
                cur.crossJoin(F.broadcast(tot))
                .select(
                    "_slot",
                    F.when(
                        F.col("cnt").isNull(), F.lit(-1e9).cast("double")
                    )
                    .otherwise(
                        F.round(F.log(F.col("cnt") / F.col("_tot")), 6)
                    )
                    .alias("_v"),
                )
                .agg(
                    F.expr(
                        "transform(array_sort(collect_list(named_struct("
                        "'i', _slot, 'v', _v))), x -> x.v)"
                    ).alias("_lparr")
                )
            )
            chosen_rows, _ = pin(
                _dp_piece_counts(_slot_scores(arr0, lprow), L),
                len(slot_pieces),
                "unigram chosen-piece counts",
            )
            chosen = {r.piece: int(r.cnt) for r in chosen_rows}
            # M-step: Laplace over the current piece set — exact integers
            counts = {p: chosen.get(p, 0) + 1 for p in alive}
            if prune_by == "loss":
                # alt scores are a vocabulary-sized Spark DP (log/DP doubles
                # stay engine-side); the top-k rank runs on the COLLECTED
                # 6-dp-rounded losses — same total order as the relational
                # TakeOrdered
                vf = spark.createDataFrame(
                    sorted((p, counts[p]) for p in alive),
                    "piece string, cnt bigint",
                )
                vocab_full = _with_logp(vf)
                losses = vocab_full.join(
                    _alt_scores(vocab_full, L), "piece"
                ).select(
                    "piece",
                    F.round(
                        F.col("cnt") * (F.col("lp") - F.col("alt")), 6
                    ).alias("loss"),
                )
                loss_rows, _ = pin(losses, len(alive), "unigram prune losses")
                ranked = sorted(loss_rows, key=lambda r: (-r.loss, r.piece))
                kept = {r.piece for r in ranked[:prune_to]}
            else:
                multis_l = sorted(
                    (p for p in alive if len(p) > 1),
                    key=lambda p: (-counts[p], p),
                )
                kept = set(multis_l[:prune_to])
            alive = {p for p in alive if len(p) == 1} | kept
            counts = {p: counts[p] for p in alive}
    grid.unpersist()
    arr0.unpersist()
    final = spark.createDataFrame(
        sorted(counts.items()), "piece string, cnt bigint"
    )
    return _with_logp(final).select(
        "piece",
        F.col("cnt").cast("bigint").alias("freq"),
        F.col("lp").alias("logp"),
    )


def unigram_segment(
    df: DataFrame,
    vocab_df: DataFrame,
    text_col: str = "text",
    out_col: str = "unigram_pieces",
    max_piece_len: int = 3,
    max_word_len: int = 12,
) -> DataFrame:
    """Apply a trained vocabulary: one output row per TOKEN of each
    input row (empty/NULL texts contribute no rows — the same convention
    as :func:`~orientdb_etl_spark.functions.bpe.bpe_segment`), each
    gaining ``out_col`` = its Viterbi piece sequence. Tokens longer than
    ``max_word_len`` pass through as single opaque pieces — the same cap
    the trainer applied. Temp columns are dropped; the corpus is scanned
    once and the per-word segmentation join is left to AQE."""
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
        .distinct()
    )
    short = words.filter(F.length("_w") <= max_word_len).withColumn(
        "_f", F.lit(1).cast("bigint")
    )
    grid = _substring_grid(short, max_piece_len)
    scored = grid.join(
        F.broadcast(vocab_df.select(F.col("piece").alias("_p"), "logp")),
        "_p",
        "left",
    ).withColumn(
        "_idx", ((F.col("_s") - 1) * max_piece_len + F.col("_l")).cast("int")
    )
    L = max_piece_len
    arr = scored.groupBy("_w").agg(
        F.expr(
            f"transform(array_sort(collect_list(named_struct("
            f"'i', _idx, 'v', coalesce(logp, {_NEG})))), x -> x.v)"
        ).alias("_sc")
    )
    seg = (
        arr.withColumn(
            "_best",
            F.expr(
                f"aggregate(sequence(1, length(_w)), "
                f"array(cast(0.0 as double)), "
                f"(acc, i) -> concat(acc, array(array_max("
                f"transform(sequence(1, least({L}, i)), l -> "
                f"element_at(acc, i - l + 1) "
                f"+ element_at(_sc, (i - l) * {L} + l))))))"
            ),
        )
        .withColumn(
            "_ch",
            F.expr(
                f"transform(sequence(1, length(_w)), i -> array_max("
                f"filter(sequence(1, least({L}, i)), l -> "
                f"element_at(_best, i - l + 1) "
                f"+ element_at(_sc, (i - l) * {L} + l) "
                f"= element_at(_best, i + 1))))"
            ),
        )
        .withColumn(
            "_pieces",
            F.expr(
                "reverse(aggregate(sequence(1, length(_w)), "
                "named_struct('pos', length(_w), "
                "'ps', cast(array() as array<string>)), "
                "(st, x) -> IF(st.pos <= 0, st, named_struct("
                "'pos', st.pos - element_at(_ch, st.pos), "
                "'ps', concat(st.ps, array(substring(_w, "
                "st.pos - element_at(_ch, st.pos) + 1, "
                "element_at(_ch, st.pos)))))), "
                "st -> st.ps))"
            ),
        )
        .select("_w", "_pieces")
    )
    toks = df.withColumn(
        "_toks",
        F.split(
            F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
        ),
    ).withColumn("_w", F.explode("_toks"))
    # the per-word segmentation table is distinct-vocabulary-sized —
    # usually broadcastable, but not by fiat at 100 TB (web-scale corpora
    # have 10⁸⁺ distinct tokens); let AQE pick the strategy from stats
    return (
        toks.filter(F.col("_w") != "")
        .join(seg, "_w", "left")
        .withColumn(
            out_col, F.coalesce(F.col("_pieces"), F.array(F.col("_w")))
        )
        .drop("_toks", "_pieces", "_w")
    )

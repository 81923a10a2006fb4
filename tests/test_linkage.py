from __future__ import annotations

import itertools

import pytest

from orientdb_etl_spark.functions.linkage import fuzzy_join


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _brute(ls, rs, d):
    return {
        (i, j)
        for (i, a), (j, b) in itertools.product(enumerate(ls), enumerate(rs))
        if _lev(a, b) <= d
    }


def _pairs(spark, ls, rs, d):
    left = spark.createDataFrame(list(enumerate(ls)), "lid int, a string")
    right = spark.createDataFrame(list(enumerate(rs)), "rid int, b string")
    out = fuzzy_join(left, right, "a", "b", "lid", "rid", max_dist=d)
    return {(r.lid, r.rid) for r in out.collect()}, out


WORDS = [
    "almond", "almonds", "amond", "almend", "salmon", "lemon", "melon",
    "mellon", "banana", "bananna", "banan", "cherry", "chery", "cherries",
    "kiwi", "kiwis", "wiki", "fig", "fog", "fg", "grape", "grapes",
    "grap", "pear", "bear", "peer", "", "a", "b", "ab",
]


def test_fuzzy_join_equals_brute_force_d1(spark):
    got, _ = _pairs(spark, WORDS, WORDS, 1)
    assert got == _brute(WORDS, WORDS, 1)


def test_fuzzy_join_equals_brute_force_d2(spark):
    got, _ = _pairs(spark, WORDS, WORDS, 2)
    assert got == _brute(WORDS, WORDS, 2)


def test_fuzzy_join_asymmetric_sides(spark):
    ls = ["color", "colour", "cloud"]
    rs = ["colour", "could", "colors", "flavor"]
    got, out = _pairs(spark, ls, rs, 2)
    assert got == _brute(ls, rs, 2)
    # the reported distance is the true levenshtein
    for r in out.collect():
        assert r.dist == _lev(r.a, r.b)


def test_fuzzy_join_d0_is_exact_join(spark):
    ls = ["x", "y", "zz"]
    rs = ["x", "zz", "zz"]
    got, _ = _pairs(spark, ls, rs, 0)
    assert got == {(0, 0), (2, 1), (2, 2)}


def test_fuzzy_join_nulls_never_match(spark):
    left = spark.createDataFrame([(1, None), (2, "ab")], "lid int, a string")
    right = spark.createDataFrame([(3, None), (4, "ab")], "rid int, b string")
    out = fuzzy_join(left, right, "a", "b", "lid", "rid", max_dist=2)
    assert {(r.lid, r.rid) for r in out.collect()} == {(2, 4)}


def test_fuzzy_join_no_cartesian_in_plan(spark):
    left = spark.createDataFrame([(1, "abcdef")], "lid int, a string")
    right = spark.createDataFrame([(2, "abcdxf")], "rid int, b string")
    plan = (
        fuzzy_join(left, right, "a", "b", "lid", "rid", max_dist=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


# ---------------------------------------------------------------------------
# set_similarity_join
# ---------------------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id bigint, text string")


def _brute_jaccard_pairs(rows, t):
    """Sorted (a, b, jaccard) rows of the cross join plus filter, one row
    per pair — a list, so a duplicated output row cannot hide."""
    toks = {
        i: set(txt.lower().split())
        for i, txt in rows
        if txt is not None and txt.strip()
    }
    out = []
    ids = sorted(toks)
    for ai, a in enumerate(ids):
        for b in ids[ai + 1 :]:
            inter = len(toks[a] & toks[b])
            union = len(toks[a] | toks[b])
            if union and inter / union >= t:
                out.append((a, b, round(inter / union, 6)))
    return out


# degenerate inputs both exact joins must answer like the brute force:
# (rows, thresholds)
_SET_JOIN_EDGE_CASES = [
    # three identical sets at t = 1: every pair exactly once (no distinct
    # runs on the one-token prefixes)
    ([(1, "x y z"), (2, "z y x"), (3, "y x z")], (1.0,)),
    ([], (0.5, 1.0)),
    ([(1, None), (2, "   "), (3, ""), (4, None)], (0.5, 1.0)),
    ([(1, "a"), (2, "a"), (3, "b"), (4, "A")], (0.5, 1.0)),
]


def test_set_similarity_join_equals_brute_force(spark):
    from orientdb_etl_spark.functions.linkage import set_similarity_join

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "quick brown fox jumps over the lazy dog the"),  # same set as 1
        (4, "something completely different here entirely"),
        (5, "the quick brown fox leaps over the lazy dog"),
        (6, None),
        (7, "   "),
    ]
    for case, ts in [(rows, (0.5, 0.8, 1.0)), *_SET_JOIN_EDGE_CASES]:
        for t in ts:
            got = sorted(
                (r.id_a, r.id_b, r.jaccard)
                for r in set_similarity_join(
                    _docs(spark, case), "id", "text", t
                ).collect()
            )
            assert got == _brute_jaccard_pairs(case, t), (case, t)


def test_set_similarity_join_duplicate_tokens_collapse(spark):
    from orientdb_etl_spark.functions.linkage import set_similarity_join

    # repeated tokens count once: "a a a b" vs "a b" is Jaccard 1.0
    rows = [(1, "a a a b"), (2, "b a")]
    got = set_similarity_join(_docs(spark, rows), "id", "text", 0.99).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(1, 2, 1.0)]


def test_set_similarity_join_size_filter_is_lossless(spark):
    from orientdb_etl_spark.functions.linkage import set_similarity_join

    # |x|=3, |y|=10 can never reach J >= 0.5; a 5-token subset of 10 can
    rows = [
        (1, "a b c"),
        (2, "a b c d e f g h i j"),
        (3, "a b c d e"),
        (4, "a b c d e x y z w v"),
    ]
    got = {
        (r.id_a, r.id_b)
        for r in set_similarity_join(_docs(spark, rows), "id", "text", 0.5).collect()
    }
    # (1,3)=3/5, (2,3)=5/10, (3,4)=5/10; (2,4)=5/15 and (1,2)=(1,4)=3/10 fail
    assert got == {(1, 3), (2, 3), (3, 4)}


def test_set_similarity_join_threshold_validation(spark):
    import pytest as _pytest

    from orientdb_etl_spark.functions.linkage import set_similarity_join

    with _pytest.raises(ValueError, match="threshold"):
        set_similarity_join(_docs(spark, [(1, "a")]), "id", "text", 0.0)


# ---------------------------------------------------------------------------
# golden_record
# ---------------------------------------------------------------------------


def _records(spark, rows):
    return spark.createDataFrame(
        rows, "entity bigint, ord bigint, name string, score double"
    )


def test_golden_record_rules(spark):
    from orientdb_etl_spark.functions.linkage import golden_record

    rows = [
        (1, 10, "alice", 5.0),
        (1, 20, None, 9.0),      # NULL must not win 'latest'
        (1, 15, "alicia", 2.0),
        (1, 12, "alice", 7.0),
        (2, 5, "bob", 1.0),
    ]
    out = {
        r.entity: r
        for r in golden_record(
            _records(spark, rows),
            "entity",
            {
                "last_name": ("latest", "name"),
                "first_name": ("earliest", "name"),
                "best_score": ("max", "score"),
                "common_name": ("mode", "name"),
            },
            order_col="ord",
        ).collect()
    }
    e1 = out[1]
    assert e1.n_records == 4
    assert e1.last_name == "alicia"   # ord 15 is the max NON-NULL name
    assert e1.first_name == "alice"
    assert e1.best_score == 9.0
    assert e1.common_name == "alice"  # 2 of 3 non-null names
    assert out[2].last_name == "bob" and out[2].n_records == 1


def test_golden_record_mode_tie_breaks_to_smallest(spark):
    from orientdb_etl_spark.functions.linkage import golden_record

    rows = [(1, 1, "zeta", 0.0), (1, 2, "alpha", 0.0)]
    r = golden_record(
        _records(spark, rows), "entity", {"common_name": ("mode", "name")}
    ).collect()[0]
    assert r.common_name == "alpha"


def test_golden_record_validation(spark):
    import pytest as _pytest

    from orientdb_etl_spark.functions.linkage import golden_record

    df = _records(spark, [(1, 1, "a", 1.0)])
    with _pytest.raises(ValueError, match="order_col"):
        golden_record(df, "entity", {"x": ("latest", "name")})
    with _pytest.raises(ValueError, match="rule"):
        golden_record(df, "entity", {"x": ("newest", "name")})


# ---------------------------------------------------------------------------
# sorted_neighborhood_pairs
# ---------------------------------------------------------------------------


def test_snm_equals_rank_window_brute_force(spark):
    from orientdb_etl_spark.functions.linkage import sorted_neighborhood_pairs

    rows = [(i, f"name{(i * 13) % 40:03d}") for i in range(60)]
    df = spark.createDataFrame(rows, "id bigint, k string")
    got = {
        (r.id_a, r.id_b, r.rank_dist)
        for r in sorted_neighborhood_pairs(df, "id", "k", window=4).collect()
    }
    ranked = sorted(rows, key=lambda t: (t[1], t[0]))
    want = set()
    for i, (ia, _) in enumerate(ranked):
        for j in range(i + 1, min(i + 4, len(ranked))):
            ib = ranked[j][0]
            want.add((min(ia, ib), max(ia, ib), j - i))
    assert got == want


def test_snm_no_duplicate_pairs_and_null_keys_dropped(spark):
    from orientdb_etl_spark.functions.linkage import sorted_neighborhood_pairs

    rows = [(1, "a"), (2, "a"), (3, "a"), (4, None)]
    df = spark.createDataFrame(rows, "id bigint, k string")
    got = [
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(df, "id", "k", window=3).collect()
    ]
    assert sorted(got) == [(1, 2), (1, 3), (2, 3)]
    assert len(got) == len(set(got))


def test_snm_validation(spark):
    import pytest as _pytest

    from orientdb_etl_spark.functions.linkage import sorted_neighborhood_pairs

    df = spark.createDataFrame([(1, "a")], "id bigint, k string")
    with _pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(df, "id", "k", window=1)


def _fs_records(spark):
    rows = [
        (1, "x", "s1"),
        (2, "x", "s1"),
        (3, "y", "s2"),
        (4, "y", "s1"),
        (5, None, "s2"),
    ]
    return spark.createDataFrame(rows, "id bigint, city string, seg string")


def test_fellegi_sunter_hand_weights(spark):
    import math

    from orientdb_etl_spark.functions.linkage import fellegi_sunter

    df = _fs_records(spark)
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 5)], "id_a bigint, id_b bigint"
    )
    out = {
        (r.id_a, r.id_b): r
        for r in fellegi_sunter(df, "id", pairs, ["city", "seg"], m=0.9).collect()
    }
    n = 5.0
    # city counts: x:2, y:2 -> s2=8; seg counts: s1:3, s2:2 -> s2=13
    wa_city = math.log(0.9 * n * n / 8.0)
    wd_city = math.log(0.1 / (1.0 - 8.0 / (n * n)))
    wa_seg = math.log(0.9 * n * n / 13.0)
    wd_seg = math.log(0.1 / (1.0 - 13.0 / (n * n)))
    r12 = out[(1, 2)]
    assert (r12.agree_city, r12.agree_seg) == (1, 1)
    assert r12.score == round(wa_city + wa_seg, 6)
    r13 = out[(1, 3)]
    assert (r13.agree_city, r13.agree_seg) == (0, 0)
    assert r13.score == round(wd_city + wd_seg, 6)
    # NULL city on id 5 counts as disagreement, seg agrees
    r35 = out[(3, 5)]
    assert (r35.agree_city, r35.agree_seg) == (0, 1)
    assert r35.score == round(wd_city + wa_seg, 6)


def test_fellegi_sunter_validation(spark):
    import pytest as _pytest

    from orientdb_etl_spark.functions.linkage import fellegi_sunter

    df = _fs_records(spark).withColumn("const", __import__(
        "pyspark.sql.functions", fromlist=["lit"]).lit("k"))
    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    with _pytest.raises(ValueError, match="degenerate"):
        fellegi_sunter(df, "id", pairs, ["const"])
    with _pytest.raises(ValueError, match="at least one field"):
        fellegi_sunter(df, "id", pairs, [])
    with _pytest.raises(ValueError, match="must be in"):
        fellegi_sunter(df, "id", pairs, {"city": 1.5})


def test_resolve_entities_end_to_end(spark):
    from orientdb_etl_spark.functions.linkage import resolve_entities

    rows = [
        (1, "aaa", "x", "s"),
        (2, "aab", "x", "s"),
        (3, "aac", "y", "t"),
        (4, "aad", "y", "t"),
        (5, "zzz", "q", "r"),
    ]
    df = spark.createDataFrame(rows, "id bigint, nm string, city string, seg string")
    out = {
        r.entity_id: r
        for r in resolve_entities(
            df,
            "id",
            "nm",
            ["city", "seg"],
            rules={"first_nm": ("earliest", "nm"), "top_city": ("mode", "city")},
            m=0.9,
            window=2,
            order_col="id",
        ).collect()
    }
    # window-2 neighbors agreeing on both fields link: {1,2}, {3,4}; 5 alone
    assert set(out) == {1, 3, 5}
    assert out[1].n_records == 2 and out[1].first_nm == "aaa"
    assert out[3].n_records == 2 and out[3].top_city == "y"
    assert out[5].n_records == 1 and out[5].first_nm == "zzz"


# ---------------------------------------------------------------- containment


def _brute_containment(lrows, rrows, t):
    """Sorted (left, right, containment) rows with |L ∩ R| / |L| >= t on
    distinct lowercased whitespace tokens — the predicate
    containment_join's prefix filter must reproduce exactly, once per
    pair."""
    lt = {
        i: set(txt.lower().split())
        for i, txt in lrows
        if txt is not None and txt.strip()
    }
    rt = {
        i: set(txt.lower().split())
        for i, txt in rrows
        if txt is not None and txt.strip()
    }
    out = []
    for li, ls in lt.items():
        for ri, rs in rt.items():
            inter = len(ls & rs)
            if ls and inter / len(ls) >= t:
                out.append((li, ri, round(inter / len(ls), 6)))
    return sorted(out)


def test_containment_join_equals_brute_force(spark):
    from orientdb_etl_spark.functions.linkage import containment_join

    lrows = [
        (1, "quick brown fox"),                      # excerpt of 10
        (2, "lazy dog naps"),                        # partial overlaps
        (3, "entirely novel words nowhere else"),
        (4, "the the the"),                          # collapses to one token
        (5, None),
        (6, "   "),
    ]
    rrows = [
        (10, "the quick brown fox jumps over the lazy dog"),
        (11, "a lazy dog naps in the quick shade"),
        (12, "unrelated corpus text entirely"),
    ]
    cases = [(lrows, rrows, (0.5, 0.75, 1.0))] + [
        (rows, rows, ts) for rows, ts in _SET_JOIN_EDGE_CASES
    ]
    for lc, rc, ts in cases:
        left = _docs(spark, lc)
        right = spark.createDataFrame(rc, "rid int, body string")
        for t in ts:
            got = sorted(
                (r.left_id, r.right_id, r.containment)
                for r in containment_join(
                    left, "id", "text", right, "rid", "body", threshold=t
                ).collect()
            )
            assert got == _brute_containment(lc, rc, t), (lc, t)


def _verify_width(out) -> int:
    """Task count of the stage that computes the verify's
    ``array_intersect``: collect, then walk the final adaptive plan
    (into query stages too) to the outermost node that evaluates it."""
    out.collect()
    stack = [out._jdf.queryExecution().executedPlan().executedPlan()]
    while stack:
        node = stack.pop()
        if "array_intersect" in node.simpleString(1000):
            return node.outputPartitioning().numPartitions()
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            stack.append(node.plan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    raise AssertionError("no array_intersect in the plan")


@pytest.mark.parametrize("join", ["set_similarity_join", "containment_join"])
def test_set_join_verify_keeps_its_width(spark, join):
    """The verify joins run at the ordered sets' explicit width: on a
    small input, AQE would otherwise coalesce the shuffles under them to
    one partition and run every array_intersect in one task. Broadcast
    is disabled to pin the shuffled regime of a corpus-sized candidate
    stream: on toy data AQE may broadcast the candidates themselves and
    stream the verify over the index frame's scan partitions."""
    from orientdb_etl_spark.functions import linkage

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert width >= 2
    rows = [
        (i, " ".join(f"t{i * k % 13}" for k in range(1, 6))) for i in range(40)
    ]
    df = _docs(spark, rows).repartition(3)
    out = (
        linkage.set_similarity_join(df, "id", "text", 0.5)
        if join == "set_similarity_join"
        else linkage.containment_join(df, "id", "text", df, "id", "text", 0.6)
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = _verify_width(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert got == width, out._jdf.queryExecution().executedPlan().toString()


def test_containment_join_is_asymmetric(spark):
    """A snippet fully inside a document scores 1.0 as the LEFT side but
    far below threshold with the frames swapped — the asymmetry that
    distinguishes containment from Jaccard."""
    from orientdb_etl_spark.functions.linkage import containment_join

    snip = [(1, "quick brown fox")]
    doc = [(10, "the quick brown fox jumps over the lazy dog sleeping")]
    fwd = containment_join(
        _docs(spark, snip), "id", "text",
        spark.createDataFrame(doc, "rid int, body string"), "rid", "body",
        threshold=0.9,
    ).collect()
    assert [(r.left_id, r.right_id, r.containment) for r in fwd] == [(1, 10, 1.0)]
    rev = containment_join(
        spark.createDataFrame(doc, "rid int, body string"), "rid", "body",
        _docs(spark, snip), "id", "text",
        threshold=0.9,
    ).collect()
    assert rev == []  # only 3/9 of the doc's tokens sit in the snippet


def test_containment_join_threshold_validation(spark):
    from orientdb_etl_spark.functions.linkage import containment_join
    import pytest

    df = _docs(spark, [(1, "a b")])
    for bad in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError):
            containment_join(df, "id", "text", df, "id", "text", threshold=bad)


def test_containment_join_no_cartesian_in_plan(spark):
    from orientdb_etl_spark.functions.linkage import containment_join

    left = _docs(spark, [(i, f"tok{i} common word") for i in range(20)])
    right = spark.createDataFrame(
        [(100 + i, f"common word tok{i} extra pad") for i in range(20)],
        "rid int, body string",
    )
    out = containment_join(left, "id", "text", right, "rid", "body", 0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --------------------------------------------------------------- jaro-winkler


def test_jaro_winkler_pinned_to_duckdb(spark):
    """The scalar automaton must match DuckDB's jaro_winkler_similarity
    (the gate oracle) bit-for-bit, including the 0.7 boost threshold,
    the 4-char prefix cap, and the empty/window-0 edges."""
    import duckdb

    from orientdb_etl_spark.functions.linkage import _jaro_winkler_py

    cases = [
        ("martha", "marhta"),      # classic: 0.9611...
        ("dixon", "dicksonx"),     # boost with prefix 2
        ("jellyfish", "smellyfish"),
        ("abcd", "abzz"),          # jaro 2/3 <= 0.7: NO boost
        ("ab", "ba"),              # window 0: no matches at all
        ("", "abc"),
        ("", ""),
        ("x", "xabcdefg"),         # jaro just over 0.7: boosted
        ("prefixxx", "prefixyy"),  # prefix cap at 4
        ("DWAYNE", "DUANE"),
    ]
    con = duckdb.connect()
    for a, b in cases:
        exp = con.execute(
            "select jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchall()[0][0]
        assert abs(_jaro_winkler_py(a, b) - exp) < 1e-12, (a, b)


def test_jaro_winkler_fuzz_vs_duckdb(spark):
    import random

    import duckdb

    from orientdb_etl_spark.functions.linkage import _jaro_winkler_py

    rng = random.Random(42)
    con = duckdb.connect()
    for _ in range(500):
        a = "".join(rng.choices("abcde", k=rng.randint(0, 12)))
        b = "".join(rng.choices("abcde", k=rng.randint(0, 12)))
        exp = con.execute(
            "select jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchall()[0][0]
        assert abs(_jaro_winkler_py(a, b) - exp) < 1e-12, (a, b)


def test_jaro_winkler_column_nulls_and_values(spark):
    from orientdb_etl_spark.functions.linkage import (
        _jaro_winkler_py,
        jaro_winkler,
    )

    df = spark.createDataFrame(
        [(1, "martha", "marhta"), (2, None, "x"), (3, "abc", None),
         (4, "same", "same")],
        "id int, a string, b string",
    )
    got = {
        r.id: r.jw
        for r in df.select("id", jaro_winkler("a", "b").alias("jw")).collect()
    }
    assert got[2] is None and got[3] is None
    assert abs(got[1] - _jaro_winkler_py("martha", "marhta")) < 1e-12
    assert got[4] == 1.0


# ---------------------------------------------------------------- soundex


def test_soundex_textbook_examples(spark):
    from orientdb_etl_spark.functions.linkage import soundex_sql

    import duckdb
    from pyspark.sql import functions as F

    cases = {
        "Robert": "R163",
        "Rupert": "R163",
        "Ashcraft": "A261",  # h-transparency: S,C collapse across the H
        "Ashcroft": "A261",
        "Tymczak": "T522",  # vowel separates the trailing K's code
        "Pfister": "P236",  # F collapses into initial P's run
        "Jackson": "J250",
        "smith": "S530",  # case-insensitive
        "SMYTH": "S530",
        "o'Brien": "O165",  # punctuation stripped
    }
    df = spark.createDataFrame([(n,) for n in cases], "n string")
    got = {
        r.n: r.c
        for r in df.select("n", F.expr(soundex_sql("n")).alias("c")).collect()
    }
    assert got == cases
    # the SAME expression string on DuckDB yields the SAME codes
    rel = duckdb.sql(
        "SELECT n, " + soundex_sql("n") + " AS c FROM (VALUES "
        + ", ".join("('{}')".format(n.replace("'", "''")) for n in cases)
        + ") t(n)"
    ).fetchall()
    assert dict(rel) == cases


def test_soundex_degenerate_inputs(spark):
    from orientdb_etl_spark.functions.linkage import soundex_sql

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("",), ("123",), ("A",), (None,)], "n string"
    )
    got = [
        r.c for r in df.select(F.expr(soundex_sql("n")).alias("c")).collect()
    ]
    # empty / all-stripped / NULL -> NULL; single letter pads to X000
    assert got == [None, None, "A000", None]


def test_phonetic_blocks_groups_colliding_names(spark):
    from orientdb_etl_spark.functions.linkage import phonetic_blocks

    rows = [
        (1, "Robert"),
        (2, "Rupert"),
        (3, "Smith"),
        (4, "Smyth"),
        (5, "Smith"),  # repeated surface form: counts in n_rows only
        (6, "Washington"),  # singleton code: filtered by min_names
    ]
    df = spark.createDataFrame(rows, "id int, name string")
    out = {
        r.code: (r.n_names, r.n_rows, list(r.names))
        for r in phonetic_blocks(df, "name", "id").collect()
    }
    assert out == {
        "R163": (2, 2, ["Robert", "Rupert"]),
        "S530": (2, 3, ["Smith", "Smyth"]),
    }

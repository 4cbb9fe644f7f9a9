"""Kernel unit + property tests (SURVEY.md §5.3/5.4)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from codingchallenge_spark.functions.similarity import (
    jaro_winkler_batch,
    levenshtein_batch,
    levenshtein_ratio_batch,
)

ALPHA = "abcdefgh_0123"
words = st.text(alphabet=ALPHA, min_size=0, max_size=20)


def py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def py_jaro_winkler(s1: str, s2: str, p: float = 0.1) -> float:
    """Slow reference with the module's documented (strcmp95) conventions."""
    if not s1 or not s2:
        return 0.0
    l1, l2 = len(s1), len(s2)
    w = max(max(l1, l2) // 2 - 1, 0)
    used = [False] * l2
    m1 = []
    for i, c in enumerate(s1):
        lo, hi = max(0, i - w), min(l2, i + w + 1)
        for j in range(lo, hi):
            if not used[j] and s2[j] == c:
                used[j] = True
                m1.append(c)
                break
    m = len(m1)
    if m == 0:
        return 0.0
    m2 = [s2[j] for j in range(l2) if used[j]]
    t = sum(a != b for a, b in zip(m1, m2)) // 2
    jaro = (m / l1 + m / l2 + (m - t) / m) / 3.0
    pl = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        pl += 1
    if jaro <= 0.7:  # strcmp95 boost threshold
        return jaro
    return jaro + pl * p * (1.0 - jaro)


@given(st.lists(st.tuples(words, words), min_size=1, max_size=40))
@settings(max_examples=60, deadline=None)
def test_levenshtein_vs_pure_python(pairs):
    s1 = [a for a, _ in pairs]
    s2 = [b for _, b in pairs]
    got = levenshtein_batch(s1, s2)
    want = np.array([py_levenshtein(a, b) for a, b in pairs])
    assert (got == want).all()


@given(st.lists(st.tuples(words, words), min_size=1, max_size=40))
@settings(max_examples=60, deadline=None)
def test_jaro_winkler_vs_pure_python(pairs):
    s1 = [a for a, _ in pairs]
    s2 = [b for _, b in pairs]
    got = jaro_winkler_batch(s1, s2)
    want = np.array([py_jaro_winkler(a, b) for a, b in pairs])
    assert np.allclose(got, want, atol=1e-12)


@given(st.lists(st.tuples(words, words), min_size=1, max_size=30))
@settings(max_examples=40, deadline=None)
def test_similarity_properties(pairs):
    s1 = [a for a, _ in pairs]
    s2 = [b for _, b in pairs]
    jw_ab = jaro_winkler_batch(s1, s2)
    jw_ba = jaro_winkler_batch(s2, s1)
    assert np.allclose(jw_ab, jw_ba, atol=1e-12)  # symmetry
    assert ((jw_ab >= 0) & (jw_ab <= 1)).all()  # range
    nonempty = [s for s in s1 if s]
    if nonempty:
        ident = jaro_winkler_batch(nonempty, nonempty)
        assert np.allclose(ident, 1.0)  # identity (empty → 0 by convention)
    lr = levenshtein_ratio_batch(s1, s2)
    assert ((lr >= 0) & (lr <= 1)).all()
    assert np.allclose(levenshtein_ratio_batch(s1, s1), 1.0)


def test_levenshtein_vs_spark_jvm(spark):
    """Cross-check vs Spark's builtin JVM levenshtein (SURVEY.md V2 note)."""
    data = [
        ("kitten", "sitting"), ("flaw", "lawn"), ("", "abc"), ("abc", ""),
        ("same", "same"), ("a", "b"), ("join_impl", "join_imlp"),
        ("hash_table", "hash_tabel"), ("x" * 60, "x" * 59 + "y"),
    ]
    df = spark.createDataFrame(data, ["a", "b"])
    from pyspark.sql import functions as F

    want = [r.d for r in df.select(F.levenshtein("a", "b").alias("d")).collect()]
    got = levenshtein_batch([a for a, _ in data], [b for _, b in data]).tolist()
    assert got == want


def test_udf_parity_and_single_crossing(spark):
    """Scalar UDFs equal kernels; both UDFs evaluate in ONE ArrowEvalPython."""
    from pyspark.sql import functions as F

    from codingchallenge_spark.functions.similarity import (
        jaro_winkler_udf,
        levenshtein_ratio_udf,
        token_jaccard,
        token_jaccard_udf,
    )

    pdf = pd.DataFrame(
        {
            "a": ["parser", "hash table", "", "utils_1"],
            "b": ["parsre", "hash tabel", "", "utils_12"],
            "t1": [["a", "b"], ["x"], [], ["p", "q"]],
            "t2": [["b", "c"], ["x"], [], ["p", "q"]],
        }
    )
    df = spark.createDataFrame(pdf)
    out = df.select(
        jaro_winkler_udf("a", "b").alias("jw"),
        levenshtein_ratio_udf("a", "b").alias("lev"),
        token_jaccard("t1", "t2").alias("jac_native"),
        token_jaccard_udf("t1", "t2").alias("jac_udf"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1  # one Python crossing
    rows = out.collect()
    assert np.allclose(
        [r.jw for r in rows], jaro_winkler_batch(pdf["a"], pdf["b"]), atol=1e-12
    )
    assert np.allclose(
        [r.lev for r in rows],
        levenshtein_ratio_batch(pdf["a"], pdf["b"]),
        atol=1e-12,
    )
    assert np.allclose(
        [r.jac_native for r in rows], [r.jac_udf for r in rows], atol=1e-12
    )


# ---------------------------------------------------------------------------
# Native Jaccard over hashed tokens: exact against set Jaccard
# ---------------------------------------------------------------------------

# Values near the int64 maximum keep the edge of the bigint range covered.
hash_sets = st.lists(
    st.one_of(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.integers(min_value=2**63 - 64, max_value=2**63 - 1),
    ),
    max_size=30,
).map(lambda xs: sorted(set(xs)))


def _set_jaccard(a, b):
    sa, sb = set(a or ()), set(b or ())
    u = len(sa | sb)
    return (len(sa & sb) / u) if u else 1.0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(hash_sets, hash_sets), min_size=1, max_size=20))
def test_hashed_jaccard_matches_set_jaccard(spark, pairs):
    """The native Jaccard the production scorer runs over token hashes
    (``token_jaccard``, one array_intersect count) equals set Jaccard on
    every pair, including empty sides and both-empty pairs (1.0)."""
    from codingchallenge_spark.functions.similarity import token_jaccard

    rows = [(i, a, b) for i, (a, b) in enumerate(pairs)]
    df = spark.createDataFrame(  # one slice: one task per example
        spark.sparkContext.parallelize(rows, 1),
        "i int, a array<bigint>, b array<bigint>",
    )
    got = dict(df.select("i", token_jaccard("a", "b").alias("j")).collect())
    for i, (a, b) in enumerate(pairs):
        assert got[i] == pytest.approx(_set_jaccard(a, b))


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_jaccard_null_array_is_empty_under_either_ansi_mode(spark, ansi):
    """A null array counts as the empty array in the native Jaccard and in
    the production scorer's size-ratio prune, whatever ANSI mode says
    ``size(null)`` is (null when on, −1 when off)."""
    from pyspark.sql import functions as F

    from codingchallenge_spark.functions.similarity import token_jaccard
    from codingchallenge_spark.operators.scoring import fused_score_from_attrs

    sides = [None, [], [1, 2], [2, 3]]
    rows = [
        (str(i), str(j), "same name", "same name", a, b)
        for i, a in enumerate(sides)
        for j, b in enumerate(sides)
    ]
    schema = (
        "rid1 string, rid2 string, name1 string, name2 string, "
        "th1 array<bigint>, th2 array<bigint>"
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        joined = spark.createDataFrame(rows, schema)
        got = {
            (r.rid1, r.rid2): r.j
            for r in joined.select(
                "rid1", "rid2", token_jaccard("th1", "th2").alias("j")
            ).collect()
        }
        assert got == {(r[0], r[1]): _set_jaccard(r[4], r[5]) for r in rows}
        # The scorer on null arrays emits exactly what it emits on the
        # same pairs with the nulls replaced by empty arrays.
        empties = joined.withColumns(
            {c: F.coalesce(c, F.array().cast("array<bigint>"))
             for c in ("th1", "th2")}
        )

        def scored(df):
            return sorted(map(tuple, fused_score_from_attrs(df).collect()))

        with_nulls = scored(joined)
        assert with_nulls == scored(empties)
        assert ("0", "0") in {r[:2] for r in with_nulls}  # null vs null: 1.0
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)

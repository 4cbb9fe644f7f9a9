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
# Hashed-Jaccard kernel: exact against set Jaccard
# ---------------------------------------------------------------------------

# Values near the int64 maximum land in the kernel's pad-sentinel range and
# exercise its exact recompute path.
hash_sets = st.lists(
    st.one_of(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.integers(min_value=2**63 - 64, max_value=2**63 - 1),
    ),
    max_size=30,
).map(lambda xs: sorted(set(xs)))


def _set_jaccard(a, b):
    sa, sb = set(a), set(b)
    u = len(sa | sb)
    return (len(sa & sb) / u) if u else 1.0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(hash_sets, hash_sets), min_size=1, max_size=20))
def test_hashed_jaccard_matches_set_jaccard(pairs):
    """The batched sort-and-count kernel equals set Jaccard on every pair,
    including both-empty pairs (1.0) and values that collide with pads."""
    from codingchallenge_spark.functions.similarity import hashed_jaccard_batch

    got = hashed_jaccard_batch(
        pd.Series([a for a, _ in pairs]), pd.Series([b for _, b in pairs])
    )
    for i, (a, b) in enumerate(pairs):
        assert got[i] == pytest.approx(_set_jaccard(a, b))

"""Blocking tests: token pass, hot-key cap, sorted-neighborhood, dedup."""

import itertools

from pyspark.sql import functions as F

from codingchallenge_spark.functions.normalize import (
    normalize_records,
    with_token_hashes,
)
from codingchallenge_spark.operators.blocking import (
    canonical_pairs,
    salted_join,
    sorted_neighborhood,
    token_blocking,
    union_candidates,
)


def _mk_records(spark, rows):
    return with_token_hashes(normalize_records(
        spark.createDataFrame(rows, ["repo", "path", "commit", "lang", "content"])
    ))


def test_token_blocking_links_shared_rare_tokens(spark):
    recs = _mk_records(
        spark,
        [
            ("r1", "a.py", "c1", "py", "alpha beta rare_xyz"),
            ("r2", "b.py", "c2", "py", "gamma delta rare_xyz"),
            ("r3", "c.py", "c3", "py", "epsilon zeta"),
        ],
    )
    pairs = token_blocking(recs, df_cap=10).collect()
    assert len(pairs) == 1
    assert all(p.rid1 < p.rid2 for p in pairs)


def test_token_blocking_hot_key_cap(spark):
    # 30 rows share token "hot"; cap 10 → token dropped → no pairs from it.
    rows = [
        ("r", f"f{i}.py", f"c{i}", "py", f"hot uniq_{i:03d}") for i in range(30)
    ]
    recs = _mk_records(spark, rows)
    assert token_blocking(recs, df_cap=10).count() == 0
    # raise the cap → full clique on "hot" appears
    assert token_blocking(recs, df_cap=50).count() == 30 * 29 // 2


def _global_sn(recs, window):
    order = [
        r.rid
        for r in recs.select("name_norm", "rid").orderBy("name_norm", "rid").collect()
    ]
    want = set()
    for i in range(len(order)):
        for j in range(i + 1, min(i + window, len(order))):
            want.add((min(order[i], order[j]), max(order[i], order[j])))
    return want


def test_sorted_neighborhood_equals_bruteforce(spark):
    # The bucketed+seam implementation must EQUAL global single-sort SN —
    # not merely contain it. The flagship's DuckDB oracle (plain lead() over
    # one ORDER BY) relies on this exactness.
    rows = [
        ("r", f"src/name_{i:02d}.py", f"c{i}", "py", f"tok_{i}")
        for i in range(40)
    ]
    recs = _mk_records(spark, rows)
    window = 4
    got = {
        (p.rid1, p.rid2)
        for p in sorted_neighborhood(recs, window=window, num_buckets=8).collect()
    }
    assert got == _global_sn(recs, window)


def test_sorted_neighborhood_exact_across_bucketings(spark):
    # Gapped partitions (n > 2·window), tiny partitions (num_buckets > rows),
    # and window larger than some partitions — all must stay exactly global.
    rows = [
        ("r", f"src/name_{i:03d}.py", f"c{i}", "py", f"tok_{i}")
        for i in range(57)
    ]
    recs = _mk_records(spark, rows)
    for window, buckets in [(4, 2), (4, 100), (7, 3), (2, 8), (9, 5)]:
        got = {
            (p.rid1, p.rid2)
            for p in sorted_neighborhood(
                recs, window=window, num_buckets=buckets
            ).collect()
        }
        assert got == _global_sn(recs, window), (window, buckets)


def test_union_candidates_dedup(spark):
    a = spark.createDataFrame([("x", "y", "k1")], ["rid1", "rid2", "block_key"])
    b = spark.createDataFrame(
        [("x", "y", "k2"), ("y", "z", "k3")], ["rid1", "rid2", "block_key"]
    )
    out = union_candidates(a, b).collect()
    assert len(out) == 2
    got = {(r.rid1, r.rid2): r.block_key for r in out}
    assert got[("x", "y")] == "k1"  # deterministic min block_key


def test_canonical_pairs(spark):
    df = spark.createDataFrame(
        [("b", "a"), ("a", "b"), ("c", "c")], ["rid1", "rid2"]
    )
    out = canonical_pairs(df).collect()
    assert [(r.rid1, r.rid2) for r in out] == [("a", "b")]


def test_salted_join_equals_plain_join(spark):
    recs = _mk_records(
        spark,
        [("r", f"f{i}.py", f"c{i}", "py", f"tok_{i} shared") for i in range(20)],
    )
    pairs = token_blocking(recs, df_cap=30)
    plain = pairs.join(
        recs.select(F.col("rid").alias("rid1"), F.col("name_norm").alias("n1")),
        "rid1",
    )
    salted = salted_join(
        pairs, recs.select("rid", F.col("name_norm").alias("n1")), "rid1", 4
    )
    a = {tuple(r) for r in plain.select("rid1", "rid2", "n1").collect()}
    b = {tuple(r) for r in salted.select("rid1", "rid2", "n1").collect()}
    assert a == b


def test_sorted_neighborhood_exact_in_polluted_session(spark, small_records):
    """Regression: SN exactness must not depend on session history.

    repartitionByRange samples its boundaries with a seed derived from the
    physical RDD id, so before the localCheckpoint pin in sorted_neighborhood
    the inner pass and the seam pass could observe DIFFERENT boundaries when
    the exchange was not reused — reproduced as 186/300k missing pairs on the
    bench fixture, appearing only after unrelated queries had run in the same
    session. This test recreates that context: run a token-blocking count
    (bumps RDD ids) over the same relation, then demand exact global SN on a
    5k-row corpus at several bucketings.
    """
    norm = with_token_hashes(normalize_records(small_records)).select(
        "rid", "name_norm", "th"
    )
    token_blocking(norm, df_cap=100).count()  # pollute: advance RDD ids
    want = _global_sn(norm, 4)
    for buckets in (8, 32):
        got = {
            (p.rid1, p.rid2)
            for p in sorted_neighborhood(
                norm, window=4, num_buckets=buckets
            ).collect()
        }
        assert got == want, f"buckets={buckets}: {len(want - got)} missing"

"""End-to-end golden test: planted clusters recovered, F1 gate, sha invariant.

SURVEY.md §5.2; gates from BASELINE.json:2 (F1 ≥ 0.99) and :15 (content
sha256 equality per row).
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from codingchallenge_spark.eval import pairwise_f1
from codingchallenge_spark.plans.matcher import MatcherConfig, resolve_entities


@pytest.fixture(scope="module")
def resolved(spark, small_fixture):
    records = spark.createDataFrame(small_fixture.records)
    out = resolve_entities(records, MatcherConfig()).cache()
    out.count()
    return out


def test_row_count_and_schema(resolved, small_fixture):
    assert resolved.count() == len(small_fixture.records)
    for c in ["repo", "path", "commit", "lang", "content", "content_sha", "entity_id"]:
        assert c in resolved.columns


def test_content_sha_invariant(resolved, small_fixture):
    # BASELINE.json:15 — sha256(content) equality per row, input vs output.
    inp = {
        hashlib.sha256(f"{r.repo}\x1f{r.path}\x1f{r.commit}".encode()).hexdigest():
        hashlib.sha256(r.content.encode()).hexdigest()
        for r in small_fixture.records.itertuples()
    }
    bad = 0
    for row in resolved.select("rid", "content", "content_sha").collect():
        want = inp[row.rid]
        if row.content_sha != want or (
            hashlib.sha256(row.content.encode()).hexdigest() != want
        ):
            bad += 1
    assert bad == 0


def test_f1_gate(spark, resolved, small_fixture):
    labels = resolved.select("rid", "entity_id")
    lp = spark.createDataFrame(small_fixture.labeled_pairs)
    m = pairwise_f1(labels, lp)
    print(f"\npairwise P={m.precision:.4f} R={m.recall:.4f} F1={m.f1:.4f} "
          f"(tp={m.tp} fp={m.fp} fn={m.fn})")
    assert m.f1 >= 0.99, (m.precision, m.recall, m.tp, m.fp, m.fn)


def test_clusters_match_planted_partition(resolved, small_fixture):
    # Emitted clustering == planted partition (as set partitions).
    got_rows = resolved.select("rid", "entity_id").collect()
    got: dict[str, list[str]] = {}
    for r in got_rows:
        got.setdefault(r.entity_id, []).append(r.rid)
    want: dict[str, list[str]] = {}
    for r in small_fixture.golden.itertuples():
        want.setdefault(r.entity_id, []).append(r.rid)
    got_parts = {frozenset(v) for v in got.values()}
    want_parts = {frozenset(v) for v in want.values()}
    # Allow a tiny disagreement margin (F1 gate is the binding criterion)
    diff = got_parts.symmetric_difference(want_parts)
    assert len(diff) <= max(2, 0.01 * len(want_parts)), (
        f"{len(diff)} differing clusters of {len(want_parts)}"
    )


def test_hot_key_fixture_completes_and_bounded(spark):
    from fixtures.gen_repo_files import generate
    from codingchallenge_spark.functions.normalize import (
        normalize_records,
        with_token_hashes,
    )
    from codingchallenge_spark.operators.blocking import token_blocking

    fx = generate(1000, hot_key=True)
    recs = with_token_hashes(normalize_records(spark.createDataFrame(fx.records)))
    n_hot_rows = 2000
    pairs = token_blocking(recs, df_cap=100)
    n = pairs.count()
    # Without the cap the hot token alone would emit ~2e6 pairs.
    assert n < n_hot_rows * 50

"""Incremental (delta) entity resolution — plans/incremental.py.

Contract under test (module docstring there):
- old entities never split (catalog star edges seed CC);
- entities merge only through new-record bridges;
- a from-scratch batch run over the union REFINES the incremental partition
  (batch old-old edges are always inside catalog entities), with equality on
  corpora free of insertion effects — this deterministic fixture is one;
- idempotent ingest (delta rids already in the catalog are ignored);
- output schema/invariants identical to the batch matcher's.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from codingchallenge_spark.plans.incremental import resolve_entities_incremental
from codingchallenge_spark.plans.matcher import MatcherConfig, resolve_entities


def _partition(df) -> set[frozenset[str]]:
    """entity table → set of rid-clusters."""
    rows = df.select("rid", "entity_id").collect()
    by_e: dict[str, set[str]] = {}
    for r in rows:
        by_e.setdefault(r.entity_id, set()).add(r.rid)
    return {frozenset(v) for v in by_e.values()}


@pytest.fixture(scope="module")
def split_corpus(spark, tiny_fixture):
    """Deterministic interleaved split of the 200-row fixture: every 7th row
    is the delta, so planted clusters straddle the boundary."""
    recs = tiny_fixture.records.reset_index(drop=True)
    is_new = recs.index % 7 == 0
    old = spark.createDataFrame(recs[~is_new])
    new = spark.createDataFrame(recs[is_new])
    return old, new


@pytest.fixture(scope="module")
def resolved_inc(spark, split_corpus):
    old, new = split_corpus
    catalog = resolve_entities(old, MatcherConfig()).cache()
    catalog.count()
    inc = resolve_entities_incremental(catalog, new, MatcherConfig()).cache()
    inc.count()
    return catalog, inc


@pytest.fixture(scope="module")
def resolved_batch(spark, tiny_fixture):
    out = resolve_entities(
        spark.createDataFrame(tiny_fixture.records), MatcherConfig()
    ).cache()
    out.count()
    return out


def test_schema_and_row_count(resolved_inc, split_corpus):
    catalog, inc = resolved_inc
    old, new = split_corpus
    assert inc.columns == catalog.columns  # same entity-table contract
    assert inc.count() == old.count() + new.count()
    assert inc.select("rid").distinct().count() == inc.count()


def test_old_entities_never_split(resolved_inc):
    catalog, inc = resolved_inc
    # Every catalog entity maps into exactly one incremental entity.
    joined = catalog.select("rid", F.col("entity_id").alias("old_e")).join(
        inc.select("rid", F.col("entity_id").alias("new_e")), "rid"
    )
    split = (
        joined.groupBy("old_e")
        .agg(F.countDistinct("new_e").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert split == 0


def test_batch_refines_incremental(resolved_inc, resolved_batch):
    # Always-true direction: batch old-old edges live inside catalog
    # entities, and new-touching edges are shared — so every batch cluster
    # is contained in one incremental cluster.
    _, inc = resolved_inc
    inc_part = _partition(inc)
    by_rid = {rid: c for c in inc_part for rid in c}
    for cluster in _partition(resolved_batch):
        owners = {frozenset(by_rid[r]) for r in cluster}
        assert len(owners) == 1, f"batch cluster split across incremental: {cluster}"


def test_incremental_equals_batch_on_this_corpus(resolved_inc, resolved_batch):
    # Equality holds when no insertion effect (token df-cap crossing / SN
    # window separation) removed an old-old candidate pair — true of this
    # fixture (deterministic, so this is a stable assertion, and a canary:
    # it fails if blocking semantics drift between the two paths).
    _, inc = resolved_inc
    assert _partition(inc) == _partition(resolved_batch)


def test_entity_id_is_min_rid(resolved_inc):
    _, inc = resolved_inc
    bad = (
        inc.groupBy("entity_id")
        .agg(F.min("rid").alias("m"))
        .filter(F.col("entity_id") != F.col("m"))
        .count()
    )
    assert bad == 0


def test_content_sha_invariant(resolved_inc):
    _, inc = resolved_inc
    bad = inc.filter(F.col("content_sha") != F.sha2("content", 256)).count()
    assert bad == 0


def test_idempotent_ingest(spark, resolved_inc, split_corpus):
    catalog, _ = resolved_inc
    old, _ = split_corpus
    # Re-ingesting rows the catalog already contains must be a no-op
    # (catalog row wins; no duplicate rids, partition unchanged).
    again = resolve_entities_incremental(
        catalog, old.limit(20), MatcherConfig()
    )
    assert again.count() == catalog.count()
    assert _partition(again) == _partition(catalog)


def test_new_bridge_merges_entities(spark):
    # a and b share 5 of 15 tokens each (jaccard 5/25 = 0.2 → score
    # 0.4 + 0.6·0.2 = 0.52 < 0.72: separate entities in the catalog); the
    # delta record n = a ∪ b overlaps each at jaccard 15/25 = 0.6 (score
    # 0.76 ≥ 0.72) and merges them. Identical basenames put all three in one
    # SN neighborhood and give jw = lev = 1.
    toks_a = [f"alpha{i}" for i in range(10)] + [f"shared{i}" for i in range(5)]
    toks_b = [f"beta{i}" for i in range(10)] + [f"shared{i}" for i in range(5)]
    rows = [
        ("repoA", "src/widget_handler.py", "c1", "py", " ".join(toks_a)),
        ("repoB", "src/widget_handler.py", "c2", "py", " ".join(toks_b)),
    ]
    cols = ["repo", "path", "commit", "lang", "content"]
    old = spark.createDataFrame(rows, cols)
    catalog = resolve_entities(old, MatcherConfig())
    assert catalog.select("entity_id").distinct().count() == 2

    new = spark.createDataFrame(
        [("repoC", "src/widget_handler.py", "c3", "py",
          " ".join(toks_a + toks_b))],
        cols,
    )
    inc = resolve_entities_incremental(catalog, new, MatcherConfig())
    assert inc.count() == 3
    assert inc.select("entity_id").distinct().count() == 1
    # min-rid label over the merged component
    want = inc.agg(F.min("rid")).collect()[0][0]
    assert inc.select("entity_id").distinct().collect()[0][0] == want


def test_delta_cli_mode(spark, split_corpus, tmp_path):
    """run_pipeline.py --delta: catalog entities + delta records in,
    combined entity table out, same partition as the library call."""
    import run_pipeline as cli

    old, new = split_corpus
    catalog = resolve_entities(old, MatcherConfig())
    cat_path = str(tmp_path / "entities")
    catalog.write.parquet(cat_path)
    new_path = str(tmp_path / "delta.parquet")
    new.write.parquet(new_path)

    rc = cli.main([
        "--input", cat_path,
        "--delta", new_path,
        "--run-dir", str(tmp_path / "run"),
    ])
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "run" / "entities_delta"))
    assert out.count() == old.count() + new.count()
    lib = resolve_entities_incremental(
        spark.read.parquet(cat_path), new, MatcherConfig()
    )
    assert _partition(out) == _partition(lib)


def test_refinement_property_across_random_splits(spark, tiny_fixture):
    """The refinement contract must hold for ANY split, not just the module
    fixture's: for three deterministic hash-based splits (different salts,
    different delta fractions), batch-over-union refines incremental and
    catalog entities never split."""
    import hashlib

    recs = tiny_fixture.records.reset_index(drop=True)

    def split(salt: str, mod: int):
        h = recs.apply(
            lambda r: int(
                hashlib.md5(
                    f"{salt}|{r.repo}|{r.path}|{r.commit}".encode()
                ).hexdigest()[:8],
                16,
            ) % mod == 0,
            axis=1,
        )
        return spark.createDataFrame(recs[~h]), spark.createDataFrame(recs[h])

    batch = resolve_entities(
        spark.createDataFrame(recs), MatcherConfig()
    ).cache()
    p_batch = _partition(batch)
    for salt, mod in [("s1", 5), ("s2", 10), ("s3", 3)]:
        old, new = split(salt, mod)
        catalog = resolve_entities(old, MatcherConfig())
        inc = resolve_entities_incremental(catalog, new, MatcherConfig()).cache()
        p_inc = _partition(inc)
        by_rid = {rid: c for c in p_inc for rid in c}
        for cluster in p_batch:
            assert len({frozenset(by_rid[r]) for r in cluster}) == 1, (salt, mod)
        # catalog never splits
        joined = catalog.select("rid", F.col("entity_id").alias("oe")).join(
            inc.select("rid", F.col("entity_id").alias("ne")), "rid"
        )
        assert (
            joined.groupBy("oe").agg(F.countDistinct("ne").alias("n"))
            .filter(F.col("n") > 1).count() == 0
        ), (salt, mod)


def test_malformed_catalog_entity_id_raises(spark, split_corpus):
    """A catalog whose entity_id is not sha256 hex must FAIL LOUDLY — a
    silent unhex→NULL would drop the star edge and split the old entity."""
    old, new = split_corpus
    catalog = resolve_entities(old, MatcherConfig()).withColumn(
        "entity_id",
        F.when(F.col("rid") != F.col("entity_id"), F.lit("not-hex")).otherwise(
            F.col("entity_id")
        ),
    )
    # The raise surfaces as a Spark job failure whose wrapper type varies by
    # Spark version — the load-bearing assertion is the guard's message.
    with pytest.raises(Exception) as ei:
        resolve_entities_incremental(catalog, new, MatcherConfig()).count()
    assert "not 64-char lowercase sha256 hex" in str(ei.value)

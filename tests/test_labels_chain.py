"""Labels overlay chain + delta-sized emit + chain compaction (VERDICT r04
#3 / ADVICE r04).

Contract under test:
- a chain of maintained ``emit="delta"`` runs writes ONLY delta-sized
  relations per run, yet ``current_entities`` over the final run_dir equals
  the full-emit chain's entity table exactly (the labels overlay resolves
  "latest element containing a rid wins");
- ``catalog_entities_path`` REFUSES a delta-emit run_dir's partial sink —
  both the manifest-recorded form and the EMIT_DELTA marker of older
  run_dirs that have no manifest;
- ``compact_state`` re-references short chains, folds long ones (or all of
  them when forced), and the compacted dir chains a further delta
  identically to the uncompacted one.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from codingchallenge_spark.plans import catalog_state as cstate
from codingchallenge_spark.plans.matcher import MatcherConfig
from codingchallenge_spark.plans.pipeline import (
    catalog_entities_path,
    current_entities,
    delta_entities_path,
    run_delta_pipeline,
    run_pipeline,
)

CFG = MatcherConfig()


def _labels(df) -> list[tuple[str, str]]:
    return sorted(
        (r.rid, r.entity_id) for r in df.select("rid", "entity_id").collect()
    )


@pytest.fixture(scope="module")
def corpus3(spark, tiny_fixture):
    recs = tiny_fixture.records.reset_index(drop=True)
    cat = spark.createDataFrame(recs[recs.index % 5 != 0])
    rest = recs[recs.index % 5 == 0].reset_index(drop=True)
    da = spark.createDataFrame(rest[rest.index % 3 == 0])
    db = spark.createDataFrame(rest[rest.index % 3 == 1])
    dc = spark.createDataFrame(rest[rest.index % 3 == 2])
    return cat, da, db, dc


@pytest.fixture(scope="module")
def catalog_run(spark, corpus3, tmp_path_factory):
    cat = corpus3[0]
    rd = str(tmp_path_factory.mktemp("lblcat") / "cat_run")
    run_pipeline(spark, cat, rd, CFG, input_id="lblcat")
    return rd


@pytest.fixture(scope="module")
def delta_chain(spark, corpus3, catalog_run, tmp_path_factory):
    """Two maintained emit='delta' runs chained via their state manifests."""
    _, da, db, _ = corpus3
    tmp = tmp_path_factory.mktemp("lblchain")
    d1 = str(tmp / "d1")
    run_delta_pipeline(
        spark, None, da, d1, CFG, input_id="d1",
        state=cstate.load_catalog_state(spark, catalog_run), emit="delta",
    )
    d2 = str(tmp / "d2")
    run_delta_pipeline(
        spark, None, db, d2, CFG, input_id="d2",
        state=cstate.load_catalog_state(spark, d1), emit="delta",
    )
    return d1, d2


@pytest.fixture(scope="module")
def full_chain_entities(spark, corpus3, catalog_run, tmp_path_factory):
    """The same two deltas chained with emit='full' — the reference table."""
    _, da, db, _ = corpus3
    tmp = tmp_path_factory.mktemp("lblfull")
    f1 = str(tmp / "f1")
    run_delta_pipeline(
        spark, None, da, f1, CFG, input_id="d1",
        state=cstate.load_catalog_state(spark, catalog_run),
    )
    f2 = str(tmp / "f2")
    r2 = run_delta_pipeline(
        spark, None, db, f2, CFG, input_id="d2",
        state=cstate.load_catalog_state(spark, f1),
    )
    return r2.entities


def test_delta_emit_chain_matches_full_chain(
    spark, delta_chain, full_chain_entities
):
    _, d2 = delta_chain
    got = current_entities(spark, d2)
    assert _labels(got) == _labels(full_chain_entities)
    # content rides the norm chain: full row count matches too
    assert got.count() == full_chain_entities.count()


def test_delta_emit_writes_are_delta_sized(spark, corpus3, delta_chain):
    """The per-run upsert sink holds ≤ |delta| + touched rows, NOT the
    corpus: its row count must be far below the catalog's."""
    cat = corpus3[0]
    _, d2 = delta_chain
    up = spark.read.parquet(delta_entities_path(d2))
    assert up.count() < cat.count()  # corpus-sized emit would exceed it
    # and the labels chain grew by exactly one element per run
    manifest = json.loads((Path(d2) / "state.json").read_text())
    assert len(manifest["labels_chain"]) == 3  # base + 2 deltas
    assert manifest["emit"] == "delta"


def test_catalog_entities_path_refuses_delta_emit(spark, delta_chain):
    d1, d2 = delta_chain
    for rd in (d1, d2):
        with pytest.raises(ValueError, match="emit='delta'"):
            catalog_entities_path(rd)


def test_emit_delta_marker_without_manifest(spark, delta_chain, tmp_path):
    """A delta-emit run_dir without a state.json — the shape older runs
    left when they skipped state maintenance — is refused through its
    EMIT_DELTA marker alone."""
    import shutil

    d1, _ = delta_chain
    rd = tmp_path / "nm"
    shutil.copytree(d1, rd)
    (rd / "state.json").unlink()
    # No manifest and no marker: nothing tells the upsert set apart.
    assert catalog_entities_path(str(rd)) == str(rd / "entities_delta")
    (rd / "EMIT_DELTA").write_text(
        "entities_delta is an upsert set (emit='delta'), not a catalog\n"
    )
    with pytest.raises(ValueError, match="emit='delta'"):
        catalog_entities_path(str(rd))


def test_compact_state_folds_chains_and_chains_on(
    spark, corpus3, delta_chain, full_chain_entities, tmp_path, monkeypatch
):
    """Two compactions of the same chain: one with the default arguments,
    where the small norm and postings tails are re-referenced, and one
    forced to fold every chain (a new sn bucket count and a fold ratio of
    0). Both are semantics-free."""
    dc = corpus3[3]
    _, d2 = delta_chain
    chained = json.loads((Path(d2) / "state.json").read_text())

    # a third delta chained from the UNcompacted run_dir: the reference
    rd4 = str(tmp_path / "d4")
    run_delta_pipeline(
        spark, None, dc, rd4, CFG, input_id="d3u",
        state=cstate.load_catalog_state(spark, d2), emit="delta",
    )
    want = _labels(current_entities(spark, rd4))

    cref = str(tmp_path / "compact_ref")
    cstate.compact_state(spark, d2, cref)
    manifest = json.loads((Path(cref) / "state.json").read_text())
    # the two deltas' norm rows are a third of the catalog's bytes: the
    # chain is re-referenced, nothing is copied
    assert manifest["norm_paths"] == chained["norm_paths"]
    assert manifest["tok_chain"] == chained["tok_chain"]
    assert not (Path(cref) / "normalize").exists()
    assert all(Path(p).exists() for p in cstate.manifest_paths(cref))

    cfold = str(tmp_path / "compact_fold")
    with monkeypatch.context() as m:
        m.setattr(cstate, "FOLD_RATIO", 0.0)
        cstate.compact_state(spark, d2, cfold, num_buckets=8)
    manifest = json.loads((Path(cfold) / "state.json").read_text())
    assert len(manifest["norm_paths"]) == 1
    assert len(manifest["sn_chain"]) == 1
    assert len(manifest["labels_chain"]) == 1
    assert len(manifest["tok_chain"]) == 1
    assert all(p.startswith(cfold) for p in cstate.manifest_paths(cfold))

    for i, cdir in enumerate((cref, cfold)):
        # the compacted view equals the chain it compacted
        assert _labels(
            current_entities(spark, cdir)
        ) == _labels(full_chain_entities)

        # a third delta chained from the COMPACTED dir equals the same delta
        # chained from the UNcompacted run_dir — compaction is semantics-free
        rd3 = str(tmp_path / f"d3_{i}")
        run_delta_pipeline(
            spark, None, dc, rd3, CFG, input_id="d3c",
            state=cstate.load_catalog_state(spark, cdir), emit="delta",
        )
        assert _labels(current_entities(spark, rd3)) == want


def test_compact_state_keeps_the_state_bucket_counts(spark, catalog_run, tmp_path):
    """Unset bucket counts mean the state's own, and a count equal to the
    state's forces no fold: compacting a state whose chains are single
    elements re-references every chain and keeps its sn buckets (not the
    session's default parallelism)."""
    from codingchallenge_spark.sources import checkpoint as ckpt

    buckets = ckpt.read_marker(catalog_run, "sn_bounds")["rows"]
    assert buckets != spark.sparkContext.defaultParallelism
    chained = json.loads((Path(catalog_run) / "state.json").read_text())
    for name, kwargs in (
        ("unset", {}),
        ("same", {"num_buckets": buckets, "tok_buckets": CFG.tok_buckets}),
    ):
        out = str(tmp_path / name)
        cstate.compact_state(spark, catalog_run, out, **kwargs)
        manifest = json.loads((Path(out) / "state.json").read_text())
        for chain in ("norm_paths", "sn_chain", "labels_chain", "tok_chain"):
            assert manifest[chain] == chained[chain], (name, chain)
        assert manifest["tok_buckets"] == CFG.tok_buckets
        assert ckpt.read_marker(out, "sn_bounds")["rows"] == buckets
        assert sorted(p.name for p in Path(out).iterdir()) == [
            "sn_bounds", "stage_metrics.jsonl", "state.json",
        ]


def test_parent_layout_states_take_a_delta_and_a_compaction(
    spark, corpus3, delta_chain, tmp_path, monkeypatch
):
    """State dirs in the layout an always-folding compaction wrote — a
    compact dir whose chains are single elements inside it, re-bucketed to
    the session's parallelism — and a delta run_dir chained from a batch
    catalog each take a delta, then a compaction, with identical labels."""
    dc = corpus3[3]
    _, d2 = delta_chain
    legacy = str(tmp_path / "legacy_compact")
    with monkeypatch.context() as m:
        m.setattr(cstate, "FOLD_RATIO", 0.0)
        cstate.compact_state(
            spark, d2, legacy,
            num_buckets=spark.sparkContext.defaultParallelism,
        )
    manifest = json.loads((Path(legacy) / "state.json").read_text())
    assert all(len(manifest[c]) == 1 for c in (
        "norm_paths", "sn_chain", "labels_chain", "tok_chain"
    ))

    got = []
    for i, src in enumerate((legacy, d2)):
        rd = str(tmp_path / f"delta_{i}")
        run_delta_pipeline(
            spark, None, dc, rd, CFG, input_id="legacy",
            state=cstate.load_catalog_state(spark, src), emit="delta",
        )
        out = str(tmp_path / f"compact_{i}")
        cstate.compact_state(spark, rd, out)
        assert all(Path(p).exists() for p in cstate.manifest_paths(out))
        got.append(_labels(current_entities(spark, rd)))
        got.append(_labels(current_entities(spark, out)))
    assert all(g == got[0] for g in got)


def test_compact_state_builds_and_rebuckets_tok_index(
    spark, catalog_run, tmp_path
):
    """Round 6 (ADVICE r05): compaction (a) gives a PRE-postings state a
    tok_index built from the folded norm, and (b) re-buckets an existing
    index when ``tok_buckets`` is passed — tbucket recomputed over the new
    modulus, postings multiset unchanged."""
    from pyspark.sql import functions as F

    # (a) strip the postings from a copy of the catalog manifest → legacy
    # pre-postings state; compaction must add a tok_index at the default
    # modulus, not silently leave the state index-less forever.
    legacy = str(tmp_path / "legacy")
    import shutil

    shutil.copytree(catalog_run, legacy)
    mpath = Path(legacy) / "state.json"
    manifest = json.loads(mpath.read_text())
    manifest.pop("tok_chain", None)
    manifest.pop("tok_buckets", None)
    mpath.write_text(json.dumps(manifest))
    assert cstate.load_catalog_state(spark, legacy).tok_postings is None

    c1 = str(tmp_path / "c1")
    cstate.compact_state(spark, legacy, c1, num_buckets=8)
    st1 = cstate.load_catalog_state(spark, c1)
    assert st1.tok_postings is not None
    assert st1.tok_buckets == MatcherConfig().tok_buckets
    # postings content = explode of the folded norm's tokens
    want = (
        st1.norm.select("rid", F.explode("tokens").alias("tok"))
        .groupBy()
        .count()
        .collect()[0][0]
    )
    assert st1.tok_postings.count() == want

    # (b) explicit re-bucket: modulus recorded and tbucket recomputed.
    c2 = str(tmp_path / "c2")
    cstate.compact_state(spark, c1, c2, num_buckets=8, tok_buckets=7)
    st2 = cstate.load_catalog_state(spark, c2)
    assert st2.tok_buckets == 7
    bad = st2.tok_postings.filter(
        F.col("tbucket") != F.pmod(F.xxhash64("tok"), F.lit(7)).cast("int")
    ).count()
    assert bad == 0
    # same (tok, rid) multiset as before the re-bucket
    a = sorted(
        (r.tok, bytes(r.rid).hex())
        for r in st1.tok_postings.select("tok", "rid").collect()
    )
    b = sorted(
        (r.tok, bytes(r.rid).hex())
        for r in st2.tok_postings.select("tok", "rid").collect()
    )
    assert a == b


def test_compact_state_refuses_bucket_counts_below_one(
    spark, catalog_run, tmp_path
):
    """An explicit 0 is a bad value, not "unset": compaction raises before
    it writes anything."""
    for kwargs in ({"tok_buckets": 0}, {"num_buckets": 0}):
        out = tmp_path / next(iter(kwargs))
        with pytest.raises(ValueError, match=">= 1"):
            cstate.compact_state(spark, catalog_run, str(out), **kwargs)
        assert not (out / "state.json").exists()


def test_legacy_th32_catalog_takes_a_delta(spark, corpus3, catalog_run, tmp_path):
    """A catalog whose persisted norm carries the retired ``th32`` column
    (written while the engine still had its int32-prefilter opt-in) loads,
    takes a delta and compacts: both norm reads drop the column, so the
    delta's norm still unions with the catalog's by name."""
    import shutil

    from pyspark.sql import functions as F

    legacy = str(tmp_path / "legacy32")
    shutil.copytree(catalog_run, legacy)
    mpath = Path(legacy) / "state.json"
    manifest = json.loads(mpath.read_text())
    norm32 = str(tmp_path / "norm32")
    spark.read.parquet(*manifest["norm_paths"]).withColumn(
        "th32",
        F.array_sort(
            F.array_distinct(
                F.transform(
                    "th", lambda x: x.bitwiseAND(F.lit(0x7FFFFFFF)).cast("int")
                )
            )
        ),
    ).write.parquet(norm32)
    assert "th32" in spark.read.parquet(norm32).columns
    manifest["norm_paths"] = [norm32]
    mpath.write_text(json.dumps(manifest))

    da = corpus3[1]
    ref = run_delta_pipeline(
        spark, None, da, str(tmp_path / "ref"), CFG, input_id="l32",
        state=cstate.load_catalog_state(spark, catalog_run),
    )
    got = run_delta_pipeline(
        spark, None, da, str(tmp_path / "d"), CFG, input_id="l32",
        state=cstate.load_catalog_state(spark, legacy),
    )
    assert "th32" not in got.entities.columns
    assert _labels(got.entities) == _labels(ref.entities)

    compacted = str(tmp_path / "c")
    cstate.compact_state(spark, legacy, compacted, num_buckets=8)
    assert "th32" not in cstate.load_catalog_state(spark, compacted).norm.columns


def test_parent_state_with_token_df_takes_a_delta(
    spark, corpus3, catalog_run, tmp_path
):
    """A state dir written while the state still kept a ``token_df``
    relation next to its manifest loads (the relation is ignored), takes a
    delta with the labels the unmodified catalog gives, and compacts into a
    dir without it."""
    import shutil

    from pyspark.sql import functions as F

    from codingchallenge_spark.sources import checkpoint as ckpt

    legacy = str(tmp_path / "legacy_df")
    shutil.copytree(catalog_run, legacy)
    norm = ckpt.load_stage(spark, legacy, "normalize")
    token_df = norm.select(F.explode("tokens").alias("tok")).groupBy("tok").agg(
        F.count("*").alias("df")
    )
    ckpt.write_stage(token_df, legacy, "token_df", "parent")
    assert (Path(legacy) / "token_df" / "_STAGE_DONE").exists()

    da = corpus3[1]
    got, want = (
        run_delta_pipeline(
            spark, None, da, str(tmp_path / name), CFG, input_id="df",
            state=cstate.load_catalog_state(spark, src), emit="delta",
        )
        for name, src in (("d", legacy), ("ref", catalog_run))
    )
    assert not (Path(got.run_dir) / "token_df").exists()
    assert _labels(current_entities(spark, got.run_dir)) == _labels(
        current_entities(spark, want.run_dir)
    )
    out = str(tmp_path / "c")
    cstate.compact_state(spark, legacy, out)
    assert not (Path(out) / "token_df").exists()


def test_parent_layout_norm_takes_deltas_and_a_compaction(
    spark, corpus3, catalog_run, delta_chain, tmp_path, monkeypatch
):
    """A catalog whose persisted normalize stage stores the id twice — the
    hex ``rid`` next to a binary ``rid_b``, as engines before the single
    binary id column wrote it — takes two deltas, so the second loads a
    chain that mixes both layouts, and a forced compaction. Loading the
    mixed chain starts no Spark job, and labels and entities equal those of
    the same deltas chained from the unmodified catalog."""
    import shutil

    from pyspark.sql import functions as F

    from codingchallenge_spark.sources import checkpoint as ckpt

    legacy = str(tmp_path / "legacy_rid")
    shutil.copytree(catalog_run, legacy)
    norm_tmp = str(tmp_path / "norm_tmp")
    ckpt.load_stage(spark, legacy, "normalize").withColumn(
        "rid_b", F.col("rid")
    ).withColumn("rid", F.lower(F.hex("rid"))).write.parquet(norm_tmp)
    fingerprint = ckpt.read_marker(legacy, "normalize")["fingerprint"]
    ckpt.write_stage(
        spark.read.parquet(norm_tmp), legacy, "normalize", fingerprint
    )
    recorded = ckpt.recorded_schema(ckpt.stage_path(legacy, "normalize"))
    assert recorded["rid"].dataType.simpleString() == "string"
    assert recorded["rid_b"].dataType.simpleString() == "binary"
    mpath = Path(legacy) / "state.json"
    manifest = json.loads(mpath.read_text())
    manifest["norm_paths"] = [ckpt.stage_path(legacy, "normalize")]
    mpath.write_text(json.dumps(manifest))

    _, da, db, _ = corpus3
    l1, l2 = str(tmp_path / "l1"), str(tmp_path / "l2")
    run_delta_pipeline(
        spark, None, da, l1, CFG, input_id="d1",
        state=cstate.load_catalog_state(spark, legacy), emit="delta",
    )
    sc = spark.sparkContext
    sc.setJobGroup("mixed-norm-load", "count the jobs a mixed load starts")
    try:
        state = cstate.load_catalog_state(spark, l1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("mixed-norm-load") == []
    assert dict(state.norm.dtypes)["rid"] == "binary"
    assert "rid_b" not in state.norm.columns
    run_delta_pipeline(
        spark, None, db, l2, CFG, input_id="d2", state=state, emit="delta",
    )
    compacted = str(tmp_path / "compact")
    with monkeypatch.context() as m:
        m.setattr(cstate, "FOLD_RATIO", 0.0)
        cstate.compact_state(spark, l2, compacted)

    def rows(df):
        return df.columns, sorted(map(tuple, df.collect()))

    def hex_labels(run_dir):
        labels = cstate.load_catalog_state(spark, run_dir).labels
        return sorted(
            (bytes(r.rid).hex(), bytes(r.entity_id).hex())
            for r in labels.collect()
        )

    _, d2 = delta_chain
    want = rows(current_entities(spark, d2))
    want_labels = hex_labels(d2)
    for run_dir in (l2, compacted):
        assert rows(current_entities(spark, run_dir)) == want, run_dir
        assert hex_labels(run_dir) == want_labels, run_dir


@pytest.fixture(scope="module")
def two_bucket_catalog(spark, corpus3, tmp_path_factory):
    rd = str(tmp_path_factory.mktemp("sn2") / "cat")
    run_pipeline(spark, corpus3[0], rd, MatcherConfig(sn_buckets=2), input_id="sn2")
    return rd


@pytest.mark.parametrize("touched", ["every", "half"])
def test_delta_touching_half_the_sn_buckets_becomes_the_sn_base(
    spark, corpus3, two_bucket_catalog, tmp_path, touched
):
    """A delta whose keys land in at least half of the sn buckets merges
    every bucket, so its element replaces the sn chain instead of extending
    it (and compaction has nothing to fold); the index it resolves to
    equals one built from scratch over the union. The delta is the catalog
    re-committed, so each key lands next to its catalog twin: all of it
    touches every bucket, its rows named below the second bucket's first
    key touch only the first."""
    from pyspark.sql import functions as F

    from codingchallenge_spark.functions.normalize import normalize_records
    from codingchallenge_spark.sources import checkpoint as ckpt

    cat = corpus3[0]
    if touched == "half":
        bounds = ckpt.load_stage(spark, two_bucket_catalog, "sn_bounds")
        second = bounds.orderBy(F.desc("start_pos")).first().min_name
        cat = normalize_records(cat).filter(F.col("name_norm") < second)
        cat = cat.select(*corpus3[0].columns)
    delta = cat.withColumn("commit", F.lit("recommitted"))
    if touched == "half":
        keys = normalize_records(delta).select(
            F.unhex("rid").alias("rid"), "name_norm"
        )
        landed = keys.select(cstate.bucket_column(cstate.collect_bounds(bounds)))
        assert landed.distinct().count() == 1
    d = str(tmp_path / "d")
    run_delta_pipeline(
        spark, None, delta, d, MatcherConfig(sn_buckets=2), input_id=touched,
        state=cstate.load_catalog_state(spark, two_bucket_catalog),
        emit="delta",
    )
    manifest = json.loads((Path(d) / "state.json").read_text())
    assert manifest["sn_chain"] == [
        {"path": str(Path(d) / "sn_index"), "buckets": None}
    ]

    def positions(index):
        return sorted(
            (r.pos, r.name_norm, bytes(r.rid))
            for r in index.select("pos", "name_norm", "rid").collect()
        )

    state = cstate.load_catalog_state(spark, d)
    stored, bounds = cstate.build_sn_index(state.norm, num_buckets=2)
    want = positions(cstate.resolve_sn_index(stored, bounds))
    assert len(want) == corpus3[0].count() + delta.count()
    assert positions(state.sn_index) == want

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
  identically to the uncompacted one;
- every older state layout is refused by ``load_catalog_state`` and
  migrated by one ``compact_state``, after which it takes a delta with the
  labels of the current layout.
"""

from __future__ import annotations

import base64
import json
import shutil
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
# The schema of the sn_bounds relation v2 state dirs kept next to the
# manifest.
V2_BOUNDS = "bucket int, n bigint, start_pos bigint, min_name string, min_rid binary"


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


@pytest.fixture(scope="module")
def delta_labels(spark, delta_chain):
    """Labels after delta A, and after deltas A and B, chained from the
    current-layout catalog: what a migrated state must give."""
    return [_labels(current_entities(spark, d)) for d in delta_chain]


def _save(run_dir: str, manifest: dict) -> None:
    (Path(run_dir) / "state.json").write_text(json.dumps(manifest))


def _as_v3(spark, src: str, dst: str) -> dict:
    """Copy the state dir ``src`` to ``dst`` in the v3 layout: each norm
    element written back with the ``tokens`` strings beside ``th``, the
    postings rebuilt as one element keyed on the token strings, and a
    version-3 manifest. Returns the manifest, for a test to edit and
    :func:`_save`."""
    from pyspark.sql import functions as F

    from codingchallenge_spark.functions.normalize import tokenize
    from codingchallenge_spark.sources import checkpoint as ckpt

    shutil.copytree(src, dst)
    manifest = json.loads((Path(dst) / "state.json").read_text())
    norm_paths = []
    for i, path in enumerate(manifest["norm_paths"]):
        norm = ckpt.read_parquet(spark, path).withColumn("tokens", tokenize())
        ckpt.write_stage(norm, dst, f"norm_v3_{i}", "v3")
        norm_paths.append(ckpt.stage_path(dst, f"norm_v3_{i}"))
    tok = ckpt.read_parquet(spark, *norm_paths).select(
        "rid", F.explode("tokens").alias("tok")
    )
    tbucket = F.pmod(F.xxhash64("tok"), F.lit(manifest["tok_buckets"]))
    ckpt.write_stage(
        tok.select(tbucket.cast("int").alias("tbucket"), "tok", "rid"),
        dst, "tok_v3", "v3",
    )
    manifest.update(
        version=3, norm_paths=norm_paths,
        tok_chain=[ckpt.stage_path(dst, "tok_v3")],
    )
    _save(dst, manifest)
    return manifest


def _as_v2(spark, src: str, dst: str) -> dict:
    """Copy the state dir ``src`` to ``dst`` in the v2 layout: the v3 one
    (:func:`_as_v3`) with the bounds as an ``sn_bounds`` parquet relation
    next to a version-2 manifest. Returns the manifest, for a test to edit
    and :func:`_save`."""
    from codingchallenge_spark.sources import checkpoint as ckpt

    manifest = _as_v3(spark, src, dst)
    rows = [
        (b["bucket"], b["n"], b["start_pos"], b["min_name"],
         base64.b64decode(b["min_rid"]))
        for b in manifest.pop("sn_bounds")
    ]
    ckpt.write_stage(spark.createDataFrame(rows, V2_BOUNDS), dst, "sn_bounds", "v2")
    manifest["version"] = 2
    _save(dst, manifest)
    return manifest


def _migrate_then_delta(spark, legacy, delta, want, tmp_path, **kwargs) -> str:
    """The three steps every old layout takes: ``load_catalog_state``
    refuses it, naming ``compact_state``; one ``compact_state`` migrates it;
    the migrated dir takes ``delta`` with the labels ``want``. Returns the
    migrated dir."""
    with pytest.raises(ValueError, match=r"compact_state\(spark, run_dir, out_dir\)"):
        cstate.load_catalog_state(spark, legacy)
    migrated = str(tmp_path / "migrated")
    cstate.compact_state(spark, legacy, migrated, **kwargs)
    assert cstate.read_manifest(migrated)["version"] == cstate.STATE_VERSION
    rd = str(tmp_path / "after_migration")
    run_delta_pipeline(
        spark, None, delta, rd, CFG, input_id="migrated",
        state=cstate.load_catalog_state(spark, migrated), emit="delta",
    )
    assert _labels(current_entities(spark, rd)) == want
    return migrated


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
    chained = cstate.read_manifest(catalog_run)
    buckets = len(chained["sn_bounds"])
    assert buckets != spark.sparkContext.defaultParallelism
    for name, kwargs in (
        ("unset", {}),
        ("same", {"num_buckets": buckets, "tok_buckets": CFG.tok_buckets}),
    ):
        out = str(tmp_path / name)
        cstate.compact_state(spark, catalog_run, out, **kwargs)
        manifest = json.loads((Path(out) / "state.json").read_text())
        for key in (
            "norm_paths", "sn_chain", "sn_bounds", "labels_chain", "tok_chain"
        ):
            assert manifest[key] == chained[key], (name, key)
        assert manifest["tok_buckets"] == CFG.tok_buckets
        assert sorted(p.name for p in Path(out).iterdir()) == ["state.json"]


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
    spark, corpus3, catalog_run, delta_labels, tmp_path
):
    """Compaction (a) migrates a PRE-postings v2 state, giving it a
    tok_index built from the folded norm, and (b) re-buckets an existing
    index when ``tok_buckets`` is passed — tbucket recomputed over the new
    modulus, postings multiset unchanged."""
    from pyspark.sql import functions as F

    # (a) a v2 copy of the catalog without its postings chain: the
    # migration adds a tok_index at the default modulus.
    legacy = str(tmp_path / "legacy")
    manifest = _as_v2(spark, catalog_run, legacy)
    del manifest["tok_chain"], manifest["tok_buckets"]
    _save(legacy, manifest)
    c1 = _migrate_then_delta(
        spark, legacy, corpus3[1], delta_labels[0], tmp_path, num_buckets=8
    )
    st1 = cstate.load_catalog_state(spark, c1)
    assert st1.tok_chain == [str(Path(c1) / "tok_index")]
    assert st1.tok_buckets == MatcherConfig().tok_buckets
    # postings content = explode of the folded norm's token hashes
    want = (
        st1.norm.select("rid", F.explode("th").alias("tok"))
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
        F.col("tbucket") != F.pmod("tok", F.lit(7)).cast("int")
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


def test_legacy_th32_catalog_takes_a_delta(
    spark, corpus3, catalog_run, delta_labels, tmp_path
):
    """A v2 catalog whose persisted norm carries the retired ``th32`` column
    (written while the engine still had its int32-prefilter opt-in): the
    migration folds the norm chain into one element without the column."""
    from pyspark.sql import functions as F

    legacy = str(tmp_path / "legacy32")
    manifest = _as_v2(spark, catalog_run, legacy)
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
    _save(legacy, manifest)

    migrated = _migrate_then_delta(
        spark, legacy, corpus3[1], delta_labels[0], tmp_path
    )
    assert cstate.read_manifest(migrated)["norm_paths"] == [
        str(Path(migrated) / "normalize")
    ]
    assert "th32" not in cstate.load_catalog_state(spark, migrated).norm.columns


def test_parent_state_with_token_df_takes_a_delta(
    spark, corpus3, catalog_run, delta_labels, tmp_path
):
    """A v2 state dir that still keeps a ``token_df`` relation next to its
    manifest: the migration ignores it (the postings answer every document
    frequency). It writes only the folded norm (without ``tokens``) and the
    postings keyed on the hash; the short sn and labels chains are
    re-referenced, and the bounds move into the manifest."""
    from pyspark.sql import functions as F

    from codingchallenge_spark.sources import checkpoint as ckpt

    legacy = str(tmp_path / "legacy_df")
    manifest = _as_v2(spark, catalog_run, legacy)
    norm = ckpt.read_parquet(spark, *manifest["norm_paths"])
    token_df = norm.select(F.explode("tokens").alias("tok")).groupBy("tok").agg(
        F.count("*").alias("df")
    )
    ckpt.write_stage(token_df, legacy, "token_df", "parent")
    assert (Path(legacy) / "token_df" / "_STAGE_DONE").exists()

    migrated = _migrate_then_delta(
        spark, legacy, corpus3[1], delta_labels[0], tmp_path
    )
    assert sorted(p.name for p in Path(migrated).iterdir()) == [
        "normalize", "stage_metrics.jsonl", "state.json", "tok_index"
    ]
    migrated_manifest = cstate.read_manifest(migrated)
    for chain in ("sn_chain", "labels_chain"):
        assert migrated_manifest[chain] == manifest[chain], chain


def test_parent_layout_norm_takes_deltas_and_a_compaction(
    spark, corpus3, catalog_run, delta_chain, delta_labels, tmp_path
):
    """A v2 delta run_dir whose catalog norm element stores the id twice —
    the hex ``rid`` next to a binary ``rid_b``, as engines before the single
    binary id column wrote it — while its delta element is in the current
    layout. The migration reads the two layouts in groups and folds the
    chain into the current one; the entities are those of the unmodified
    chain, and the next delta gives its labels."""
    from pyspark.sql import functions as F

    from codingchallenge_spark.sources import checkpoint as ckpt

    d1, _ = delta_chain
    legacy = str(tmp_path / "legacy_rid")
    manifest = _as_v2(spark, d1, legacy)
    norm_tmp = str(tmp_path / "norm_tmp")
    ckpt.load_stage(spark, catalog_run, "normalize").withColumn(
        "rid_b", F.col("rid")
    ).withColumn("rid", F.lower(F.hex("rid"))).write.parquet(norm_tmp)
    ckpt.write_stage(
        spark.read.parquet(norm_tmp), str(tmp_path), "norm_rid", "parent"
    )
    norm_rid = ckpt.stage_path(str(tmp_path), "norm_rid")
    recorded = ckpt.recorded_schema(norm_rid)
    assert recorded["rid"].dataType.simpleString() == "string"
    assert recorded["rid_b"].dataType.simpleString() == "binary"
    assert len(manifest["norm_paths"]) == 2
    manifest["norm_paths"][0] = norm_rid
    _save(legacy, manifest)

    migrated = _migrate_then_delta(
        spark, legacy, corpus3[2], delta_labels[1], tmp_path
    )
    assert cstate.read_manifest(migrated)["norm_paths"] == [
        str(Path(migrated) / "normalize")
    ]
    state = cstate.load_catalog_state(spark, migrated)
    assert dict(state.norm.dtypes)["rid"] == "binary"
    assert "rid_b" not in state.norm.columns

    def rows(df):
        return df.columns, sorted(map(tuple, df.collect()))

    assert rows(current_entities(spark, migrated)) == rows(
        current_entities(spark, d1)
    )


def test_v3_state_migrates_and_takes_a_delta(
    spark, corpus3, delta_chain, delta_labels, tmp_path
):
    """A v3 delta run_dir — norm elements storing ``tokens`` beside ``th``,
    postings keyed on the token strings — is refused by
    ``load_catalog_state``, migrated by one ``compact_state`` (the norm
    chain folds without ``tokens``, the postings are rebuilt keyed on the
    hash) and then takes a delta with the labels of the current layout."""
    d1, _ = delta_chain
    legacy = str(tmp_path / "legacy_v3")
    manifest = _as_v3(spark, d1, legacy)
    assert len(manifest["norm_paths"]) == 2

    migrated = _migrate_then_delta(
        spark, legacy, corpus3[2], delta_labels[1], tmp_path
    )
    state = cstate.load_catalog_state(spark, migrated)
    assert "tokens" not in state.norm.columns
    assert dict(state.tok_postings.dtypes)["tok"] == "bigint"
    assert state.tok_chain == [str(Path(migrated) / "tok_index")]


def test_v2_bounds_move_into_the_manifest(spark, tmp_path):
    """The migration carries a v2 state's ``sn_bounds`` rows into the
    manifest unchanged — bucket minima with quotes, a backslash and
    non-ASCII characters, and their ``min_rid`` bytes — and the migrated
    state loads them back as the same rows."""
    import hashlib

    from pyspark.sql import functions as F

    from codingchallenge_spark.sources import checkpoint as ckpt

    names = ['a"b', "a'b", "a\\b", "ab", "é", "éa", "日本", "😀x"]
    norm = spark.createDataFrame(
        [(hashlib.sha256(n.encode()).digest(), n, [i]) for i, n in enumerate(names)],
        "rid binary, name_norm string, th array<bigint>",
    )
    d = str(tmp_path / "v2")
    for stage, df in (
        ("normalize", norm),
        ("sn_index", cstate.build_sn_index(norm, num_buckets=4)),
        ("labels", norm.select("rid", F.col("rid").alias("entity_id"))),
        ("tok_index", cstate.build_tok_postings(norm, 4)),
    ):
        ckpt.write_stage(df, d, stage, "v2")
    bounds = cstate.merged_bounds([], ckpt.load_stage(spark, d, "sn_index"))
    ckpt.write_stage(spark.createDataFrame(bounds, V2_BOUNDS), d, "sn_bounds", "v2")
    _save(d, {
        "version": 2,
        "norm_paths": [ckpt.stage_path(d, "normalize")],
        "sn_chain": [{"path": ckpt.stage_path(d, "sn_index"), "buckets": None}],
        "labels_chain": [ckpt.stage_path(d, "labels")],
        "tok_chain": [ckpt.stage_path(d, "tok_index")],
        "tok_buckets": 4,
        "emit": "full",
    })
    want = sorted(
        (r.bucket, r.n, r.start_pos, r.min_name, bytes(r.min_rid))
        for r in ckpt.load_stage(spark, d, "sn_bounds").collect()
    )
    mins = [b[3] for b in want]
    assert any('"' in m for m in mins) and any(not m.isascii() for m in mins), mins

    with pytest.raises(ValueError, match="compact_state"):
        cstate.load_catalog_state(spark, d)
    out = str(tmp_path / "v3")
    cstate.compact_state(spark, d, out)
    got = [
        (b["bucket"], b["n"], b["start_pos"], b["min_name"],
         base64.b64decode(b["min_rid"]))
        for b in cstate.read_manifest(out)["sn_bounds"]
    ]
    assert sorted(got, key=lambda b: b[2]) == got  # position order
    assert sorted(got) == want
    loaded = cstate.load_catalog_state(spark, out).sn_bounds
    assert sorted(tuple(b) for b in loaded) == want


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

    cat = corpus3[0]
    if touched == "half":
        bounds = cstate.load_catalog_state(spark, two_bucket_catalog).sn_bounds
        second = bounds[-1].min_name
        cat = normalize_records(cat).filter(F.col("name_norm") < second)
        cat = cat.select(*corpus3[0].columns)
    delta = cat.withColumn("commit", F.lit("recommitted"))
    if touched == "half":
        keys = normalize_records(delta).select(
            F.unhex("rid").alias("rid"), "name_norm"
        )
        landed = keys.select(cstate.bucket_column(bounds))
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
    stored = cstate.build_sn_index(state.norm, num_buckets=2)
    want = positions(
        cstate.resolve_sn_index(stored, cstate.merged_bounds([], stored))
    )
    assert len(want) == corpus3[0].count() + delta.count()
    assert positions(cstate.resolve_sn_index(state.sn_stored, state.sn_bounds)) == want

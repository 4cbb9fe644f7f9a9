"""Structured Streaming ingest adapter (codingchallenge_spark.streaming.ingest,
SURVEY.md §2.9 G9).

Contract under test — the adapter adds NO semantics of its own, so these
tests pin the glue, not the linkage (which test_incremental*.py own):

- a stream of landed files, one micro-batch each, produces EXACTLY the
  entity table of manually chaining run_delta_pipeline over the same splits;
- restarting a query with the same out_dir processes only newly landed
  files (streaming checkpoint) and carries the catalog chain forward
  (CURRENT pointer) without re-running completed batches;
- foreachBatch replay windows are safe: a replay of a completed batch is a
  pointer-detected no-op, a replay after a crash between run completion and
  pointer advance resumes with every stage skipped, and empty batches
  neither burn a run_dir nor advance the pointer.
"""

from __future__ import annotations

import os
import time
from pathlib import Path

import pandas as pd
import pytest

from codingchallenge_spark.plans import catalog_state as cstate
from codingchallenge_spark.plans.matcher import MatcherConfig
from codingchallenge_spark.plans.pipeline import (
    catalog_entities_path,
    current_entities,
    run_delta_pipeline,
    run_pipeline,
)
from codingchallenge_spark.sources.records import RECORDS_SCHEMA
from codingchallenge_spark.streaming.ingest import (
    ingest_batch,
    read_pointer,
    start_stream_ingest,
)

CFG = MatcherConfig()
AWAIT_SECS = 600
# Spark jobs of one ingest_batch(compact_every=1) on the tiny fixture,
# measured (test_ingest_job_count_guard).
JOBS_MEASURED = 45


@pytest.fixture(scope="module")
def corpus3(tiny_fixture):
    """catalog / delta-A / delta-B split of the tiny fixture (pandas)."""
    recs = tiny_fixture.records.reset_index(drop=True)
    cat = recs[recs.index % 5 != 0]
    deltas = recs[recs.index % 5 == 0]
    da = deltas[deltas.index % 2 == 0]
    db = deltas[deltas.index % 2 == 1]
    return cat, da, db


@pytest.fixture(scope="module")
def catalog_run(spark, corpus3, tmp_path_factory):
    """A completed batch run_dir — carries persisted catalog state."""
    cat, _, _ = corpus3
    rd = str(tmp_path_factory.mktemp("streamcat") / "cat_run")
    run_pipeline(
        spark, spark.createDataFrame(cat), rd, CFG, input_id="streamcat"
    )
    assert cstate.has_state(rd)
    return rd


def _land(src: Path, name: str, pdf, mtime: float) -> Path:
    """Write one delta as a single parquet file with a pinned mtime (the
    file source orders files by modification time)."""
    src.mkdir(parents=True, exist_ok=True)
    p = src / name
    pdf.to_parquet(p, index=False)
    os.utime(p, (mtime, mtime))
    return p


def _labels(df) -> list[tuple[str, str]]:
    return sorted(
        (r.rid, r.entity_id) for r in df.select("rid", "entity_id").collect()
    )


def _stage_markers(run_dir: str) -> dict[str, float]:
    return {
        str(m): m.stat().st_mtime
        for m in Path(run_dir).glob("*/_STAGE_DONE")
    }


def test_stream_matches_manual_chain(spark, corpus3, catalog_run, tmp_path):
    """availableNow + maxFilesPerTrigger=1 over two landed files ==
    manually chaining run_delta_pipeline over the same two deltas."""
    _, da, db = corpus3
    src, out = tmp_path / "src", str(tmp_path / "out")
    t0 = time.time() - 1000
    _land(src, "delta-a.parquet", da, t0)
    _land(src, "delta-b.parquet", db, t0 + 100)

    q = start_stream_ingest(spark, str(src), catalog_run, out, CFG)
    assert q.awaitTermination(AWAIT_SECS), "stream did not drain in time"

    ptr = read_pointer(out)
    assert ptr is not None and ptr.endswith("batch-000001")
    # Streamed batches emit="delta" (delta-sized writes): the full resolved
    # view is reconstructed from the state chains, and the partial sink is
    # refused by catalog_entities_path (ADVICE r04).
    with pytest.raises(ValueError, match="emit='delta'"):
        catalog_entities_path(ptr)
    streamed = current_entities(spark, ptr)

    # Manual chain over the same splits and states.
    cat_ent = spark.read.parquet(catalog_entities_path(catalog_run)).select(
        "rid", "entity_id"
    )
    m1 = str(tmp_path / "m1")
    r1 = run_delta_pipeline(
        spark, cat_ent, spark.createDataFrame(da), m1, CFG, input_id="m1",
        state=cstate.load_catalog_state(spark, catalog_run),
    )
    r2 = run_delta_pipeline(
        spark, r1.entities.select("rid", "entity_id"),
        spark.createDataFrame(db), str(tmp_path / "m2"), CFG, input_id="m2",
        state=cstate.load_catalog_state(spark, m1),
    )
    assert _labels(streamed) == _labels(r2.entities)


def test_stream_restart_processes_only_new_files(
    spark, corpus3, catalog_run, tmp_path
):
    """Second query run with the same out_dir skips committed files and
    chains from the pointer instead of re-running batch 0."""
    cat, da, db = corpus3
    src, out = tmp_path / "src", str(tmp_path / "out")
    t0 = time.time() - 1000
    _land(src, "delta-a.parquet", da, t0)

    q1 = start_stream_ingest(spark, str(src), catalog_run, out, CFG)
    assert q1.awaitTermination(AWAIT_SECS)
    ptr1 = read_pointer(out)
    assert ptr1 is not None and ptr1.endswith("batch-000000")
    markers_before = _stage_markers(ptr1)
    assert markers_before, "batch 0 left no stage markers"

    _land(src, "delta-b.parquet", db, t0 + 100)
    q2 = start_stream_ingest(spark, str(src), catalog_run, out, CFG)
    assert q2.awaitTermination(AWAIT_SECS)
    ptr2 = read_pointer(out)
    assert ptr2 is not None and ptr2.endswith("batch-000001")
    # superseded batch 0 was pruned down to the sinks the state manifest
    # still references (normalize_delta, tok_index and cc_delta via their
    # append-only chains; sn_index only while batch 1's element extends the
    # sn chain instead of replacing it as its base), NOT rebuilt:
    kept_markers = {
        str(Path(p) / "_STAGE_DONE")
        for p in cstate.manifest_paths(ptr2)
        if Path(p).parent == Path(ptr1)
    }
    assert kept_markers >= {
        str(Path(ptr1) / stage / "_STAGE_DONE")
        for stage in ("normalize_delta", "tok_index", "cc_delta")
    }
    m_after = _stage_markers(ptr1)
    assert set(m_after) == kept_markers
    for m in kept_markers:
        assert m_after[m] == markers_before[m]
    assert not (Path(ptr1) / "entities_delta").exists()

    final = current_entities(spark, ptr2)
    assert final.count() == len(cat) + len(da) + len(db)
    # the pruned chain still loads as a valid catalog state
    st = cstate.load_catalog_state(spark, ptr2)
    assert st.norm.count() == len(cat) + len(da) + len(db)


def test_ingest_batch_replay_and_empty(spark, corpus3, catalog_run, tmp_path):
    """The three foreachBatch edge branches, driven directly."""
    _, da, _ = corpus3
    out = str(tmp_path)
    delta = spark.createDataFrame(da)

    res = ingest_batch(spark, delta, 0, out, catalog_run, CFG)
    assert res["executed"] and not res.get("replay_noop")
    run_dir = res["run_dir"]
    assert read_pointer(out) == run_dir

    # Replay of a COMPLETED batch (pointer already advanced) → no-op.
    res2 = ingest_batch(spark, delta, 0, out, catalog_run, CFG)
    assert res2.get("replay_noop")

    # Crash window: run completed but pointer not yet advanced. The replay
    # re-enters with the same fingerprints → every stage skipped, pointer
    # restored.
    Path(out, "CURRENT").unlink()
    res3 = ingest_batch(spark, delta, 0, out, catalog_run, CFG)
    assert res3["executed"] == [] and set(res3["skipped"]) >= {
        "normalize_delta", "pairs_delta", "entities_delta"
    }
    assert read_pointer(out) == run_dir

    # Empty micro-batch: no run_dir, pointer unchanged.
    empty = spark.createDataFrame([], schema=RECORDS_SCHEMA)
    res4 = ingest_batch(spark, empty, 1, out, catalog_run, CFG)
    assert res4.get("empty") and res4["run_dir"] is None
    assert read_pointer(out) == run_dir


def test_compaction_bounds_chains_and_disk(
    spark, corpus3, catalog_run, tmp_path, monkeypatch
):
    """compact_every writes a compact dir, repoints CURRENT, deletes every
    superseded sink the compact dir does not reference — and a replay of
    the batch that triggered compaction is still a sentinel-verified no-op.
    Once with the small norm tail re-referenced, once forced to fold every
    chain (fold ratio 0)."""
    for fold in (False, True):
        with monkeypatch.context() as m:
            if fold:
                m.setattr(cstate, "FOLD_RATIO", 0.0)
            _compaction_round(
                spark, corpus3, catalog_run, str(tmp_path / f"out{fold:d}"),
                fold,
            )


def _compaction_round(spark, corpus3, catalog_run, out: str, fold: bool):
    import json

    _, da, db = corpus3
    db1, db2 = db.iloc[: len(db) // 2], db.iloc[len(db) // 2 :]

    r0 = ingest_batch(
        spark, spark.createDataFrame(da), 0, out, catalog_run, CFG,
        compact_every=2,
    )
    assert r0["compacted"] is None
    r1 = ingest_batch(
        spark, spark.createDataFrame(db1), 1, out, catalog_run, CFG,
        compact_every=2,
    )
    # (1+1) % 2 == 0 → compacted after batch 1
    cdir = r1["compacted"]
    assert cdir is not None and cdir.endswith("compact-000001")
    assert read_pointer(out) == cdir
    manifest = json.loads((Path(cdir) / "state.json").read_text())
    b0, b1 = Path(out, "batch-000000"), Path(out, "batch-000001")
    if fold:
        # batch 0 deleted outright; batch 1 stripped to its sentinel
        assert not b0.exists()
        assert [p.name for p in b1.iterdir()] == ["INGEST_ID"]
        # folded chains are single-element
        assert len(manifest["norm_paths"]) == 1
        assert len(manifest["labels_chain"]) == 1
    else:
        # the norm chain is re-referenced: both batches keep their
        # normalize_delta, batch 0 loses its sentinel and every unreferenced
        # sink, batch 1 keeps its sentinel
        assert manifest["norm_paths"][1:] == [
            str(b0 / "normalize_delta"), str(b1 / "normalize_delta")
        ]
        live = {Path(p) for p in cstate.manifest_paths(cdir)}
        assert {p for p in b0.iterdir()} <= live
        assert {p for p in b1.iterdir()} <= live | {b1 / "INGEST_ID"}
        assert (b1 / "INGEST_ID").exists()
    assert all(Path(p).exists() for p in cstate.manifest_paths(cdir))

    # replay of the compaction-triggering batch (crash before its offsets
    # committed): sentinel-verified no-op, pointer stays on the compact dir
    r1b = ingest_batch(
        spark, spark.createDataFrame(db1), 1, out, catalog_run, CFG,
        compact_every=2,
    )
    assert r1b.get("replay_noop")
    assert read_pointer(out) == cdir

    # the next batch chains FROM the compact dir and the final view equals
    # the catalog + all three deltas resolved
    r2 = ingest_batch(
        spark, spark.createDataFrame(db2), 2, out, catalog_run, CFG,
        compact_every=2,
    )
    assert r2["executed"]
    final = current_entities(spark, read_pointer(out))
    cat, _, _ = corpus3
    assert final.count() == len(cat) + len(da) + len(db)
    m2 = json.loads((Path(r2["run_dir"]) / "state.json").read_text())
    # the compact dir's chains + this batch's delta
    assert len(m2["norm_paths"]) == len(manifest["norm_paths"]) + 1
    assert len(m2["labels_chain"]) == len(manifest["labels_chain"]) + 1
    # compact state still loads and is internally consistent
    st = cstate.load_catalog_state(spark, read_pointer(out))
    assert st.norm.count() == final.count()


def test_ingest_releases_cached_relations(spark, corpus3, catalog_run, tmp_path):
    """A long-lived stream must not accumulate cached relations: after two
    micro-batches the session's cache manager holds nothing, and CC's
    session-level AQE toggle is restored although the state-maintenance
    branch ran beside it."""
    _, da, db = corpus3
    out = str(tmp_path / "out")
    spark.catalog.clearCache()
    for bid, pdf in enumerate((da, db)):
        res = ingest_batch(
            spark, spark.createDataFrame(pdf), bid, out, catalog_run, CFG
        )
        assert res["executed"]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_failed_branch_leaves_no_state_then_resume_completes(
    spark, corpus3, catalog_run, tmp_path, monkeypatch
):
    """A raise in the token-state branch (tok_index) fails the delta run
    after the delta chain has finished, and writes no state.json; a
    resume=True rerun skips what was written and completes the state."""
    _, da, _ = corpus3
    delta = spark.createDataFrame(da)
    rd = str(tmp_path / "d")

    def run():
        return run_delta_pipeline(
            spark, None, delta, rd, CFG, input_id="branch-fail", resume=True,
            state=cstate.load_catalog_state(spark, catalog_run), emit="delta",
        )

    def boom(norm, num_buckets):
        raise RuntimeError("tok_index failed")

    with monkeypatch.context() as m:
        m.setattr(cstate, "build_tok_postings", boom)
        with pytest.raises(RuntimeError, match="tok_index failed"):
            run()
    assert not cstate.has_state(rd)
    assert Path(rd, "entities_delta", "_STAGE_DONE").exists()

    res = run()
    assert res.skipped == [
        "normalize_delta", "sn_index", "pairs_delta",
        "score_delta", "edges_delta", "cc_delta", "entities_delta",
    ]
    assert res.executed == ["tok_index"]
    assert cstate.has_state(rd)
    assert current_entities(spark, rd).count() == (
        current_entities(spark, catalog_run).count() + len(da)
    )


def test_ingest_job_count_guard(spark, corpus3, catalog_run, tmp_path):
    """Round-trip guard: one ingest_batch with compaction runs at most the
    measured number of Spark jobs plus 25% (measured: JOBS_MEASURED on the
    tiny fixture). Jobs of the run's concurrent branches inherit its job
    group (sources.checkpoint.run_parallel)."""
    _, da, _ = corpus3
    sc = spark.sparkContext
    group = "ingest-job-count-guard"
    delta = spark.createDataFrame(da)
    sc.setJobGroup(group, "count the jobs of one ingest_batch")
    try:
        ingest_batch(
            spark, delta, 0, str(tmp_path / "out"), catalog_run, CFG,
            compact_every=1,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= JOBS_MEASURED * 1.25, jobs


def test_out_dir_reuse_refused(spark, corpus3, catalog_run, tmp_path):
    """A recreated streaming checkpoint over a used out_dir restarts batch
    numbering over NEW files — both collision shapes must fail loudly
    instead of silently serving the old batch's results."""
    _, da, db = corpus3
    pa, pb = tmp_path / "a.parquet", tmp_path / "b.parquet"
    da.to_parquet(pa, index=False)
    db.to_parquet(pb, index=False)
    out = str(tmp_path / "out")

    res = ingest_batch(spark, spark.read.parquet(str(pa)), 0, out, catalog_run, CFG)
    assert res["executed"]

    # pointer intact: digest mismatch on the completed batch
    with pytest.raises(ValueError, match="DIFFERENT input-file set"):
        ingest_batch(spark, spark.read.parquet(str(pb)), 0, out, catalog_run, CFG)

    # pointer lost in the same scenario: the run_dir sentinel still refuses
    Path(out, "CURRENT").unlink()
    with pytest.raises(ValueError, match="different identity"):
        ingest_batch(spark, spark.read.parquet(str(pb)), 0, out, catalog_run, CFG)


def test_malformed_landed_file_fails_loudly(spark, corpus3, catalog_run, tmp_path):
    """A landed file missing a required column must fail the batch (so its
    offsets never commit), not silently ingest nulls."""
    _, da, _ = corpus3
    bad = da.drop(columns=["content"])
    p = tmp_path / "bad.parquet"
    bad.to_parquet(p, index=False)
    # mirror the streaming read: enforced schema fills the column with nulls
    bdf = spark.read.schema(RECORDS_SCHEMA).parquet(str(p))
    with pytest.raises(ValueError, match="entirely null"):
        ingest_batch(spark, bdf, 0, str(tmp_path / "out"), catalog_run, CFG)


def test_null_identity_refused_null_content_tolerated(
    spark, corpus3, catalog_run, tmp_path
):
    """ADVICE r04: the refusal is scoped to identity columns. A row with a
    null COMMIT (a rid input) fails the batch; a row with null CONTENT among
    good rows follows batch drop semantics (the same file via --delta would
    ingest), so the stream must not wedge replaying it forever."""
    _, da, _ = corpus3

    bad_id = da.copy()
    bad_id.iloc[0, bad_id.columns.get_loc("commit")] = None
    p1 = tmp_path / "bad_id.parquet"
    bad_id.to_parquet(p1, index=False)
    with pytest.raises(ValueError, match="null identity columns"):
        ingest_batch(
            spark, spark.read.schema(RECORDS_SCHEMA).parquet(str(p1)),
            0, str(tmp_path / "out1"), catalog_run, CFG,
        )

    some_null = da.copy()
    some_null.iloc[0, some_null.columns.get_loc("content")] = None
    p2 = tmp_path / "some_null.parquet"
    some_null.to_parquet(p2, index=False)
    res = ingest_batch(
        spark, spark.read.schema(RECORDS_SCHEMA).parquet(str(p2)),
        0, str(tmp_path / "out2"), catalog_run, CFG,
    )
    assert res["executed"], "null-content row must not wedge the batch"
    # the null-content row was dropped (batch semantics), the rest ingested
    ents = current_entities(spark, res["run_dir"])
    cat_n = spark.read.parquet(catalog_entities_path(catalog_run)).count()
    assert ents.count() == cat_n + len(da) - 1


def test_prune_is_numeric_and_watermarked(tmp_path):
    """ADVICE r04 + VERDICT r04 #5: batch ids compare numerically (the %06d
    padding overflows at 10^6 — 'batch-1000000' < 'batch-999999' as strings)
    and pruning visits only ids above the pointer watermark."""
    from codingchallenge_spark.streaming.ingest import (
        _advance_pointer,
        _read_pointer_full,
        prune_superseded,
    )

    out = tmp_path / "out"
    for bid in (999999, 1000000):
        d = out / f"batch-{bid:06d}"
        (d / "entities_delta").mkdir(parents=True)
        (d / "normalize_delta").mkdir()
        (d / "INGEST_ID").write_text("x\n")
    cur = str(out / "batch-1000001")
    # CURRENT's manifest references both normalize_delta sinks
    Path(cur).mkdir()
    cstate.write_state_manifest(
        cur,
        norm_paths=[str(out / f"batch-{bid:06d}" / "normalize_delta")
                    for bid in (999999, 1000000)],
        sn_chain=[], sn_bounds=[], labels_chain=[], tok_chain=[], tok_buckets=1,
    )
    pruned = prune_superseded(str(out), cur, watermark=-1)
    # both older dirs pruned down to the referenced normalize_delta
    # (+ sentinel), despite 'batch-1000000' sorting before 'batch-999999'
    # lexicographically
    assert len(pruned) == 2
    for bid in (999999, 1000000):
        d = out / f"batch-{bid:06d}"
        assert not (d / "entities_delta").exists()
        assert (d / "normalize_delta").exists()
        assert (d / "INGEST_ID").exists()

    # watermark bounds the id range visited: recreate a sink below it and
    # verify a watermarked prune never touches it
    (out / "batch-999999" / "entities_delta").mkdir()
    assert prune_superseded(str(out), cur, watermark=1000000) == []
    assert (out / "batch-999999" / "entities_delta").exists()

    # pointer round-trips the watermark + last completed batch id
    _advance_pointer(
        str(out), cur, "d1g35t", pruned_upto=1000000, last_batch_id=1000001
    )
    run_dir, digest, wm, last_bid = _read_pointer_full(str(out))
    assert (run_dir, digest, wm, last_bid) == (cur, "d1g35t", 1000000, 1000001)


def test_start_requires_persisted_state(spark, tmp_path):
    with pytest.raises(ValueError, match="no persisted catalog state"):
        start_stream_ingest(
            spark, str(tmp_path / "src"), str(tmp_path / "nostate"),
            str(tmp_path / "out"), CFG,
        )


def test_start_refuses_an_unmigrated_catalog(spark, catalog_run, tmp_path):
    """A catalog state in an older layout is refused before the query
    starts, with the message load_catalog_state gives (migrate a v2 state,
    rebuild a v1 one): no streaming checkpoint is written, so no offset is
    committed against a state no batch can load."""
    import json
    import shutil

    legacy = tmp_path / "v2"
    shutil.copytree(catalog_run, legacy)
    manifest = json.loads((legacy / "state.json").read_text())
    manifest["version"] = 2
    (legacy / "state.json").write_text(json.dumps(manifest))
    with pytest.raises(ValueError, match=r"compact_state\(spark, run_dir, out_dir\)"):
        cstate.load_catalog_state(spark, str(legacy))
    out = tmp_path / "out"
    with pytest.raises(ValueError, match=r"compact_state\(spark, run_dir, out_dir\)"):
        start_stream_ingest(spark, str(tmp_path / "src"), str(legacy), str(out), CFG)
    assert not (out / "_stream_checkpoint").exists()
    # A state from before the labels chain cannot be migrated: rebuild.
    manifest["version"] = 1
    (legacy / "state.json").write_text(json.dumps(manifest))
    with pytest.raises(ValueError, match="rebuild the catalog"):
        start_stream_ingest(spark, str(tmp_path / "src"), str(legacy), str(out), CFG)


# --- Reference safety: size-tiered compaction re-references chain elements
# that live in older batch and compact dirs, so deletion follows CURRENT's
# manifest. ------------------------------------------------------------------


@pytest.fixture(scope="module")
def chain8(corpus3):
    """The non-catalog rows of the tiny fixture as eight small batches."""
    _, da, db = corpus3
    rest = pd.concat([da, db]).sort_index().reset_index(drop=True)
    return [rest[rest.index % 8 == i] for i in range(8)]


@pytest.fixture(scope="module")
def batch_partitions(spark, corpus3, chain8):
    """Batch ``resolve_entities`` over the catalog and batches 0..k, as a
    partition of rids (computed once per k)."""
    from codingchallenge_spark.plans.matcher import resolve_entities

    cat = corpus3[0]
    cache: dict[int, set] = {}

    def get(k: int) -> set:
        if k not in cache:
            rows = pd.concat([cat, *chain8[: k + 1]])
            cache[k] = _partition(
                resolve_entities(spark.createDataFrame(rows), CFG)
            )
        return cache[k]

    return get


def _partition(df) -> set[frozenset[str]]:
    groups: dict[str, set[str]] = {}
    for r in df.select("rid", "entity_id").collect():
        groups.setdefault(r.entity_id, set()).add(r.rid)
    return {frozenset(g) for g in groups.values()}


def _unreferenced(out: str) -> list[Path]:
    """Children of superseded batch/compact dirs that CURRENT's manifest
    does not reference, sentinels aside."""
    cur = Path(read_pointer(out))
    live = {Path(p) for p in cstate.manifest_paths(str(cur))}
    return [
        child
        for d in Path(out).iterdir()
        if d.is_dir() and d != cur and d.name.startswith(("batch-", "compact-"))
        for child in d.iterdir()
        if child.name != "INGEST_ID" and child not in live
    ]


@pytest.mark.parametrize("every", [1, 3])
def test_compacted_chain_references_only_live_paths(
    spark, catalog_run, chain8, batch_partitions, tmp_path, every
):
    """Eight batches with compaction every ``every`` batches: after each,
    every path in CURRENT's manifest exists, the resolved view equals batch
    resolution over the same rows, and the state keeps the catalog's sn
    bucket count. Each compaction leaves nothing unreferenced behind; over
    the run some chain is re-referenced and some chain folds."""
    out = str(tmp_path / "out")
    buckets = len(cstate.read_manifest(catalog_run)["sn_bounds"])
    rereferenced = folded = False
    for bid, pdf in enumerate(chain8):
        res = ingest_batch(
            spark, spark.createDataFrame(pdf), bid, out, catalog_run,
            compact_every=every,
        )
        cur = read_pointer(out)
        assert cur == (res["compacted"] or res["run_dir"])
        paths = cstate.manifest_paths(cur)
        assert [p for p in paths if not Path(p).exists()] == [], bid
        assert len(cstate.read_manifest(cur)["sn_bounds"]) == buckets
        assert _partition(current_entities(spark, cur)) == batch_partitions(bid)
        if res["compacted"]:
            assert _unreferenced(out) == [], bid
            rereferenced |= any(not p.startswith(cur) for p in paths)
            folded |= any(p.startswith(cur) for p in paths)
    assert rereferenced and folded


def test_crash_between_repoint_and_cleanup(
    spark, catalog_run, chain8, batch_partitions, tmp_path, monkeypatch
):
    """A run killed after CURRENT names the new compact dir but before the
    superseded sinks are deleted: the state still loads, the replay is a
    no-op, and the next batch succeeds and deletes the leftovers."""
    from codingchallenge_spark.streaming import ingest

    out = str(tmp_path / "out")

    def batch(bid: int) -> dict:
        return ingest_batch(
            spark, spark.createDataFrame(chain8[bid]), bid, out, catalog_run,
            CFG, compact_every=1,
        )

    batch(0)

    def killed(*_args):
        raise RuntimeError("killed before cleanup")

    with monkeypatch.context() as m:
        m.setattr(ingest, "_delete_superseded", killed)
        with pytest.raises(RuntimeError, match="killed before cleanup"):
            batch(1)
    cur = read_pointer(out)
    assert cur.endswith("compact-000001")
    assert _unreferenced(out) != []  # the cleanup never ran
    cstate.load_catalog_state(spark, cur)
    assert _partition(current_entities(spark, cur)) == batch_partitions(1)

    assert batch(1).get("replay_noop")
    res = batch(2)
    assert res["executed"] and res["compacted"]
    cur = read_pointer(out)
    assert all(Path(p).exists() for p in cstate.manifest_paths(cur))
    assert _unreferenced(out) == []
    assert _partition(current_entities(spark, cur)) == batch_partitions(2)

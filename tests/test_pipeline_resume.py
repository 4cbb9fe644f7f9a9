"""Checkpoint/resume protocol tests (SURVEY.md §5.5, BASELINE.json:14)."""

import json
import shutil
from pathlib import Path

import pytest

from codingchallenge_spark.plans.matcher import MatcherConfig, resolve_entities
from codingchallenge_spark.plans.pipeline import STAGES, run_pipeline
from codingchallenge_spark.sources.checkpoint import read_marker


@pytest.fixture(scope="module")
def run_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("pipeline_run"))


def _labels(df):
    return {r.rid: r.entity_id for r in df.select("rid", "entity_id").collect()}


def test_full_run_then_resume_noop(spark, tiny_records, run_dir):
    cfg = MatcherConfig()
    run1 = run_pipeline(spark, tiny_records, run_dir, cfg, input_id="tiny")
    assert run1.executed == STAGES and run1.skipped == []
    out1 = _labels(run1.entities)
    assert len(out1) == tiny_records.count()

    # matches the pure in-memory plan
    mem = _labels(resolve_entities(tiny_records, cfg))
    assert out1 == mem

    # resume with nothing changed → every stage skipped, identical output
    run2 = run_pipeline(
        spark, tiny_records, run_dir, cfg, input_id="tiny", resume=True
    )
    assert run2.executed == [] and run2.skipped == STAGES
    assert _labels(run2.entities) == out1


def test_resume_recomputes_only_missing_suffix(spark, tiny_records, run_dir):
    cfg = MatcherConfig()
    out_before = _labels(
        run_pipeline(spark, tiny_records, run_dir, cfg, input_id="tiny",
                     resume=True).entities
    )
    # interrupt after blocking: nuke score and everything downstream
    for stage in ["score", "edges", "cc", "entities"]:
        shutil.rmtree(Path(run_dir) / stage, ignore_errors=True)
    run = run_pipeline(
        spark, tiny_records, run_dir, cfg, input_id="tiny", resume=True
    )
    # the catalog-state stages depend only on normalize → also skipped
    assert run.skipped == [
        "normalize", "block_token", "block_sn", "pairs",
        "sn_index", "tok_index",
    ]
    assert run.executed == ["score", "edges", "cc", "entities"]
    assert _labels(run.entities) == out_before


def test_config_change_invalidates_downstream(spark, tiny_records, run_dir):
    cfg2 = MatcherConfig(threshold=0.8)  # differs from default
    run = run_pipeline(
        spark, tiny_records, run_dir, cfg2, input_id="tiny", resume=True
    )
    # fingerprint embeds the whole config → everything re-runs
    assert run.executed == STAGES


def test_schema_version_bump_invalidates_checkpoints(
    spark, tiny_records, run_dir, monkeypatch
):
    """A run_dir written by older code (different PIPELINE_SCHEMA_VERSION)
    must rebuild every stage on --resume instead of loading checkpoints whose
    on-disk schema the new code no longer matches."""
    from codingchallenge_spark.plans import pipeline as pl

    cfg = MatcherConfig()
    # ensure run_dir is fully populated at the current version
    run_pipeline(spark, tiny_records, run_dir, cfg, input_id="tiny", resume=True)
    monkeypatch.setattr(pl, "PIPELINE_SCHEMA_VERSION", -1)
    run = run_pipeline(
        spark, tiny_records, run_dir, cfg, input_id="tiny", resume=True
    )
    assert run.executed == STAGES and run.skipped == []
    # restore the run_dir to the real version for downstream tests
    monkeypatch.undo()
    run_pipeline(spark, tiny_records, run_dir, cfg, input_id="tiny", resume=True)


def test_marker_lineage(spark, run_dir):
    meta = read_marker(run_dir, "normalize")
    assert meta["rows"] == 200
    assert meta["partitions"] >= 1
    assert sum(meta["file_rows"].values()) == 200  # per-partition lineage
    metrics = [
        json.loads(l)
        for l in (Path(run_dir) / "stage_metrics.jsonl").read_text().splitlines()
    ]
    assert any(m["stage"] == "cc" and not m["skipped"] for m in metrics)
    assert any(m["skipped"] for m in metrics)


def test_stale_cc_iters_wiped_on_edges_fingerprint_change(
    spark, tiny_records, run_dir
):
    """cc_iters files written under a DIFFERENT edges fingerprint must be
    wiped before the cc stage can seed from them: a high-numbered leftover
    from an older run would otherwise be preferred by _latest_cc_iteration
    over the real latest round on an interrupted resume."""
    cfg = MatcherConfig()
    out_before = _labels(
        run_pipeline(spark, tiny_records, run_dir, cfg, input_id="tiny",
                     resume=True).entities
    )
    iter_dir = Path(run_dir) / "cc_iters"
    # forge a foreign-edge-set leftover: poison stamp + bogus high iteration
    (iter_dir / "_EDGES_FP").write_text("stale-fingerprint")
    bogus = iter_dir / "edges_iter_099.parquet"
    bogus.mkdir(parents=True, exist_ok=True)
    (bogus / "_SUCCESS").touch()
    # interrupt after edges: cc must re-run while edges is skipped — exactly
    # the window where _latest_cc_iteration consults surviving iter files
    for stage in ["cc", "entities"]:
        shutil.rmtree(Path(run_dir) / stage, ignore_errors=True)
    run = run_pipeline(
        spark, tiny_records, run_dir, cfg, input_id="tiny", resume=True
    )
    assert run.executed == ["cc", "entities"]
    assert not bogus.exists()  # wiped, not seeded from
    assert (iter_dir / "_EDGES_FP").read_text() != "stale-fingerprint"
    assert _labels(run.entities) == out_before

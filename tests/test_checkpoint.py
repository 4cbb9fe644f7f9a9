"""Stage checkpoint protocol (codingchallenge_spark.sources.checkpoint):
schema-carrying markers, zero-job stage reads, and the branch runner."""

from __future__ import annotations

import json
import shutil
import sys
import threading
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from codingchallenge_spark.plans import catalog_state as cstate
from codingchallenge_spark.plans.matcher import MatcherConfig
from codingchallenge_spark.plans.pipeline import STAGES, run_pipeline
from codingchallenge_spark.sources import checkpoint as ckpt


@pytest.fixture(scope="module")
def done_run(spark, tiny_records, tmp_path_factory):
    rd = str(tmp_path_factory.mktemp("ckpt") / "run")
    run_pipeline(spark, tiny_records, rd, MatcherConfig(), input_id="tiny")
    return rd


def _jobs_started(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"ckpt-test-{time.monotonic_ns()}"
    sc.setJobGroup(group, "count the jobs fn starts")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_stage_reads_start_no_job(spark, done_run):
    """A stage read passes the marker's schema, so no parquet
    schema-inference job starts."""
    assert _jobs_started(
        spark, lambda: [ckpt.load_stage(spark, done_run, s) for s in STAGES]
    ) == 0
    assert _jobs_started(
        spark, lambda: cstate.load_catalog_state(spark, done_run)
    ) == 0


def test_chained_state_reads_start_no_job(spark, tiny_records, done_run, tmp_path):
    """The norm chain of a maintained delta run spans two stage sinks (the
    batch normalize and the delta's); their recorded schemas agree, so the
    chained read and the compacted state's read start no job either."""
    from codingchallenge_spark.plans.pipeline import run_delta_pipeline

    delta = tiny_records.limit(20).withColumn("commit", F.lit("delta-commit"))
    rd = str(tmp_path / "delta")
    run_delta_pipeline(
        spark, None, delta, rd, MatcherConfig(), input_id="chained",
        state=cstate.load_catalog_state(spark, done_run), emit="delta",
    )
    compacted = cstate.compact_state(spark, rd, str(tmp_path / "compact"))
    for state_dir in (rd, compacted):
        assert _jobs_started(
            spark, lambda: cstate.load_catalog_state(spark, state_dir)
        ) == 0, state_dir
    # The delta's normalize stage orders its columns differently; the
    # chained read still has the schema inference gives.
    state = cstate.load_catalog_state(spark, rd)
    assert len(state.norm_paths) == 2
    assert state.norm.schema == spark.read.parquet(*state.norm_paths).schema


def test_recorded_schema_matches_inferred(spark, done_run):
    for s in STAGES:
        path = ckpt.stage_path(done_run, s)
        assert ckpt.read_marker(done_run, s)["schema"]
        assert (
            ckpt.load_stage(spark, done_run, s).schema
            == spark.read.parquet(path).schema
        ), s


def test_norm_markers_record_one_binary_id(
    spark, tiny_records, done_run, tmp_path
):
    """Every normalized relation stores its record id once, as the binary
    ``rid``: the batch ``normalize``, the in-run ``catalog_norm`` and the
    ``normalize_delta`` markers record no second id column."""
    from codingchallenge_spark.plans.pipeline import (
        catalog_entities_path,
        run_delta_pipeline,
    )

    delta = tiny_records.limit(20).withColumn("commit", F.lit("delta-commit"))
    rd = str(tmp_path / "derived")
    run_delta_pipeline(
        spark, ckpt.read_parquet(spark, catalog_entities_path(done_run)),
        delta, rd, MatcherConfig(), input_id="derived", emit="delta",
    )
    for run_dir, stage in (
        (done_run, "normalize"), (rd, "catalog_norm"), (rd, "normalize_delta")
    ):
        schema = ckpt.recorded_schema(ckpt.stage_path(run_dir, stage))
        ids = {
            f.name: f.dataType.simpleString()
            for f in schema.fields
            if f.name.startswith("rid")
        }
        assert ids == {"rid": "binary"}, (stage, ids)


def test_marker_without_schema_loads_and_resumes(
    spark, tiny_records, done_run, tmp_path
):
    """A run_dir whose markers predate the recorded schema: reads fall back
    to inference, and a resume still skips every stage."""
    rd = str(tmp_path / "legacy")
    shutil.copytree(done_run, rd)
    for m in Path(rd).glob(f"*/{ckpt.MARKER}"):
        meta = json.loads(m.read_text())
        meta.pop("schema")
        m.write_text(json.dumps(meta))

    assert ckpt.load_stage(spark, rd, "normalize").schema == (
        ckpt.load_stage(spark, done_run, "normalize").schema
    )
    state = cstate.load_catalog_state(spark, rd)
    assert state.norm.count() == tiny_records.count()
    run = run_pipeline(
        spark, tiny_records, rd, MatcherConfig(), input_id="tiny", resume=True
    )
    assert run.executed == [] and run.skipped == STAGES


def test_run_parallel_results_in_argument_order(spark):
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        fns = [lambda i=i: (time.sleep(0.01 * (8 - i)), i)[1] for i in range(8)]
        assert ckpt.run_parallel(spark, *fns) == list(range(8))
    finally:
        sys.setswitchinterval(old)


def test_run_parallel_waits_for_every_branch_then_raises_first(spark):
    finished = threading.Event()

    def slow():
        time.sleep(0.3)
        finished.set()

    def fail(msg):
        raise RuntimeError(msg)

    with pytest.raises(RuntimeError, match="first"):
        ckpt.run_parallel(
            spark, lambda: fail("first"), slow, lambda: fail("second")
        )
    assert finished.is_set()


def test_run_parallel_branches_inherit_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-parent-group", "parent")
    try:
        seen = ckpt.run_parallel(
            spark,
            *[lambda: sc.getLocalProperty("spark.jobGroup.id")] * 2,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen == ["ckpt-parent-group"] * 2

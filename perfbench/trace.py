"""Spans around the engine's layers, attributed with Spark's own task metrics.

A traced run wraps, at runtime and from this file only, the public functions
through which the benchmark reaches each layer. Every span records its wall
time in memory and sets a Spark job group, so each Spark job is charged to
the innermost span that was open when it started. After the session stops,
:func:`read_event_log` reads Spark's uncompressed JSON event log
(``SparkListenerJobStart`` gives job → group and stage ids,
``SparkListenerTaskEnd`` gives each task's run time, CPU time, shuffle
writes and spills), and :meth:`Tracer.layers` folds spans and jobs into
per-layer totals. A layer's wall time is its spans' self time: span duration
minus the part covered by child spans, so the layers of one run sum to the
traced wall time.

Pipeline stages are traced at their sink, ``sources.checkpoint.write_stage``:
the stage's DataFrame is lazy until that write, so the sink span holds the
stage's jobs. The stage name decides the layer (``STAGE_LAYER``).
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# Pipeline stage (sources.checkpoint stage name) -> engine layer that builds it.
STAGE_LAYER = {
    "normalize": "functions.normalize",
    "catalog_norm": "functions.normalize",
    "normalize_delta": "functions.normalize",
    "block_token": "operators.blocking",
    "block_sn": "operators.blocking",
    "pairs": "operators.blocking",
    "score": "operators.scoring",
    "edges": "operators.scoring",
    "score_delta": "operators.scoring",
    "edges_delta": "operators.scoring",
    "cc": "operators.cc",
    "entities": "plans.matcher",
    "entities_delta": "plans.matcher",
    "token_df": "plans.catalog_state",
    "sn_index": "plans.catalog_state",
    "sn_bounds": "plans.catalog_state",
    "tok_index": "plans.catalog_state",
    "token_df_cat": "plans.catalog_state",
    "sn_index_cat": "plans.catalog_state",
    "tok_index_cat": "plans.catalog_state",
    "labels_cat": "plans.catalog_state",
    "pairs_delta": "plans.incremental",
    "cc_delta": "plans.incremental",
}


class Span:
    __slots__ = (
        "sid", "layer", "name", "parent", "phase", "t0", "t1", "attrs", "children"
    )

    def __init__(self, sid: str, layer: str, name: str, parent, phase: str):
        self.sid, self.layer, self.name, self.parent = sid, layer, name, parent
        self.phase = phase
        self.t0 = time.perf_counter()
        self.t1 = self.t0
        self.attrs: dict = {}
        self.children: list[Span] = []

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    @property
    def self_wall(self) -> float:
        return self.wall - sum(c.wall for c in self.children)


class Tracer:
    """In-memory spans; a no-op unless ``enabled``. ``phase`` (set-up,
    ops, check) is stamped on every span opened while it is current."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.phase = "setup"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, sc) -> None:
        self._sc = sc

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.sid, f"{span.layer}:{span.name}")

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, layer: str, name: str = ""):
        if not self.enabled:
            yield None
            return
        parent = self.current
        s = Span(f"{layer}#{len(self.spans)}", layer, name, parent, self.phase)
        if parent is not None:
            parent.children.append(s)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(self.current)

    def wrap(self, module, attr: str, layer: str, after=None) -> None:
        """Replace ``module.attr`` by a spanned call; ``after(span, args,
        kwargs, result)`` may record counts on the span."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(layer, attr) as s:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(s, args, kwargs, out)
                return out

        traced.__wrapped__ = fn
        setattr(module, attr, traced)

    def layers(
        self, jobs: dict[str, list[dict]], cores: int, phase: str | None = None
    ) -> dict[str, dict]:
        """Per-layer totals (of one phase, or all): self wall, and the task
        metrics of every job whose group is one of the layer's spans."""
        out: dict[str, dict] = defaultdict(
            lambda: {
                "wall_s": 0.0, "task_s": 0.0, "cpu_s": 0.0,
                "shuffle_write_mb": 0.0, "spill_mb": 0.0, "jobs": 0,
            }
        )
        for s in self.spans:
            if phase is not None and s.phase != phase:
                continue
            agg = out[s.layer]
            agg["wall_s"] += s.self_wall
            for job in jobs.get(s.sid, []):
                agg["jobs"] += 1
                agg["task_s"] += job["task_s"]
                agg["cpu_s"] += job["cpu_s"]
                agg["shuffle_write_mb"] += job["shuffle_write_mb"]
                agg["spill_mb"] += job["spill_mb"]
        for agg in out.values():
            agg["idle_s"] = agg["wall_s"] - agg["task_s"] / cores
        return dict(out)


def read_event_log(log_dir: Path) -> dict[str, list[dict]]:
    """Job group id -> its jobs' summed task metrics, from the uncompressed
    JSON event log(s) under ``log_dir``. Each job also keeps the run times
    of the tasks of its heaviest stage (for skew)."""
    group_jobs: dict[str, list[int]] = defaultdict(list)
    stage_job: dict[int, int] = {}
    job_tot: dict[int, dict] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    # Rolling logs hold events_<n>_<app> files beside an empty appstatus
    # marker; the local file system adds hidden .crc checksums.
    files = sorted(
        p for p in log_dir.rglob("*")
        if p.is_file() and not p.name.startswith((".", "appstatus"))
    )
    for f in files:
        with open(f) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jid = ev["Job ID"]
                    job_tot[jid] = {
                        "task_s": 0.0, "cpu_s": 0.0,
                        "shuffle_write_mb": 0.0, "spill_mb": 0.0, "tasks": 0,
                    }
                    if group:
                        group_jobs[group].append(jid)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sid = ev["Stage ID"]
                    jid = stage_job.get(sid)
                    if jid is None:
                        continue
                    run_s = m.get("Executor Run Time", 0) / 1e3
                    tot = job_tot[jid]
                    tot["tasks"] += 1
                    tot["task_s"] += run_s
                    tot["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sw = (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    tot["shuffle_write_mb"] += sw / 2**20
                    tot["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
                    stage_tasks[sid].append(run_s)
    job_stages: dict[int, list[int]] = defaultdict(list)
    for sid, jid in stage_job.items():
        job_stages[jid].append(sid)
    out: dict[str, list[dict]] = {}
    for group, jids in group_jobs.items():
        rows = []
        for jid in jids:
            heavy = max(
                (stage_tasks[s] for s in job_stages[jid] if stage_tasks[s]),
                key=sum,
                default=[],
            )
            rows.append(dict(job_tot[jid], heavy_stage_tasks=heavy))
        out[group] = rows
    return out


def task_skew(task_times: list[float]) -> float:
    """Max over median task run time of one stage (1.0 = perfectly even)."""
    if not task_times:
        return 0.0
    med = statistics.median(task_times)
    return max(task_times) / med if med > 0 else 0.0


def _dir_stats(path: str) -> tuple[int, int]:
    files = [p for p in Path(path).rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points for ``tracer`` (module
    attributes are replaced in place, so callers that look them up at call
    time see the spanned versions)."""
    from codingchallenge_spark.plans import catalog_state, incremental, matcher, pipeline
    from codingchallenge_spark.sources import checkpoint
    from codingchallenge_spark.streaming import ingest

    write_stage = checkpoint.write_stage

    def traced_write_stage(df, run_dir, stage, fingerprint):
        with tracer.span(STAGE_LAYER.get(stage, "sources.checkpoint"), stage) as s:
            res = write_stage(df, run_dir, stage, fingerprint)
        # The engine's own record of this write: the line write_stage just
        # appended to the run_dir's stage_metrics.jsonl.
        with open(Path(run_dir) / "stage_metrics.jsonl") as fh:
            engine = json.loads(fh.readlines()[-1])
        files, nbytes = _dir_stats(res.path)
        s.attrs.update(
            stage=stage, rows=res.rows, files=files, bytes=nbytes,
            engine_wall_s=engine["wall_ms"] / 1e3,
        )
        return res

    checkpoint.write_stage = traced_write_stage

    def cc_after(s, args, kwargs, res):
        s.attrs.update(rounds=res.iterations, converged=res.converged)

    for mod in (matcher, pipeline, incremental):
        tracer.wrap(mod, "connected_components", "operators.cc", after=cc_after)

    def compact_after(s, args, kwargs, out_dir):
        s.attrs["bytes"] = _dir_stats(out_dir)[1]

    tracer.wrap(catalog_state, "compact_state", "plans.catalog_state", after=compact_after)
    tracer.wrap(catalog_state, "load_catalog_state", "plans.catalog_state")
    tracer.wrap(incremental, "incremental_candidate_pairs", "plans.incremental")
    tracer.wrap(ingest, "run_delta_pipeline", "plans.pipeline")
    tracer.wrap(matcher, "resolve_entities", "plans.matcher")

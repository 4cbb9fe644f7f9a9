#!/usr/bin/env python3
"""Benchmark of the record-linkage engine: one command, two workloads.

Usage (from the repository root)::

    python3 perfbench/run.py --workload delta_chain --seed 1 --seconds 10 --trace 0

One driver process calls the engine in a closed loop on ``local[nproc]``
(see ``perfbench/workloads.py`` for what each workload does and checks).
Inputs are made from ``--seed`` before the clock starts. The last line of
standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off. With ``--trace 1`` the engine's layers are spanned at runtime
(``perfbench/trace.py``), Spark writes an uncompressed event log, and the
metrics are the per-layer ones. The line before it is a JSON report: host and
version stamps, every check, the Spark JVM's peak RSS, the workload's own
figures (batch wall and F1 for the delta chain, per-query walls for the mix)
and, when traced, every
layer's totals per phase, the stage-span cross-check against the engine's
``stage_metrics.jsonl`` and the tracing overhead.

``attempted`` counts measured operations plus checks; ``failed`` counts
operations that raised plus checks that did not hold.

The session is made safe for a small host from outside the engine, through
the engine's own overrides: ``CCSPARK_DRIVER_MEMORY`` is a quarter of
physical RAM (1-8 GB), ``CCSPARK_LOCAL_DIR`` and every temporary directory
sit on disk inside the checkout (``.perfbench_work/``), and nothing is
written elsewhere.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_DIR = ".perfbench_work"


def host_env(work: Path) -> dict[str, str]:
    """Host-derived settings, exported before the JVM starts."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    heap_mb = min(max(phys // 4 // 2**20, 1024), 8192)
    env = {
        "CCSPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "CCSPARK_LOCAL_DIR": str(work / "spark-local"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        # Every JVM (spark-submit's launcher and the driver): temp files in
        # the work dir, and no hsperfdata file under /tmp.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    }
    for d in ("spark-local", "tmp", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


def source_sha() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "codingchallenge_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    out = subprocess.run(
        ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
        capture_output=True, text=True, check=False,
    )
    return out.stdout.strip() or None


def percentiles(samples: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond
    it (none below 11 samples), with the sample count."""
    n = len(samples)
    out = {"n": n, "p50": statistics.median(samples) if samples else None}
    if n >= 11:
        k = n - 11  # 0-based rank with exactly ten samples above it
        out["tail"] = {"pct": 100 * (k + 1) / n, "value": sorted(samples)[k]}
    return out


class Context:
    """What a workload needs from the harness: the session, the clock,
    the tracer and the JVM's /proc counters."""

    def __init__(self, args, work: Path, tracer):
        self.root = ROOT
        self.work = work
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = tracer
        self.cores = len(os.sched_getaffinity(0))
        self.workload = args.workload
        self.spark = None
        self.jvm = None

    def start_session(self):
        from codingchallenge_spark.session import build_session

        conf = {
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer.enabled:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
            }
        with self.tracer.span("session", "build_session"):
            self.spark = build_session(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{self.cores}]",
                shuffle_partitions=max(2 * self.cores, 8),
                extra_conf=conf,
            )
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.tracer.bind(sc)
        self.jvm = sc._gateway.proc
        return self.spark

    def _proc(self, name: str) -> str:
        return Path(f"/proc/{self.jvm.pid}/{name}").read_text()

    def jvm_wchar(self) -> int:
        """Bytes the Spark JVM has written (files and sockets) so far."""
        for line in self._proc("io").splitlines():
            if line.startswith("wchar:"):
                return int(line.split()[1])
        raise RuntimeError("no wchar in /proc io")

    def jvm_peak_rss_mb(self) -> float:
        for line in self._proc("status").splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM in /proc status")

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        worker daemon) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = self.jvm
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def end_to_end(out) -> dict:
    ops = out.op_s
    records = out.records_per_op * len(ops)
    return {
        "setup_s": (out.setup_s, "s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "records_per_s": (records / sum(ops), "records/s"),
        "write_bytes_per_record": (out.write_bytes / records, "B/record"),
    }


COMMON = ("jobs", "count"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB")
LAYERS = [
    "functions.normalize", "operators.blocking", "operators.scoring",
    "operators.cc", "plans.matcher", "plans.catalog_state",
    "plans.incremental", "plans.pipeline", "streaming.ingest",
    "plans.query_pack",
]
# Layers whose spans run Spark jobs on every workload: their times are
# per-layer metrics. The other layers' times are in the report line.
TIMED_LAYERS = ["operators.cc", "plans.matcher"]


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_detail(tracer, jobs: dict, cores: int) -> dict:
    """Every per-layer figure of a traced run (all phases unless named)."""
    from perfbench.trace import task_skew
    from perfbench.workloads import HEADLINE

    spans = tracer.spans
    stages = [s for s in spans if "stage" in s.attrs]

    def rows(*names: str) -> int:
        return sum(s.attrs["rows"] for s in stages if s.attrs["stage"] in names)

    def wall(pred) -> float:
        return sum(s.wall for s in spans if pred(s))

    totals = tracer.layers(jobs, cores)
    d = {layer: dict(totals.get(layer, {})) for layer in LAYERS}
    d["session"] = {"start_s": wall(lambda s: s.layer == "session")}
    d["functions.normalize"]["rows"] = rows("normalize", "catalog_norm", "normalize_delta")

    tok, sn, cand = rows("block_token"), rows("block_sn"), rows("pairs")
    skews = [
        task_skew(job["heavy_stage_tasks"])
        for s in stages if s.attrs["stage"] == "block_token"
        for job in jobs.get(s.sid, [])
    ]
    d["operators.blocking"].update(
        token_pairs=tok, sn_pairs=sn, candidate_pairs=cand,
        meta_yield=_ratio(cand, tok + sn), task_skew=max(skews, default=0.0),
    )
    scored_in = cand + rows("pairs_delta")
    score_wall = wall(lambda s: s.attrs.get("stage") in ("score", "score_delta"))
    d["operators.scoring"].update(
        pairs_per_s=_ratio(scored_in, score_wall),
        edge_yield=_ratio(rows("edges", "edges_delta"), scored_in),
    )
    ccs = [s for s in spans if s.layer == "operators.cc" and "rounds" in s.attrs]
    d["operators.cc"].update(
        calls=len(ccs),
        rounds=sum(s.attrs["rounds"] for s in ccs),
        converged=int(all(s.attrs["converged"] for s in ccs)),
    )
    state_bytes = sum(
        s.attrs.get("bytes", 0) for s in spans if s.layer == "plans.catalog_state"
    )
    d["plans.catalog_state"].update(
        postings_rows=rows("tok_index", "tok_index_cat"), write_mb=state_bytes / 2**20,
    )
    d["plans.incremental"].update(
        delta_pairs=rows("pairs_delta"), touched_rids=rows("cc_delta"),
    )
    pipe_wall = wall(lambda s: s.layer == "plans.pipeline")
    d["plans.pipeline"].update(
        driver_gap_s=d["plans.pipeline"].get("wall_s", 0.0),
        driver_gap_share=_ratio(d["plans.pipeline"].get("wall_s", 0.0), pipe_wall),
    )
    d["sources.checkpoint"] = {
        "write_mb": sum(s.attrs["bytes"] for s in stages) / 2**20,
        "files": sum(s.attrs["files"] for s in stages),
        "stages": len(stages),
    }
    ingest_wall = wall(lambda s: s.layer == "streaming.ingest")
    compaction = wall(
        lambda s: s.name == "compact_state"
        and s.parent is not None
        and s.parent.layer == "streaming.ingest"
    )
    overhead = d["streaming.ingest"].get("wall_s", 0.0)
    d["streaming.ingest"].update(
        overhead_s=overhead,
        compaction_s=compaction,
        overhead_share=_ratio(overhead, ingest_wall),
        compaction_share=_ratio(compaction, ingest_wall),
    )
    qwall = {
        q: wall(lambda s, q=q: s.layer == "plans.query_pack" and s.name == q and s.phase == "ops")
        for q in HEADLINE
    }
    pass_wall = sum(qwall.values())
    for q in HEADLINE:
        d["plans.query_pack"][f"{q}.wall_s"] = qwall[q]
        d["plans.query_pack"][f"{q}.share"] = _ratio(qwall[q], pass_wall)
    return d


def per_layer(detail: dict) -> dict:
    """The per-layer metrics of the printed result (BENCHMARK.json
    ``per_layer``): produced, with a measured value, by every workload."""
    from perfbench.workloads import HEADLINE

    m = {"session.start_s": (detail["session"]["start_s"], "s")}
    for layer in TIMED_LAYERS:
        for k in ("wall_s", "task_s", "cpu_s", "idle_s"):
            m[f"{layer}.{k}"] = (detail[layer].get(k, 0.0), "s")
    for layer in LAYERS:
        for k, unit in COMMON:
            m[f"{layer}.{k}"] = (detail[layer].get(k, 0), unit)
    extra = {
        "functions.normalize": [("rows", "count")],
        "operators.blocking": [
            ("token_pairs", "count"), ("sn_pairs", "count"),
            ("candidate_pairs", "count"), ("meta_yield", "ratio"),
            ("task_skew", "ratio"),
        ],
        "operators.scoring": [("pairs_per_s", "pairs/s"), ("edge_yield", "ratio")],
        "operators.cc": [("rounds", "count"), ("converged", "count")],
        "plans.catalog_state": [("postings_rows", "count"), ("write_mb", "MB")],
        "plans.incremental": [("delta_pairs", "count"), ("touched_rids", "count")],
        "plans.pipeline": [("driver_gap_share", "ratio")],
        "sources.checkpoint": [("write_mb", "MB"), ("files", "count")],
        "streaming.ingest": [("overhead_share", "ratio"), ("compaction_share", "ratio")],
        "plans.query_pack": [(f"{q}.share", "ratio") for q in HEADLINE],
    }
    for layer, keys in extra.items():
        for k, unit in keys:
            m[f"{layer}.{k}"] = (detail[layer][k], unit)
    return m


def cross_check(tracer) -> dict:
    """Σ stage-sink spans against Σ the engine's own stage_metrics wall_ms."""
    stages = [s for s in tracer.spans if "engine_wall_s" in s.attrs]
    spans = sum(s.wall for s in stages)
    engine = sum(s.attrs["engine_wall_s"] for s in stages)
    return {
        "stages": len(stages),
        "span_s": spans,
        "engine_s": engine,
        "rel_diff": _ratio(spans - engine, engine),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench", help="input size: bench or tiny")
    args = ap.parse_args(argv)

    if not (ROOT / "codingchallenge_spark").is_dir():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = str(ROOT)  # not perfbench/: its module names stay private
    from perfbench import trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.size not in workloads.SIZES:
        print(f"unknown size {args.size!r}", file=sys.stderr)
        return 2

    work = ROOT / WORK_DIR / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        report, metrics, attempted, failed = measure(args, work, trace, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}, default=float))
    print(json.dumps({
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def measure(args, work: Path, trace, workloads):
    """Run one workload in this process; returns (report, metrics,
    attempted, failed)."""
    env = host_env(work)
    tracer = trace.Tracer(enabled=bool(args.trace))
    if tracer.enabled:
        trace.install(tracer)
    ctx = Context(args, work, tracer)
    try:
        out = workloads.WORKLOADS[args.workload](ctx, workloads.SIZES[args.size])
        rss_mb = ctx.jvm_peak_rss_mb()
        import pyspark

        stamp = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": ctx.cores, "master": f"local[{ctx.cores}]",
            "heap": env["CCSPARK_DRIVER_MEMORY"], "local_dir": env["CCSPARK_LOCAL_DIR"],
            "spark": ctx.spark.version, "pyspark": pyspark.__version__,
            "git_commit": git_commit(), "source_sha": source_sha(),
        }
    finally:
        ctx.stop()

    attempted = len(out.op_s) + out.failed_ops + len(out.checks)
    failed = out.failed_ops + sum(not ok for ok in out.checks.values())
    report = {
        "stamp": stamp,
        "checks": out.checks,
        "op_s": percentiles(out.op_s),
        "failed_share": failed / attempted,
        # JVM peak RSS (VmHWM) follows the garbage collector's heap sizing
        # more than the workload, so it is reported here, not as a metric.
        "peak_rss_mb": rss_mb,
        "workload": out.report,
    }
    log = ROOT / WORK_DIR / f"untraced-{args.workload}-{args.size}.jsonl"
    if not out.op_s:
        return report, {}, attempted, failed
    if not tracer.enabled:
        metrics = end_to_end(out)
        with open(log, "a") as fh:
            fh.write(json.dumps({
                "seed": args.seed, "source_sha": stamp["source_sha"],
                "op_p50_s": metrics["op_p50_s"][0],
            }) + "\n")
        return report, metrics, attempted, failed

    jobs = trace.read_event_log(work / "eventlog")
    detail = layer_detail(tracer, jobs, ctx.cores)
    report["layers"] = detail
    report["layers_ops_phase"] = tracer.layers(jobs, ctx.cores, phase="ops")
    report["stage_cross_check"] = cross_check(tracer)
    # Tracing overhead: this run's median operation against the median of
    # the untraced runs of the same engine source made in this checkout.
    base = []
    if log.exists():
        for line in log.read_text().splitlines():
            rec = json.loads(line)
            if rec["source_sha"] == stamp["source_sha"]:
                base.append(rec["op_p50_s"])
    if base:
        report["trace_overhead_s"] = statistics.median(out.op_s) - statistics.median(base)
        report["trace_overhead_base_runs"] = len(base)
    return report, per_layer(detail), attempted, failed


if __name__ == "__main__":
    sys.exit(main())

"""Stage checkpoint protocol: S3/EP3 (SURVEY.md §2.1, §3).

Spec: BASELINE.json:14 — "resumable from checkpoint with per-partition
lineage + metrics … interrupted runs resume at the blocking, scoring, or
clustering stage".

A stage is DONE iff its parquet output + `_STAGE_DONE` marker exist and the
marker's fingerprint (config hash ⊕ input fingerprint chain) matches the
current run. The marker also records the per-partition lineage: rows per
output file (read from parquet footers — metadata only, no data scan) and
wall time, plus the written DataFrame's schema (``df.schema.json()``), so a
later read passes it to the parquet reader and starts no schema-inference
job (:func:`read_parquet`). Markers are JSON so humans and the resume logic
read the same artifact.

Each stage write is still the resume unit: a stage whose marker is missing
or stale is recomputed, whatever else finished. Independent stages (no
stage among each other's upstream) may be written concurrently from
:func:`run_parallel` branches; each write owns its own directory and
marker, and ``stage_metrics.jsonl`` gets one whole line per stage either
way.

Scale note: in production the run_dir lives on HDFS/S3 and stage outputs are
Iceberg tables/branches; this module keeps the protocol identical with local
parquet, and footer-based lineage costs O(#files) metadata reads, never a
data pass.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MARKER = "_STAGE_DONE"


@dataclass
class StageResult:
    stage: str
    path: str
    fingerprint: str
    rows: int
    wall_ms: int
    partitions: int
    file_rows: dict[str, int] = field(default_factory=dict)  # per-partition lineage
    skipped: bool = False
    schema: str | None = None  # df.schema.json() of the written relation


def stage_path(run_dir: str, stage: str) -> str:
    return str(Path(run_dir) / stage)


def _marker_path(run_dir: str, stage: str) -> Path:
    return Path(stage_path(run_dir, stage)) / MARKER


def _parquet_file_rows(path: str) -> dict[str, int]:
    """Per-partition lineage from parquet footers (metadata-only)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return {}
    out = {}
    for f in sorted(Path(path).glob("*.parquet")):
        out[f.name] = pq.ParquetFile(f).metadata.num_rows
    return out


def stored_bytes(path: str) -> int:
    """On-disk bytes of a stage's parquet files, from a directory listing
    (no Spark job). A path this process cannot list (an object-store URI)
    reads as 0."""
    return sum(f.stat().st_size for f in Path(path).glob("*.parquet"))


def is_done(run_dir: str, stage: str, fingerprint: str) -> bool:
    m = _marker_path(run_dir, stage)
    if not m.exists():
        return False
    try:
        meta = json.loads(m.read_text())
    except (json.JSONDecodeError, OSError):
        return False
    return meta.get("fingerprint") == fingerprint


def recorded_schema(path: str) -> StructType | None:
    m = Path(path) / MARKER
    if not m.exists():
        return None
    try:
        schema = json.loads(m.read_text()).get("schema")
    except (json.JSONDecodeError, OSError):
        return None
    return StructType.fromJson(json.loads(schema)) if schema else None


def _columns(schema: StructType) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in schema.fields}


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Read stage-written parquet with the schema its markers recorded.

    A read with a given schema starts no Spark job; an inferring read
    starts one per call to merge footers. Spark makes every file-source
    column nullable either way, so the loaded schema and plan are the same.
    Paths may order their columns differently (a norm chain unions the
    batch normalize stage with delta ones): inference reads the first
    path's footer and matches later files by name, so the first path's
    recorded schema is what inference returns. Falls back to inference when
    any path has no recorded schema (written before markers carried one, or
    not by :func:`write_stage`) or when the paths disagree on a column's
    name or type."""
    schemas = [recorded_schema(p) for p in paths]
    first = schemas[0]
    if first is None or any(
        s is None or _columns(s) != _columns(first) for s in schemas[1:]
    ):
        return spark.read.parquet(*paths)
    return spark.read.schema(first).parquet(*paths)


def load_stage(spark: SparkSession, run_dir: str, stage: str) -> DataFrame:
    return read_parquet(spark, stage_path(run_dir, stage))


def read_marker(run_dir: str, stage: str) -> dict:
    return json.loads(_marker_path(run_dir, stage).read_text())


def write_stage(
    df: DataFrame, run_dir: str, stage: str, fingerprint: str
) -> StageResult:
    """Materialize a stage: parquet + lineage + marker. The write is the
    pipeline barrier (deliberate — it IS the resume unit)."""
    path = stage_path(run_dir, stage)
    t0 = time.monotonic()
    df.write.mode("overwrite").parquet(path)
    wall_ms = int((time.monotonic() - t0) * 1000)
    file_rows = _parquet_file_rows(path)
    rows = sum(file_rows.values())
    res = StageResult(
        stage=stage,
        path=path,
        fingerprint=fingerprint,
        rows=rows,
        wall_ms=wall_ms,
        partitions=len(file_rows),
        file_rows=file_rows,
        schema=df.schema.json(),
    )
    _marker_path(run_dir, stage).write_text(json.dumps(asdict(res), indent=1))
    _append_metrics(run_dir, res)
    return res


def run_parallel(spark: SparkSession, *fns):
    """Run each zero-argument ``fn`` on its own thread; return their results
    in argument order.

    For independent stage branches: the driver spends most of a stage
    waiting on Spark jobs, so branches whose jobs do not depend on each
    other overlap instead of queueing. Each thread inherits the caller's
    Spark local properties (job group, description, tags) through
    ``inheritable_thread_target``. Every branch runs to its end before the
    first error, in argument order, is re-raised — no branch is left
    writing behind a failed call."""
    results: list = [None] * len(fns)
    errors: list[BaseException | None] = [None] * len(fns)

    def branch(i: int) -> None:
        try:
            results[i] = fns[i]()
        except BaseException as e:  # re-raised in the calling thread below
            errors[i] = e

    # One wrapper per thread: each wrapper clones the caller's local
    # properties, and a clone shared between threads would let one branch's
    # setJobGroup leak into the other.
    threads = [
        threading.Thread(
            target=inheritable_thread_target(spark)(branch), args=(i,),
            name=f"stage-branch-{i}",
        )
        for i in range(len(fns))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results


def _append_metrics(run_dir: str, res: StageResult) -> None:
    line = json.dumps(
        {
            "stage": res.stage,
            "rows": res.rows,
            "wall_ms": res.wall_ms,
            "partitions": res.partitions,
            "skipped": res.skipped,
        }
    )
    with open(Path(run_dir) / "stage_metrics.jsonl", "a") as f:
        f.write(line + "\n")


def record_skip(run_dir: str, stage: str, fingerprint: str) -> StageResult:
    meta = read_marker(run_dir, stage)
    res = StageResult(
        stage=stage,
        path=stage_path(run_dir, stage),
        fingerprint=fingerprint,
        rows=meta.get("rows", -1),
        wall_ms=0,
        partitions=meta.get("partitions", -1),
        skipped=True,
    )
    _append_metrics(run_dir, res)
    return res

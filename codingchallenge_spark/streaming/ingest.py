"""Structured Streaming ingest adapter over the staged delta pipeline (G9).

Spec position: BASELINE.json describes a BATCH pipeline, and SURVEY.md §1
scopes streaming out of the required surface — but BASELINE.json:6's
10^12-file clause is exactly the continuous-arrival regime Structured
Streaming's file source models. This module is therefore an ADAPTER, not a
new engine: each micro-batch is handed via ``foreachBatch`` to
``plans.pipeline.run_delta_pipeline`` — the same fingerprinted, staged,
delta-proportional path the ``--delta`` CLI runs. Nothing here re-implements
any pipeline semantics; every correctness property (never-split,
bridge-merge, idempotent re-ingest, batch-refines-incremental) is inherited
from the delta pipeline's own tests.

Exactly-once story (the part worth reading):

- Spark's streaming checkpoint (``out_dir/_stream_checkpoint``) tracks
  file-source offsets, so each landed file enters exactly one micro-batch.
- ``foreachBatch`` itself is at-least-once: after a failure the LAST
  uncommitted batch is replayed with the same ``batch_id``. Replays are safe
  twice over: (a) each batch's run_dir is keyed by ``batch_id`` AND the
  micro-batch's input-file set (the digest rides the stage fingerprints and
  the catalog pointer), and runs with ``resume=True`` — so a replay of a
  half-finished batch resumes its staged suffix instead of recomputing;
  (b) a replay of a batch that already COMPLETED is detected by the catalog
  pointer (``out_dir/CURRENT`` already names that batch's run_dir with the
  same file digest) and returns as a no-op — re-running it against its own
  output would make the delta pipeline read and rewrite the same sinks.
- The pointer advances by atomic replace only after the batch's run
  completes, so a crash between run completion and offset commit leaves a
  consistent chain (the replay hits the no-op branch above).
- The failure mode the keying exists for: deleting and recreating the
  streaming checkpoint against a REUSED out_dir restarts batch numbering at
  0 over new files. Both collision shapes are detected and REFUSED loudly
  (pointer digest mismatch; per-run_dir ``INGEST_ID`` sentinel mismatch)
  instead of silently serving a stale batch's results or corrupting the
  normalize chain — reprocessing needs a fresh ``out_dir``.

Per-batch work AND writes are delta-proportional: the catalog pointer names
a run_dir carrying persisted catalog state (plans.catalog_state — reused
normalize chain, token postings, materialized SN key index, labels
overlay chain), measured FLAT across a 10× catalog in BENCH/BASELINE.md.
Each batch runs ``emit="delta"`` (VERDICT r04 #3): it writes its upsert set
(entities_delta), its touched-label element (cc_delta — the labels chain
element the NEXT batch's ``labels_old`` resolves through), its
normalize-delta, and its touched-bucket index element — all delta-sized;
the full corpus is never rewritten per batch. The full resolved view is
available on demand via ``plans.pipeline.current_entities`` (a lazy read
paid by the consumer who asks for it). Disk and chain growth are bounded
twice, by one rule: a superseded run_dir keeps only the sinks that CURRENT's
state manifest still references (plans.catalog_state.manifest_paths) —
:func:`prune_superseded` applies it after each batch, and every
``compact_every`` batches plans.catalog_state.compact_state writes a compact
dir, CURRENT is repointed at it, and the rule is applied to every older
batch and compact dir. Compaction is size-tiered: it folds a chain only
once the chain's tail has grown to a fixed fraction of its base and
otherwise re-references the existing elements, so a compact dir may point
into older batch dirs (and into the catalog run_dir the stream started
from) until their chain folds.

Production shape: the source directory is an object-store landing zone (or
an Iceberg table scanned as a stream); ``maxFilesPerTrigger`` bounds
per-batch delta size; ``availableNow`` gives catch-up-then-stop semantics
for scheduled ingest, omit it for a continuously running query.
"""

from __future__ import annotations

import hashlib
import re
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codingchallenge_spark.plans import catalog_state as cstate
from codingchallenge_spark.plans.matcher import MatcherConfig
from codingchallenge_spark.plans.pipeline import run_delta_pipeline
from codingchallenge_spark.sources.records import INPUT_COLUMNS, RECORDS_SCHEMA

CURRENT_POINTER = "CURRENT"
INGEST_ID_FILE = "INGEST_ID"


def _pointer_path(out_dir: str) -> Path:
    return Path(out_dir) / CURRENT_POINTER


def _read_pointer_full(
    out_dir: str,
) -> tuple[str | None, str | None, int, int]:
    """(run_dir, input-file digest, pruned-upto watermark, last batch id)
    of the newest completed batch. The watermark is the highest batch id
    whose superseded sinks have already been pruned (−1 before any pruning)
    — it bounds :func:`prune_superseded` to the ids landed since the last
    prune. The last batch id survives a compaction repoint (the run_dir then
    names a compact dir, not a batch dir) so replays of already-committed
    batches stay detectable."""
    p = _pointer_path(out_dir)
    if not p.exists():
        return None, None, -1, -1
    lines = p.read_text().splitlines()
    run_dir = lines[0].strip() if lines else ""
    digest = lines[1].strip() if len(lines) > 1 else None

    def _int(i: int) -> int:
        try:
            return int(lines[i]) if len(lines) > i else -1
        except ValueError:
            return -1

    return (run_dir or None), (digest or None), _int(2), _int(3)


def read_pointer(out_dir: str) -> str | None:
    """The run_dir of the most recently completed batch, or None."""
    return _read_pointer_full(out_dir)[0]


def _advance_pointer(
    out_dir: str,
    run_dir: str,
    digest: str,
    pruned_upto: int = -1,
    last_batch_id: int = -1,
) -> None:
    """Atomically repoint CURRENT at a completed batch's run_dir (or a
    compacted state dir, keeping the completed batch id on record)."""
    p = _pointer_path(out_dir)
    tmp = p.with_suffix(".tmp")
    tmp.write_text(f"{run_dir}\n{digest}\n{pruned_upto}\n{last_batch_id}\n")
    tmp.replace(p)


def _batch_id_of(name: str) -> int | None:
    """Numeric batch id from a run_dir name. Parsed, never compared
    lexicographically: ``batch-1000000`` sorts BEFORE ``batch-999999`` as a
    string once the %06d padding overflows — reachable under
    maxFilesPerTrigger=1 at the 10^12-file framing."""
    m = re.fullmatch(r"batch-(\d+)", name)
    return int(m.group(1)) if m else None


def _file_digest(batch_df: DataFrame) -> str:
    """Deterministic identity of the micro-batch's input-file set (empty
    for non-file-backed frames, e.g. direct test drives — still stable
    across replays of the same frame)."""
    files = sorted(batch_df.inputFiles())
    return hashlib.md5("\n".join(files).encode()).hexdigest()


def _drop_unreferenced(
    d: Path, live: set[Path], keep: str | None = None
) -> list[str]:
    """Delete each child of the superseded run_dir ``d`` that no path in
    ``live`` lies under, except the child named ``keep``; remove ``d`` once
    it is empty. Returns the deleted paths."""
    dropped = []
    for child in d.iterdir():
        if child.name == keep or any(
            p == child or child in p.parents for p in live
        ):
            continue
        shutil.rmtree(child) if child.is_dir() else child.unlink()
        dropped.append(str(child))
    if not any(d.iterdir()):
        d.rmdir()
    return dropped


def _live_paths(run_dir: str) -> set[Path]:
    return {Path(p).resolve() for p in cstate.manifest_paths(run_dir)}


def prune_superseded(
    out_dir: str, current_run_dir: str, watermark: int = -1
) -> list[str]:
    """Strip superseded batch run_dirs down to the sinks CURRENT's state
    manifest still references, and their sentinel.

    Every batch dir older than CURRENT is offset-committed (its successor
    only started after its offsets committed) and can never be replayed;
    nothing reads its entities/pairs/score/cc/state sinks again. The chain
    elements it wrote (normalize_delta, sn_index, tok_index, cc_delta) ARE
    still read while ``current_run_dir``'s manifest lists them, so they
    survive, and so does the sentinel. Returns the pruned paths.

    Cost is O(1) amortized per batch, not O(#batches): ids are visited
    numerically from ``watermark + 1`` (the pointer's pruned-upto line, so
    each id is visited once over the stream's lifetime) with run_dir names
    reconstructed directly — no directory glob, no lexicographic compare
    (see :func:`_batch_id_of` for why string order breaks at id ≥ 10^6).
    Batch ids are assigned consecutively by the streaming engine; ids that
    never made a run_dir (empty batches) cost one stat each, once ever.
    """
    cur_id = _batch_id_of(Path(current_run_dir).name)
    if cur_id is None:
        return []
    live = _live_paths(current_run_dir)
    pruned = []
    for bid in range(max(watermark + 1, 0), cur_id):
        d = Path(out_dir) / f"batch-{bid:06d}"
        if d.is_dir():
            pruned += _drop_unreferenced(d, live, keep=INGEST_ID_FILE)
    return pruned


def _delete_superseded(out_root: str, compact_dir: str, batch_id: int) -> None:
    """Apply the reference rule to every batch and compact dir the compact
    dir ``compact_dir`` (CURRENT, written after batch ``batch_id``)
    supersedes. Batch ``batch_id`` keeps its sentinel for replay detection
    until its offsets commit; older dirs keep only referenced sinks and are
    removed once nothing in them is."""
    live = _live_paths(compact_dir)
    for d in Path(out_root).iterdir():
        m = re.fullmatch(r"(batch|compact)-(\d+)", d.name)
        if (
            not m or not d.is_dir() or str(d) == compact_dir
            or int(m.group(2)) > batch_id
        ):
            continue
        triggering = d.name == f"batch-{batch_id:06d}"
        _drop_unreferenced(d, live, keep=INGEST_ID_FILE if triggering else None)


def _compact_and_clean(
    spark: SparkSession,
    out_root: str,
    run_dir: str,
    batch_id: int,
    digest: str,
    cfg: MatcherConfig | None,
) -> str:
    """Compact the state into a fresh compact dir, repoint CURRENT at it,
    and delete what it supersedes.

    Runs AFTER batch ``batch_id``'s pointer advance (so a crash mid-compact
    leaves a consistent batch-run_dir pointer) and before its offsets commit
    (a replay after the repoint hits the sentinel-verified no-op branch in
    :func:`ingest_batch`). Compaction folds only the chains whose tail has
    grown and re-references the rest, so the compact dir's manifest may
    still name sinks of older batch and compact dirs: only sinks it does
    not reference are deleted (:func:`_delete_superseded`). A crash between
    the repoint and the deletion leaves extra files, never a missing one;
    the next compaction deletes them. With ``cfg`` None the state keeps its
    own bucket counts.
    """
    compact_dir = str(Path(out_root) / f"compact-{batch_id:06d}")
    cstate.compact_state(
        spark, run_dir, compact_dir,
        num_buckets=cfg.sn_buckets if cfg is not None else None,
    )
    _advance_pointer(
        out_root, compact_dir, digest,
        pruned_upto=batch_id, last_batch_id=batch_id,
    )
    _delete_superseded(out_root, compact_dir, batch_id)
    return compact_dir


def ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    catalog_run_dir: str,
    cfg: MatcherConfig | None = None,
    compact_every: int | None = None,
) -> dict:
    """One micro-batch: link ``batch_df`` against the current catalog chain.

    This is the ``foreachBatch`` body, factored out so tests (and manual
    backfills) can drive it without a streaming query. Returns a summary
    dict; the replay/refusal branches are documented in the module
    docstring. ``compact_every``: fold the state chains and delete
    superseded batch dirs after every Nth batch (None = never — an external
    scheduled compaction then bounds the chains instead).
    """
    out_root = str(Path(out_dir).resolve())
    run_dir = str(Path(out_root) / f"batch-{batch_id:06d}")
    digest = _file_digest(batch_df)
    ptr_run, ptr_digest, watermark, last_bid = _read_pointer_full(out_root)
    if ptr_run == run_dir:
        if ptr_digest in (None, digest):
            # Replay of a batch whose pointer already advanced: its rows are
            # in the catalog; running would read and rewrite this run_dir's
            # own stage sinks. The idempotent anti-join would make it a
            # no-op anyway — skip the work entirely.
            return {
                "batch_id": batch_id, "run_dir": run_dir, "replay_noop": True
            }
        raise ValueError(
            f"batch {batch_id} already completed in {out_root!r} with a "
            "DIFFERENT input-file set — the streaming checkpoint was "
            "recreated over a used out_dir. Reprocess into a fresh "
            "--out-dir (or restore the original checkpoint)."
        )
    if batch_id <= last_bid:
        # The pointer moved PAST this batch id (a compaction repointed
        # CURRENT at a compact dir after this batch completed). Genuine
        # replay iff this batch's sentinel recorded the same (batch, files)
        # identity — the sentinel's input_id suffix is pointer-independent.
        sent = Path(run_dir) / INGEST_ID_FILE
        if sent.exists() and sent.read_text().strip().endswith(
            f"|batch:{batch_id}|files:{digest}"
        ):
            return {
                "batch_id": batch_id, "run_dir": run_dir, "replay_noop": True
            }
        raise ValueError(
            f"batch {batch_id} is at or below the committed batch id "
            f"{last_bid} in {out_root!r} but does not match its recorded "
            "identity — the streaming checkpoint was recreated over a used "
            "out_dir. Reprocess into a fresh --out-dir."
        )
    delta = batch_df.select(*INPUT_COLUMNS)
    # One delta-sized aggregate pass, one collected row: the row count
    # answers emptiness, the per-column counts feed the refusals below.
    stats = delta.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.count(c).alias(f"_n_{c}") for c in INPUT_COLUMNS],
    ).collect()[0]
    if stats["_n"] == 0:
        # File source can hand an empty batch (e.g. an empty landed file);
        # don't burn a run_dir or chain an empty normalize path for it.
        return {"batch_id": batch_id, "run_dir": None, "empty": True}

    current = ptr_run or str(Path(catalog_run_dir).resolve())
    input_id = f"stream:{current}|batch:{batch_id}|files:{digest}"
    sentinel = Path(run_dir) / INGEST_ID_FILE
    if sentinel.exists() and sentinel.read_text().strip() != input_id:
        # Same restart-numbering collision as above, caught before the
        # pointer reaches this batch: rebuilding the run_dir in place would
        # corrupt the normalize chain that later states reference.
        raise ValueError(
            f"{run_dir!r} holds a prior ingest with a different identity — "
            "the streaming checkpoint was recreated over a used out_dir. "
            "Reprocess into a fresh --out-dir."
        )

    # Fail-loud parity with sources.records.read_records' missing-column
    # check: the streaming schema fills columns absent from a landed file
    # with nulls. Two shapes are refused BEFORE the file's offsets commit
    # (from the aggregate above):
    # - a null in an IDENTITY column (repo/path/commit — the rid inputs):
    #   normalize would mint a rid from a partial key, silently mislinking;
    # - a column that is null on EVERY row of a non-empty batch — the
    #   signature of a landed file missing that column entirely.
    # A null (or empty) content value on SOME rows is NOT refused: the batch
    # path deliberately drops such rows (functions.normalize
    # normalize_records), and the same file ingested via --delta would
    # succeed — a stream must not wedge forever replaying what batch
    # tolerates. Empty-string content likewise follows batch drop semantics
    # (the null check can't see it, and doesn't need to).
    id_cols = ("repo", "path", "commit")
    bad_id = [c for c in id_cols if stats[f"_n_{c}"] < stats["_n"]]
    if bad_id:
        raise ValueError(
            f"batch {batch_id}: rows with null identity columns {bad_id} "
            "(the record-id inputs) — a landed file is malformed; refusing "
            "to commit its offsets"
        )
    all_null = [
        c for c in INPUT_COLUMNS
        if c not in id_cols and stats[f"_n_{c}"] == 0
    ]
    if all_null:
        raise ValueError(
            f"batch {batch_id}: columns {all_null} are entirely null — a "
            "landed file is missing them; refusing to commit its offsets"
        )

    state = cstate.load_catalog_state(spark, current)
    Path(run_dir).mkdir(parents=True, exist_ok=True)
    sentinel.write_text(input_id + "\n")
    run = run_delta_pipeline(
        spark,
        None,  # prior labels come from the state's labels chain
        delta,
        run_dir,
        cfg,
        input_id=input_id,
        resume=True,  # replays of half-finished batches resume the suffix
        state=state,
        emit="delta",  # every per-batch write is delta-sized (VERDICT r04 #3)
    )
    _advance_pointer(
        out_root, run_dir, digest,
        pruned_upto=watermark, last_batch_id=batch_id,
    )
    pruned = prune_superseded(out_root, run_dir, watermark=watermark)
    if batch_id - 1 > watermark:
        _advance_pointer(
            out_root, run_dir, digest,
            pruned_upto=batch_id - 1, last_batch_id=batch_id,
        )
    compacted = None
    if compact_every and (batch_id + 1) % compact_every == 0:
        compacted = _compact_and_clean(
            spark, out_root, run_dir, batch_id, digest, cfg
        )
    return {
        "batch_id": batch_id,
        "run_dir": run_dir,
        "executed": run.executed,
        "skipped": run.skipped,
        "pruned": len(pruned),
        "compacted": compacted,
    }


def start_stream_ingest(
    spark: SparkSession,
    source_path: str,
    catalog_run_dir: str,
    out_dir: str,
    cfg: MatcherConfig | None = None,
    *,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
    compact_every: int | None = None,
):
    """Start the streaming ingest query; returns the StreamingQuery.

    ``catalog_run_dir`` must be a completed pipeline run_dir with persisted
    catalog state (any batch ``run_pipeline`` run, or a prior maintained
    delta run) — the chain grows from there, one run_dir per micro-batch
    under ``out_dir``, with ``out_dir/CURRENT`` always naming the newest.

    Restarting with the same ``out_dir`` resumes: the streaming checkpoint
    skips already-committed files, and the pointer carries the catalog chain
    forward across query restarts. A state the first batch could not load
    (an older layout, catalog_state.read_manifest) is refused before the
    query starts.
    """
    out_root = str(Path(out_dir).resolve())
    if not cstate.has_state(catalog_run_dir):
        raise ValueError(
            f"{catalog_run_dir!r} carries no persisted catalog state "
            "(state.json); run the batch pipeline first"
        )
    cstate.read_manifest(read_pointer(out_root) or catalog_run_dir)
    Path(out_root).mkdir(parents=True, exist_ok=True)

    reader = spark.readStream.schema(RECORDS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path).select(
        # same explicit projection as sources.records.read_records; the
        # missing-column fail-loud check runs per batch in ingest_batch
        [F.col(c).cast("string").alias(c) for c in INPUT_COLUMNS]
    )

    def _on_batch(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(
            spark, batch_df, batch_id, out_root, catalog_run_dir, cfg,
            compact_every=compact_every,
        )

    writer = (
        stream.writeStream.foreachBatch(_on_batch)
        .option("checkpointLocation", str(Path(out_root) / "_stream_checkpoint"))
        .queryName("ccspark-stream-ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

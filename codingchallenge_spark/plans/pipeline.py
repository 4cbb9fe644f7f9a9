"""Production pipeline: checkpointed, resumable stage graph (EP1/EP3).

Spec: BASELINE.json:6/14 — the pipeline "ships as spark-submit --py-files
modules" and "interrupted runs resume at the blocking, scoring, or clustering
stage". The stage graphs are not defined here: the batch graph is
plans.matcher's, the delta graph plans.incremental's and the catalog-state
derivation plans.catalog_state's — the in-memory plans run the same graphs.
This module supplies the parquet sink (``_StageRunner``), CC's resumable
form, and the state manifests. Batch graph (``║`` marks branches that run
concurrently, sources.checkpoint.run_parallel):

    normalize ─┬→ ┌ block_token ┐
               │  ║             ├→ pairs → score → edges → cc → entities
               │  └ block_sn ───┘
               ║
               └→ sn_index, tok_index  (catalog state)
    → state.json (chains + the sn bounds rows), once both branches are
      written

Every stage materializes to ``run_dir/<stage>/`` with a fingerprinted
``_STAGE_DONE`` marker (sources/checkpoint.py). The driver mostly waits on
Spark jobs, so stages that do not depend on each other are written from
separate threads; ``PipelineRun.executed``/``skipped`` still list stages in
the declared order (``STAGES``). On --resume, stages whose
fingerprint matches are loaded, not recomputed; a fingerprint is the sha256
of (config json ⊕ input id ⊕ upstream fingerprint), so changing any upstream
config invalidates exactly the downstream suffix. The CC stage additionally
checkpoints each iteration's edge set under run_dir/cc_iters and resumes
mid-iteration-sequence.

Column discipline at scale: ``content`` (the wide column) exists only in the
normalize output and the final entities join — blocking/scoring/cc stages
carry (rid, name_norm, th) at most; ``th`` stores each token once, as its
64-bit hash, the key of token blocking, the postings and the Jaccard.
"""

from __future__ import annotations

import hashlib
import json
import logging
import re
from dataclasses import asdict, dataclass, replace
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from codingchallenge_spark.operators.cc import connected_components
from codingchallenge_spark.plans import catalog_state as cstate
from codingchallenge_spark.plans.matcher import (
    MatcherConfig,
    emit_entities,
    matching_stages,
    normalize_stage,
)
from codingchallenge_spark.sources import checkpoint as ckpt

log = logging.getLogger(__name__)

STAGES = [
    "normalize",
    "block_token",
    "block_sn",
    "pairs",
    "score",
    "edges",
    "cc",
    "entities",
    # catalog-state sinks consumed by --delta runs (plans.catalog_state)
    "sn_index",
    "tok_index",
]

DELTA_STAGES = [
    "normalize_delta",
    "sn_index",
    "pairs_delta",
    "score_delta",
    "edges_delta",
    "cc_delta",
    "entities_delta",
]

# The declared order of every stage a delta run can write: the in-run
# catalog derivation, the delta chain (its sn-index stage first), then the
# postings maintenance.
_DELTA_ORDER = [
    "catalog_norm",
    "sn_index_cat",
    "tok_index_cat",
    "labels_cat",
    *DELTA_STAGES,
    "tok_index",
]


@dataclass
class PipelineRun:
    entities: DataFrame
    executed: list[str]
    skipped: list[str]
    run_dir: str


# Marker that older delta-EMIT runs wrote when they maintained no state
# manifest (the manifest records emit itself). Every delta run now writes a
# manifest, but such run_dirs still exist and their entities_delta holds the
# upsert set, not the catalog (ADVICE r04 — a partial sink must never be
# silently consumable as a full one).
EMIT_DELTA_MARKER = "EMIT_DELTA"


def _is_delta_emit(run_dir: str) -> bool:
    return (
        cstate.manifest_emit(run_dir) == "delta"
        or (Path(run_dir) / EMIT_DELTA_MARKER).exists()
    )


def catalog_entities_path(run_dir: str) -> str:
    """The completed FULL entities sink inside a pipeline run_dir.

    Shared by the ``--delta`` CLI and the streaming ingest adapter so the
    fallback order can never drift: a delta run writes ``entities_delta``,
    a batch run ``entities``. A run_dir whose entities_delta is an
    ``emit="delta"`` upsert set (recorded in state.json / the EMIT_DELTA
    marker) is REFUSED — its partial sink would silently drop every
    untouched catalog row (ADVICE r04); read :func:`current_entities`
    instead, which reconstructs the full view from the state chains.
    """
    for ent in ("entities_delta", "entities"):
        if (Path(run_dir) / ent / "_STAGE_DONE").exists():
            if ent == "entities_delta" and _is_delta_emit(run_dir):
                raise ValueError(
                    f"{run_dir!r} was emitted with emit='delta': its "
                    "entities_delta holds only the upsert set, not the "
                    "catalog. Use current_entities(spark, run_dir) for the "
                    "full resolved view (or delta_entities_path for the "
                    "upsert set)."
                )
            return str(Path(run_dir) / ent)
    raise ValueError(
        f"{run_dir!r} holds no completed entities stage; it is not a "
        "resolved catalog run_dir"
    )


def delta_entities_path(run_dir: str) -> str:
    """The per-run upsert sink (whatever the emit mode wrote there)."""
    p = Path(run_dir) / "entities_delta"
    if not (p / "_STAGE_DONE").exists():
        raise ValueError(f"{run_dir!r} holds no completed entities_delta stage")
    return str(p)


def current_entities(spark: SparkSession, run_dir: str) -> DataFrame:
    """The FULL resolved entities view of a run_dir, independent of emit
    mode: a full-emit run's persisted entities sink, else (delta-emit run or
    compacted state dir) the reconstruction ``emit_entities(norm chain,
    resolved labels chain)`` — a lazy corpus-sized READ for the consumer who
    asks for the whole catalog, paid by that consumer only; per-batch writes
    stay delta-sized (VERDICT r04 #3)."""
    if cstate.has_state(run_dir):
        full_sink_ok = not _is_delta_emit(run_dir) and (
            (Path(run_dir) / "entities" / "_STAGE_DONE").exists()
            or (Path(run_dir) / "entities_delta" / "_STAGE_DONE").exists()
        )
        if not full_sink_ok:
            state = cstate.load_catalog_state(spark, run_dir)
            return emit_entities(state.norm, state.labels)
    return ckpt.read_parquet(spark, catalog_entities_path(run_dir))


# Bump whenever any stage's OUTPUT SCHEMA or on-disk semantics change: the
# token is folded into every stage fingerprint, so --resume against a run_dir
# written by older code rebuilds instead of loading a stale-schema checkpoint
# (v6: the normalize stages store each token once, as its hash ``th``).
PIPELINE_SCHEMA_VERSION = 6


def _fingerprint(cfg: MatcherConfig, input_id: str, upstream: str, stage: str) -> str:
    payload = json.dumps(
        {
            "cfg": asdict(cfg),
            "input": input_id,
            "up": upstream,
            "stage": stage,
            "schema_version": PIPELINE_SCHEMA_VERSION,
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()


def _resume_cc_iter_dir(run_dir: str) -> str:
    return str(Path(run_dir) / "cc_iters")


def _latest_cc_iteration(iter_dir: str) -> tuple[int, str | None]:
    best, path = 0, None
    for p in sorted(Path(iter_dir).glob("edges_iter_*.parquet")):
        if not (p / "_SUCCESS").exists():
            continue
        m = re.match(r"edges_iter_(\d+)\.parquet", p.name)
        if m and int(m.group(1)) > best:
            best, path = int(m.group(1)), str(p)
    return best, path


class _StageRunner:
    """The parquet stage sink: the fingerprinted execute-or-skip protocol
    the batch and delta graphs run through (plans.matcher's in-memory sink
    is the other one). ``stage`` may be called from concurrent branches:
    ``executed``/``skipped`` are reported in ``order`` (the graph's declared
    stage order), not completion order."""

    def __init__(
        self,
        spark: SparkSession,
        run_dir: str,
        cfg: MatcherConfig,
        input_id: str,
        resume: bool,
        order: list[str],
    ):
        self.spark = spark
        self.run_dir = run_dir
        self.cfg = cfg
        self.input_id = input_id
        self.resume = resume
        self.order = order
        self._executed: list[str] = []
        self._skipped: list[str] = []
        self.fps: dict[str, str] = {}

    @property
    def executed(self) -> list[str]:
        return sorted(self._executed, key=self.order.index)

    @property
    def skipped(self) -> list[str]:
        return sorted(self._skipped, key=self.order.index)

    def stage(self, name: str, upstream: list[str], build) -> DataFrame:
        up_fp = "|".join(self.fps[u] for u in upstream)
        fp = _fingerprint(self.cfg, self.input_id, up_fp, name)
        self.fps[name] = fp
        if self.resume and ckpt.is_done(self.run_dir, name, fp):
            ckpt.record_skip(self.run_dir, name, fp)
            self._skipped.append(name)
        else:
            ckpt.write_stage(build(), self.run_dir, name, fp)
            self._executed.append(name)
        return ckpt.load_stage(self.spark, self.run_dir, name)


def run_pipeline(
    spark: SparkSession,
    records: DataFrame,
    run_dir: str,
    cfg: MatcherConfig | None = None,
    input_id: str = "",
    resume: bool = False,
) -> PipelineRun:
    """Execute (or resume) the full record-linkage pipeline: the batch graph
    of plans.matcher and the catalog-state builder of plans.catalog_state,
    run through the parquet sink."""
    cfg = cfg or MatcherConfig()
    Path(run_dir).mkdir(parents=True, exist_ok=True)
    runner = _StageRunner(spark, run_dir, cfg, input_id, resume, STAGES)
    stage, fps = runner.stage, runner.fps

    norm = normalize_stage(stage, records)

    def build_cc(edges: DataFrame, nodes: DataFrame) -> DataFrame:
        iter_dir = _resume_cc_iter_dir(run_dir)
        Path(iter_dir).mkdir(parents=True, exist_ok=True)
        # cc_iters must belong to THIS edge set: the directory is stamped
        # with the edges-stage fingerprint (which folds config, input, the
        # whole upstream chain and the schema version). A stale stamp means
        # the files were written by an older run — e.g. a pre-binary-rid
        # schema, or a config whose CC converged in fewer rounds, leaving
        # higher-numbered iter files a later interrupted resume would
        # otherwise prefer over the real latest round — so they are wiped
        # before anything can seed from them.
        stamp = Path(iter_dir) / "_EDGES_FP"
        expected = fps["edges"]
        if not stamp.exists() or stamp.read_text().strip() != expected:
            import shutil

            for p in Path(iter_dir).iterdir():
                shutil.rmtree(p) if p.is_dir() else p.unlink()
            stamp.write_text(expected)
        # Mid-iteration resume is only sound when the edge set is unchanged
        # (edges stage was skipped under the same fingerprint — and, via the
        # stamp above, the surviving iter files provably came from it).
        latest = None
        if resume and "edges" in runner.skipped:
            _, latest = _latest_cc_iteration(iter_dir)
        seed_edges = spark.read.parquet(latest) if latest else edges
        res = connected_components(
            seed_edges,
            nodes=nodes,
            max_iterations=cfg.cc_max_iterations,
            iter_dir=iter_dir,
        )
        return res.labels

    # Both sides read only the normalize stage. The catalog state is what
    # a --delta run needs to stay delta-proportional; its bounds are
    # collected from the PERSISTED index, so both describe one
    # materialization.
    entities, state = ckpt.run_parallel(
        spark, lambda: matching_stages(stage, norm, cfg, cc=build_cc),
        lambda: cstate.derive_catalog_state(stage, norm, cfg),
    )
    cstate.write_state_manifest(
        run_dir,
        norm_paths=[ckpt.stage_path(run_dir, "normalize")],
        sn_chain=[
            {"path": ckpt.stage_path(run_dir, "sn_index"), "buckets": None}
        ],
        sn_bounds=state.sn_bounds,
        # The cc stage IS the labels base: binary (rid, entity_id) for every
        # catalog rid — the labels overlay chain grows from it, one
        # delta-sized upsert element per maintained delta run.
        labels_chain=[ckpt.stage_path(run_dir, "cc")],
        tok_chain=[ckpt.stage_path(run_dir, "tok_index")],
        tok_buckets=state.tok_buckets,
    )
    return PipelineRun(
        entities=entities,
        executed=runner.executed,
        skipped=runner.skipped,
        run_dir=run_dir,
    )


def run_delta_pipeline(
    spark: SparkSession,
    catalog: DataFrame | None,
    delta_records: DataFrame,
    run_dir: str,
    cfg: MatcherConfig | None = None,
    input_id: str = "",
    resume: bool = False,
    state: "cstate.CatalogState | None" = None,
    emit: str = "full",
) -> PipelineRun:
    """Checkpointed, resumable INCREMENTAL pipeline: the delta graph of
    plans.incremental run through the same parquet sink as the batch run,
    plus the maintenance of the catalog state.

    Stage graph (each a fingerprinted parquet sink; an interrupted ingest
    resumes after the last completed stage; ``║`` marks branches that run
    concurrently, sources.checkpoint.run_parallel):

        [catalog_norm → sn_index_cat, tok_index_cat, labels_cat]
                                  (only when no persisted state is passed —
                                   plans.catalog_state builds one in-run)
        normalize_delta ─┬→ sn_index ─────────┬→ pairs_delta
                         │  ║ token pass (tbs) ─┘
                         │  → score_delta → edges_delta → cc_delta
                         │  → entities_delta
                         ║
                         └→ tok_index  (the delta's postings, unsorted)
        → state.json (chains + the new sn bounds rows), once both branches
          are written

    The run_dir becomes a valid catalog state for the NEXT delta (norm
    chain = catalog paths + this delta's). The delta SN pass reads its
    pairs off the merged index, so sn_index sits upstream of pairs_delta,
    and the new bounds are computed on the driver from its output; the
    token pass's bucket collect overlaps the merge. The postings
    branch reads only normalize_delta, and its stage is not consumed by the
    delta chain, so the two overlap; the manifest
    is written only after both succeed, so a failure on either side leaves
    no state.json and a ``resume=True`` rerun completes it.

    ``input_id`` must identify BOTH the catalog and the delta (the CLI folds
    both paths; the emit mode is folded here) so fingerprints invalidate
    when either side changes. ``catalog`` is the prior entities table (rid,
    entity_id + record columns) — pass ``None`` when ``state`` carries a labels chain
    (load_catalog_state): the prior labels come from the chain, which is
    what makes an ``emit="delta"`` run_dir chainable (its partial entities
    sink is never consulted — VERDICT r04 #3 / ADVICE r04).
    """
    from codingchallenge_spark.plans import incremental as inc

    cfg = cfg or MatcherConfig()
    Path(run_dir).mkdir(parents=True, exist_ok=True)
    runner = _StageRunner(
        spark, run_dir, cfg, f"{input_id}|emit={emit}", resume,
        _DELTA_ORDER,
    )
    stage = runner.stage
    derived = state is None
    state = inc.catalog_side(stage, state, catalog, cfg, "run_delta_pipeline")
    if derived:
        # The in-run derivation is checkpointed: the corpus-proportional
        # pass is paid once per catalog (resume skips it), and the run_dir
        # then carries a reusable state.
        state = replace(
            state,
            norm_paths=[ckpt.stage_path(run_dir, "catalog_norm")],
            sn_chain=[
                {
                    "path": ckpt.stage_path(run_dir, "sn_index_cat"),
                    "buckets": None,
                }
            ],
            labels_chain=[ckpt.stage_path(run_dir, "labels_cat")],
            tok_chain=[ckpt.stage_path(run_dir, "tok_index_cat")],
        )
    if not (state.sn_chain and state.labels_chain and state.tok_chain):
        raise ValueError(
            "run_delta_pipeline maintains the catalog state and needs a "
            "parquet-backed one (state.sn_chain, labels_chain, tok_chain) — "
            "pass state from load_catalog_state / a prior run_dir"
        )

    norm_delta = inc.normalize_delta_stage(stage, state, delta_records)

    # The postings branch depends only on normalize_delta and the state:
    # APPEND-ONLY maintenance, the delta's own postings become a
    # delta-sized chain element and no catalog posting is ever rewritten.
    # The delta graph maintains the sn index itself.
    (entities, sn_update), _ = ckpt.run_parallel(
        spark,
        lambda: inc.delta_stages(stage, state, norm_delta, cfg, emit=emit),
        lambda: stage(
            "tok_index",
            ["normalize_delta"],
            lambda: cstate.build_tok_postings(norm_delta, state.tok_buckets),
        ),
    )
    log.debug(
        "delta run %s: %d delta edges into cc_delta",
        run_dir, ckpt.read_marker(run_dir, "edges_delta")["rows"],
    )
    # Bucket-local maintenance (VERDICT r04 #2): the sn_index stage holds
    # ONLY the merged touched buckets; untouched buckets stay in the prior
    # chain elements (manifest sn_chain, latest-covering wins). An element
    # touching every bucket is the new base.
    element = ckpt.stage_path(run_dir, "sn_index")
    if len(sn_update.touched) == len(sn_update.bounds):
        sn_chain_next = [{"path": element, "buckets": None}]
    else:
        sn_chain_next = list(state.sn_chain) + [
            {"path": element, "buckets": sn_update.touched}
        ]
    cstate.write_state_manifest(
        run_dir,
        norm_paths=state.norm_paths
        + [ckpt.stage_path(run_dir, "normalize_delta")],
        sn_chain=sn_chain_next,
        sn_bounds=sn_update.bounds,
        # cc_delta IS the labels-chain upsert element: new rids + every
        # member of a touched catalog entity, relabeled — exactly the set
        # whose labels the next chain read must override.
        labels_chain=state.labels_chain
        + [ckpt.stage_path(run_dir, "cc_delta")],
        tok_chain=state.tok_chain + [ckpt.stage_path(run_dir, "tok_index")],
        tok_buckets=state.tok_buckets,
        emit=emit,
    )
    return PipelineRun(
        entities=entities,
        executed=runner.executed,
        skipped=runner.skipped,
        run_dir=run_dir,
    )

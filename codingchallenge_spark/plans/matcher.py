"""The record-linkage plan: normalize → block → score → cluster → emit.

The batch stage graph (SURVEY.md §3 EP1/EP2) is defined once, here
(:func:`matching_stages`). Every stage goes through a sink —
``stage(name, upstream, build) -> DataFrame`` — and the sink is the only
thing that differs between the two runs of the graph: the in-memory plan
(:func:`resolve_entities`, the driver contract) keeps each stage a lazy
DataFrame, and the checkpointed, resumable production driver
(plans.pipeline.run_pipeline) materializes each one to parquet. The two
therefore run the same graph by construction.

Output contract (BASELINE.json:6/15): input columns byte-identical (content
sha256 preserved) + ``content_sha`` + ``entity_id`` (min rid in the match
component).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codingchallenge_spark.functions.normalize import (
    normalize_for_matching,
    work_projection,
)
from codingchallenge_spark.operators.blocking import (
    DEFAULT_SN_WINDOW,
    DEFAULT_TOKEN_DF_CAP,
    sorted_neighborhood,
    token_blocking,
    union_candidates_meta,
)
from codingchallenge_spark.operators.cc import connected_components
from codingchallenge_spark.operators.scoring import (
    DEFAULT_THRESHOLD,
    DEFAULT_WEIGHTS,
    edges_from_scores,
    score_pairs_fused,
)
from codingchallenge_spark.sources.checkpoint import run_parallel


@dataclass
class MatcherConfig:
    token_df_cap: int = DEFAULT_TOKEN_DF_CAP
    sn_window: int = DEFAULT_SN_WINDOW
    sn_buckets: int = 32
    # Hash-bucket modulus of the persisted inverted token postings
    # (catalog_state.build_tok_postings). Production: sized so one bucket is
    # a healthy parquet file (~64 MB of postings) — the count GROWS with the
    # corpus while per-batch probe cost stays |delta tokens| · bucket bytes.
    tok_buckets: int = 32
    weights: dict = field(default_factory=lambda: dict(DEFAULT_WEIGHTS))
    threshold: float = DEFAULT_THRESHOLD
    salt_buckets: int = 0  # >0 → salted attribute fan-in join
    cc_max_iterations: int = 25
    # Meta-blocking: a pair must share ≥ this many blocking tokens to be
    # scored (SN-pass pairs exempt). 2 kills the one-shared-rare-token
    # coincidence pairs that dominate token-blocking output at scale; set 1
    # for exhaustive (every co-blocked pair scored) semantics.
    min_token_overlap: int = 2


class _InMemorySink:
    """The in-memory stage sink: a stage is its lazy plan, and only the
    stages named in ``pinned`` are pinned, with a lazy localCheckpoint (the
    parquet sink, plans.pipeline._StageRunner, materializes every stage).
    ``upstream`` only matters to the parquet sink's fingerprints."""

    def __init__(self, *pinned: str):
        self.pinned = pinned

    def stage(self, name: str, upstream: list[str], build) -> DataFrame:
        df = build()
        return df.localCheckpoint(eager=False) if name in self.pinned else df


def _blocking_stages(stage, work: DataFrame, cfg: MatcherConfig) -> DataFrame:
    """Multi-pass blocking: token pass ∪ sorted-neighborhood pass (B1+B2+B4).

    Per-pass dedup is skipped (dedupe=False): union_candidates pays for the
    one pair-dedup shuffle that multi-pass blocking actually needs. The two
    passes read only the normalize stage, so they are built concurrently.
    """
    tok, sn = run_parallel(
        work.sparkSession,
        lambda: stage(
            "block_token",
            ["normalize"],
            lambda: token_blocking(work, df_cap=cfg.token_df_cap, dedupe=False),
        ),
        lambda: stage(
            "block_sn",
            ["normalize"],
            lambda: sorted_neighborhood(
                work, window=cfg.sn_window, num_buckets=cfg.sn_buckets,
                dedupe=False,
            ),
        ),
    )
    return stage(
        "pairs",
        ["block_token", "block_sn"],
        lambda: union_candidates_meta(
            tok, sn, min_token_overlap=cfg.min_token_overlap
        ),
    )


def candidate_pairs(records_norm: DataFrame, cfg: MatcherConfig) -> DataFrame:
    """The batch graph's candidate pairs, as one lazy plan."""
    return _blocking_stages(_InMemorySink().stage, records_norm, cfg)


def emit_entities(norm: DataFrame, labels: DataFrame) -> DataFrame:
    """Join CC labels back onto the full rows and restore string ids.

    The one place ids go back to hex (shared by the in-memory plan and the
    checkpointed pipeline): ``norm`` carries the full rows plus the
    narrow-stage columns, and ``labels`` the CC's ``(rid, entity_id)``,
    both keyed on the binary ``rid``. The output drops the narrow columns,
    joins USING rid (so ``rid`` comes first) and re-hexes ``rid`` and
    ``entity_id``.
    """
    return (
        norm.drop("name_norm", "th")
        .join(labels, "rid")
        .withColumn("rid", F.lower(F.hex("rid")))
        .withColumn("entity_id", F.lower(F.hex("entity_id")))
    )


def normalize_stage(stage, records: DataFrame) -> DataFrame:
    """The batch graph's first stage. ``th`` (token-hash fingerprints) is
    interpreted-eval, so the stage exists to be materialized once — by the
    parquet sink, or by the in-memory sink's pin — and never recomputed per
    consumer; its one id column is the binary ``rid``
    (normalize.normalize_for_matching)."""
    return stage("normalize", [], lambda: normalize_for_matching(records))


def matching_stages(
    stage,
    norm: DataFrame,
    cfg: MatcherConfig,
    cc: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """The batch graph after normalize: (block_token ‖ block_sn) → pairs →
    score → edges → cc → entities, each stage through the sink ``stage``.

    ``cc(edges, nodes)`` builds the labels; the default is one plain
    :func:`connected_components` call (the checkpointed driver passes its
    resumable, per-round-checkpointed form).
    """
    work = work_projection(norm)
    if cc is None:

        def cc(edges: DataFrame, nodes: DataFrame) -> DataFrame:
            return connected_components(
                edges, nodes=nodes, max_iterations=cfg.cc_max_iterations
            ).labels

    pairs = _blocking_stages(stage, work, cfg)
    # The parquet sink persists only pairs whose score can reach the
    # threshold (exact upper-bound prune, see
    # scoring.fused_score_from_attrs) — the pruned pairs are provably
    # non-edges, so resume semantics are unchanged.
    scored = stage(
        "score",
        ["pairs", "normalize"],
        lambda: score_pairs_fused(
            pairs,
            work,
            weights=cfg.weights,
            threshold=cfg.threshold,
            salt_buckets=cfg.salt_buckets,
        ),
    )
    edges = stage(
        "edges",
        ["score"],
        lambda: edges_from_scores(scored, threshold=cfg.threshold),
    )
    labels = stage("cc", ["edges", "normalize"], lambda: cc(edges, work.select("rid")))
    return stage(
        "entities", ["cc", "normalize"], lambda: emit_entities(norm, labels)
    )


def resolve_entities(
    records: DataFrame, cfg: MatcherConfig | None = None
) -> DataFrame:
    """Full in-memory plan: records → records + content_sha + entity_id."""
    cfg = cfg or MatcherConfig()
    # norm feeds two blocking passes, two scoring joins, the CC node set and
    # the final emit — pinned once instead of re-scanning + re-tokenizing
    # the input per consumer. Round 6: the pin is a lazy localCheckpoint
    # rather than persist() — the columnar cache build (per-batch
    # compression) cost more than its read benefit at this relation's shape
    # (A/B: 7.33 vs 8.01 s flagship minimum at sf1.0, better in every
    # interleaved pair), and the fault-tolerance tradeoff is the one this
    # plan already makes for the SN base and every CC round (see
    # operators/blocking.py's documented replicated-persist alternative for
    # flaky clusters).
    stage = _InMemorySink("normalize").stage
    return matching_stages(stage, normalize_stage(stage, records), cfg)

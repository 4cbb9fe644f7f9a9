"""The record-linkage plan: normalize → block → score → cluster → emit.

This is the logical composition of every stage (SURVEY.md §3 EP1/EP2). It is
pure DataFrame-in/DataFrame-out — the checkpointed, resumable production
driver (plans.pipeline) materializes the same stages with stage sinks.

Output contract (BASELINE.json:6/15): input columns byte-identical (content
sha256 preserved) + ``content_sha`` + ``entity_id`` (min rid in the match
component).
"""

from __future__ import annotations

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


def candidate_pairs(records_norm: DataFrame, cfg: MatcherConfig) -> DataFrame:
    """Multi-pass blocking: token pass ∪ sorted-neighborhood pass (B1+B2+B4).

    Per-pass dedup is skipped (dedupe=False): union_candidates pays for the
    one pair-dedup shuffle that multi-pass blocking actually needs.
    """
    tok = token_blocking(records_norm, df_cap=cfg.token_df_cap, dedupe=False)
    sn = sorted_neighborhood(
        records_norm, window=cfg.sn_window, num_buckets=cfg.sn_buckets, dedupe=False
    )
    return union_candidates_meta(
        tok, sn, min_token_overlap=cfg.min_token_overlap
    )


def emit_entities(norm: DataFrame, labels: DataFrame) -> DataFrame:
    """Join CC labels back onto the full rows and restore string ids.

    The one place the binary-rid emit contract lives (shared by the
    in-memory plan and the checkpointed pipeline): ``labels`` carries
    binary ``(rid, entity_id)``, ``norm`` carries the full rows plus the
    narrow-stage columns and ``rid_b``; the output drops the narrow
    columns, joins on the binary key, re-hexes ``entity_id``, and keeps
    ``rid`` first — the column order the string-keyed join (USING rid)
    used to produce, kept stable for downstream consumers.
    """
    out = (
        norm.drop("name_norm", "tokens", "th")
        .join(labels.withColumnRenamed("rid", "rid_b"), "rid_b")
        .drop("rid_b")
        .withColumn("entity_id", F.lower(F.hex("entity_id")))
    )
    return out.select("rid", *[c for c in out.columns if c != "rid"])


def resolve_entities(
    records: DataFrame, cfg: MatcherConfig | None = None
) -> DataFrame:
    """Full in-memory plan: records → records + content_sha + entity_id."""
    cfg = cfg or MatcherConfig()
    # norm feeds two blocking passes, two scoring joins, the CC node set and
    # the final emit — pin it once instead of re-scanning + re-tokenizing
    # the input per consumer. (The checkpointed pipeline gets the same effect
    # from its stage sinks.) ``th`` (token-hash fingerprints) is materialized
    # here because its expression is interpreted-eval (normalize.
    # with_token_hashes) — pinned once, scoring joins it for free.
    # Round 6: the pin is a lazy localCheckpoint rather than persist() —
    # the columnar cache build (per-batch compression) cost more than its
    # read benefit at this relation's shape (A/B: 7.33 vs 8.01 s flagship
    # minimum at sf1.0, better in every interleaved pair), and the
    # fault-tolerance tradeoff is the one this plan already makes for the SN
    # base and every CC round (see operators/blocking.py's documented
    # replicated-persist alternative for flaky clusters).
    norm = normalize_for_matching(records).localCheckpoint(eager=False)
    work = work_projection(norm)
    pairs = candidate_pairs(work, cfg)
    scored = score_pairs_fused(
        pairs,
        work,
        weights=cfg.weights,
        threshold=cfg.threshold,
        salt_buckets=cfg.salt_buckets,
    )
    edges = edges_from_scores(scored, threshold=cfg.threshold)
    labels = connected_components(
        edges, nodes=work.select("rid"), max_iterations=cfg.cc_max_iterations
    ).labels
    return emit_entities(norm, labels)

"""Incremental (delta) entity resolution: link NEW records against an
already-resolved catalog without re-scoring the whole corpus.

Production motivation (BASELINE.json:6's 10^12-file clause): a corpus that
size is never re-resolved from scratch for a day's ingest. The batch matcher
(plans.matcher.resolve_entities) costs a full token self-join whose pair
volume is quadratic in block size; the delta form below scores ONLY pairs
that touch at least one new record, seeds transitive closure with the star
edges of the (few) catalog entities those pairs touch, and converges in O(1)
extra CC rounds.

One cost regime. The delta graph (:func:`normalize_delta_stage`,
:func:`delta_stages`) links against a catalog state (plans.catalog_state):
the catalog run's PERSISTED normalize/th stage is reused (no content is
ever re-normalized), the delta's keys are merged into the persisted
(name_norm, rid) key index bucket-locally and the sorted-neighborhood pass
reads its pairs off the merged positions instead of re-sorting the union
corpus, and the catalog side of the token pass reads the persisted inverted
postings (catalog_state.build_tok_postings), bucket-pruned by the delta's
token buckets; a token is its hash (``th``) there as in the batch graph.
The same postings give the document frequencies: a delta token's union
df = its catalog postings count + its delta count, exact. Remaining
corpus-proportional work: only the final full-table emit when
``emit="full"`` (use ``emit="delta"`` to emit only new + possibly-relabeled
rows, i.e. an upsert set).

The graph is defined once and run through a stage sink, like the batch
graph (plans.matcher): :func:`resolve_entities_incremental` runs it in
memory, plans.pipeline.run_delta_pipeline through parquet stages. Its
stages are normalize_delta → sn_index → pairs_delta → score_delta →
edges_delta → cc_delta → entities_delta (the new sn bounds are driver
rows computed off the sn_index stage); the parquet run adds the postings
maintenance (tok_index) beside them. A caller
with no state derives one from the catalog entities table first
(:func:`catalog_side`) — a corpus-proportional pass, paid once per catalog
by the checkpointed run.

Semantics (documented contract, tested in tests/test_incremental.py and
tests/test_incremental_state.py):

- **Old entities never split.** The star edges of every catalog entity
  touched by a delta edge are part of the CC input, so touched clusters
  stay connected; untouched clusters keep their catalog label verbatim.
- **Entities merge only through new-record bridges.** A new record that
  matches members of two different catalog entities joins them into one
  (entity_id = global min rid over the merged component).
- **Delta-touching pairs are scored exactly as the batch matcher would.**
  Token document frequencies (the hot-key cap) are computed over the FULL
  union corpus: catalog postings count + delta count per delta token. The
  sorted-neighborhood pass reads the full union sort order off the updated
  key index, whose merged touched buckets and new bounds give every union
  row its exact position; each new row then pairs with the rows within
  w − 1 positions of it, the batch SN rule (provably the same pair set
  and block keys, see delta_sn_pairs). So the candidate
  set equals the batch run's candidate set restricted to pairs with ≥ 1
  new side — same blocking keys, same meta-blocking overlap counts, same
  kernels, same threshold.
- **Relation to a from-scratch batch run** (tests assert both directions on
  the driver corpus): the incremental partition is the batch partition of
  the union corpus, *coarsened* by any old-old merges the catalog already
  contains. The two can differ only where inserting delta rows changed an
  old-old candidate pair — a token crossing the df cap, or two old names
  pushed > window apart in the union sort order — and both effects only
  REMOVE old-old pairs from the batch run (insertions never move sort
  neighbors closer, dfs never shrink), i.e. the batch partition refines the
  incremental one; on corpora without such crossings they are identical.
- **Idempotent ingest.** Delta rows whose rid (sha256 of repo/path/commit —
  functions.normalize.record_id) already exists in the catalog are ignored
  (the catalog row wins), and duplicate rids WITHIN one delta batch are
  collapsed before linking.

All shuffles run on 32-byte binary rids, like the batch pipeline.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from codingchallenge_spark.functions.normalize import (
    guarded_unhex,
    normalize_for_matching,
    normalize_records,
    with_token_hashes,
    work_projection,
)
from codingchallenge_spark.operators.blocking import union_candidates_meta
from codingchallenge_spark.operators.cc import connected_components
from codingchallenge_spark.operators.scoring import (
    edges_from_scores,
    score_pairs_fused,
)
from codingchallenge_spark.plans import catalog_state as cstate
from codingchallenge_spark.plans.catalog_state import CatalogState
from codingchallenge_spark.plans.matcher import (
    MatcherConfig,
    _InMemorySink,
    emit_entities,
)
from codingchallenge_spark.sources.checkpoint import run_parallel
from codingchallenge_spark.sources.records import INPUT_COLUMNS

log = logging.getLogger(__name__)


def incremental_token_pairs_state(
    state: CatalogState, work_new: DataFrame, df_cap: int
) -> DataFrame:
    """Token pass restricted to pairs touching ≥ 1 new record.

    Same pair multiset as batch token blocking over the union corpus,
    restricted to pairs with ≥ 1 new side (tested equal): each unordered
    delta-touching pair once per shared cold token (NON-deduped — exactly
    the multiplicity union_candidates_meta counts as token overlap).

    Tokens are the delta's exploded ``th``, the ``long`` key of the
    postings (collision bound: functions.similarity.token_hashes). The
    catalog side is the persisted inverted postings (state.tok_postings),
    bucket-pruned to the buckets of the delta's tokens (``tbs``, one
    delta-sized collect) and joined to a broadcast of the delta's distinct
    tokens. The hot set is taken over the UNION dfs: a token's
    catalog df is its number of catalog postings rows, its delta df its
    number of delta postings rows, and it is hot when their sum exceeds
    ``df_cap``. Exact: tokenize emits distinct tokens per record, and
    catalog and delta rid sets are disjoint. Catalog-only tokens cannot
    pair with a delta record, so they need no df.

    The delta's cold postings are pinned and broadcast; the catalog
    postings stream through the broadcast with no exchange (old–new
    pairs), and new–new pairs come from a broadcast self-join of the delta
    side. The broadcast holds |delta| × tokens per record rows — a
    delta-sized bound, like the SN probes'. The catalog's content column is
    never read and nothing corpus-sized is shuffled.
    """
    tok_new = work_new.select("rid", F.explode("th").alias("tok"))
    # Exact prune: every delta token's bucket is in the IN list.
    tbs = sorted(
        r.tbucket
        for r in tok_new.select(
            cstate.tok_bucket("tok", state.tok_buckets).alias("tbucket")
        )
        .distinct()
        .collect()
    )
    log.debug("delta collect: %d token buckets (tbs, pairs_delta)", len(tbs))
    old = state.tok_postings.filter(F.col("tbucket").isin(tbs)).select(
        "tok", "rid"
    )
    df_cat = (
        old.join(F.broadcast(tok_new.select("tok").distinct()), "tok")
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    hot = (
        tok_new.groupBy("tok")
        .agg(F.count("*").alias("dfn"))
        .join(df_cat, "tok", "left")
        .filter((F.coalesce("df", F.lit(0)) + F.col("dfn")) > df_cap)
        .select("tok")
    )
    # Pinned (lazy): both joins below read the cold delta postings, and the
    # hot set behind them scans the catalog postings.
    new_cold = tok_new.join(F.broadcast(hot), "tok", "left_anti").localCheckpoint(
        eager=False
    )
    b = F.broadcast(new_cold).alias("b")

    def pairs(a: DataFrame, keep: Column) -> DataFrame:
        return (
            a.alias("a")
            .join(b, "tok")
            .filter(keep)
            .select(
                F.least(F.col("a.rid"), F.col("b.rid")).alias("rid1"),
                F.greatest(F.col("a.rid"), F.col("b.rid")).alias("rid2"),
                F.col("tok").alias("block_key"),
            )
        )

    return pairs(old, F.lit(True)).unionByName(
        pairs(new_cold, F.col("a.rid") < F.col("b.rid"))
    )


@dataclass
class SnUpdate:
    """One delta's update of the sn index: ``element`` is the sn_index
    stage (the merged touched buckets, stored form), ``bounds`` the new
    bounds rows in position order, and ``touched`` the bucket ids the
    element rewrites."""

    element: DataFrame
    bounds: list[Row]
    touched: list[int]


def sn_index_stages(stage, state: CatalogState, norm_delta: DataFrame) -> SnUpdate:
    """The delta's sn_index stage (plans.catalog_state's bucket-local
    merge) and the new bounds. The delta keys are assigned to buckets once
    and the touched buckets collected once; the new bounds are one collect
    over the stage's output (catalog_state.merged_bounds), so they describe
    the element a resumed run loads as well as the one it writes."""
    bounds = state.sn_bounds
    assigned = cstate.assign_buckets(norm_delta.select("rid", "name_norm"), bounds)
    touched = cstate.touched_buckets(assigned, bounds)
    element = stage(
        "sn_index",
        ["normalize_delta"],
        lambda: cstate.merge_sn_buckets(state, assigned, touched),
    )
    return SnUpdate(
        element=element,
        bounds=cstate.merged_bounds(bounds, element),
        touched=touched,
    )


def _probe_buckets(bounds: list[Row], touched: set[int], reach: int) -> list[int]:
    """Buckets holding a row within ``reach`` merged positions of a row of
    a touched bucket. Bucket position ranges tile 1..N in bounds order, so
    the walk from each touched bucket stops at the first bucket out of
    reach."""
    keep: set[int] = set()
    for i, b in enumerate(bounds):
        if b.bucket not in touched:
            continue
        lo, hi = b.start_pos - reach, b.start_pos + b.n - 1 + reach
        j = i
        while j >= 0 and bounds[j].start_pos + bounds[j].n - 1 >= lo:
            keep.add(bounds[j].bucket)
            j -= 1
        j = i + 1
        while j < len(bounds) and bounds[j].start_pos <= hi:
            keep.add(bounds[j].bucket)
            j += 1
    return sorted(keep)


def sn_probe_index(
    state: CatalogState, sn: SnUpdate, delta_keys: DataFrame, window: int
) -> DataFrame:
    """The rows of the UPDATED index the delta SN probe reads, with their
    merged positions: (rid, name_norm, pos, is_new) of the touched buckets
    (the merged element) and of every bucket within ``window - 1``
    positions of one (the prior chain, bucket-pruned by a literal IN).
    Positions come from the new bounds (catalog_state.resolve_sn_index);
    ``is_new`` (true, else null) marks the delta's rows, by a broadcast of
    the delta rids."""
    touched = set(sn.touched)
    near = [b for b in _probe_buckets(sn.bounds, touched, window - 1) if b not in touched]
    rows = state.sn_stored.filter(F.col("bucket").isin(near)).unionByName(sn.element)
    idx = cstate.resolve_sn_index(rows, sn.bounds)
    return idx.select("rid", "name_norm", "pos").join(
        F.broadcast(delta_keys.select("rid", F.lit(True).alias("is_new"))),
        "rid",
        "left",
    )


def delta_sn_pairs(
    state: CatalogState, sn: SnUpdate, delta_keys: DataFrame, window: int
) -> DataFrame:
    """Sorted-neighborhood pairs with ≥ 1 new side, read off the updated
    index (``sn``, :func:`sn_index_stages`) instead of re-sorting the union.

    Exactness argument (vs. the full union sort restricted to delta-touching
    pairs — property-tested in tests/test_incremental_state.py):

    1. The updated index gives every union row its exact position in the
       union's (name_norm, rid) order: pos = start_pos' + lpos − 1 over the
       merged touched buckets and the untouched chain
       (test_updated_state_equals_rebuild).
    2. Batch SN pairs rows x, y iff 0 < pos(y) − pos(x) ≤ w − 1, with block
       key 'sn:' || name_norm of x, the earlier row. So the pairs touching a
       new row k are k's 2(w − 1) neighbour positions: each new row probes
       pos ± d, d = 1..w−1, by an equi-join on pos.
    3. Every neighbour lies in a bucket whose position range is within
       w − 1 of k's (touched) bucket: those are the buckets the probe reads
       (:func:`sn_probe_index`).
    4. Each pair is emitted once: a successor probe (d > 0) emits the pair
       under k's name whatever the neighbour is; a predecessor probe emits
       it under the neighbour's name only when the neighbour is old — a new
       predecessor already emitted it as its successor.

    The probed rows are pinned (lazy localCheckpoint): the probes and the
    neighbours both read them, so they are scanned and flagged once. The
    probes (|delta| · 2(w − 1) rows) are broadcast into the equi-join. No
    range sort, no nested-loop join, no Python worker.
    """
    reach = window - 1
    idx = sn_probe_index(state, sn, delta_keys, window).localCheckpoint(eager=False)
    offsets = F.array(*[F.lit(d) for d in range(-reach, reach + 1) if d])
    probes = idx.filter("is_new").select(
        F.col("rid").alias("a"),
        F.col("name_norm").alias("a_name"),
        F.explode(offsets).alias("d"),
        "pos",
    ).withColumn("pos", F.col("pos") + F.col("d"))
    nbrs = idx.select(
        "pos",
        F.col("rid").alias("b"),
        F.col("name_norm").alias("b_name"),
        F.col("is_new").alias("b_new"),
    )
    hits = F.broadcast(probes).join(nbrs, "pos")
    return hits.filter((F.col("d") > 0) | F.col("b_new").isNull()).select(
        F.least("a", "b").alias("rid1"),
        F.greatest("a", "b").alias("rid2"),
        F.concat(
            F.lit("sn:"),
            F.when(F.col("d") > 0, F.col("a_name")).otherwise(F.col("b_name")),
        ).alias("block_key"),
    )


def incremental_candidate_pairs(
    state: CatalogState,
    work_new: DataFrame,
    cfg: MatcherConfig,
    tok_pairs: DataFrame,
    sn: SnUpdate,
) -> DataFrame:
    """Multi-pass delta blocking: the restricted token pass ``tok_pairs``
    (:func:`incremental_token_pairs_state`) ∪ delta-touching
    sorted-neighborhood pairs read off the sn-index update ``sn``
    (:func:`delta_sn_pairs`), merged through the same single-shuffle
    meta-union as the batch matcher (identical overlap semantics)."""
    sn_pairs = delta_sn_pairs(
        state, sn, work_new.select("rid", "name_norm"), window=cfg.sn_window
    )
    return union_candidates_meta(
        tok_pairs, sn_pairs, min_token_overlap=cfg.min_token_overlap
    )


def delta_attrs(
    state: CatalogState, work_new: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Scoring attribute side for a delta run: catalog ∪ delta narrow attrs
    pre-filtered to rids that actually appear in a candidate pair (semi join
    — AQE broadcasts the delta-proportional rid set; the catalog side is
    scanned narrow, never shuffled corpus-wide)."""
    touched_rids = (
        pairs.select(F.col("rid1").alias("rid"))
        .unionByName(pairs.select(F.col("rid2").alias("rid")))
        .distinct()
    )
    return (
        state.norm.select("rid", "name_norm", "th")
        .unionByName(work_new.select("rid", "name_norm", "th"))
        .join(touched_rids, "rid", "left_semi")
    )


def _touched_component_labels(
    delta_edges: DataFrame,
    labels_old_b: DataFrame,
    new_rids: DataFrame,
    max_iterations: int,
) -> DataFrame:
    """CC restricted to the components a delta edge can change.

    Only entities with a member incident to a delta edge can merge or gain
    members; everything else keeps its catalog label verbatim.
    ``labels_old_b`` carries BINARY (rid, entity_id). Returns the labels of
    new rids + members of touched catalog entities (CC output, binary
    rid/entity). Cost: CC input is
    delta-proportional (delta edges + touched-entity star edges) instead of
    corpus-proportional star edges for EVERY catalog entity.
    """
    ends = (
        delta_edges.select(F.col("src").alias("rid"))
        .unionByName(delta_edges.select(F.col("dst").alias("rid")))
        .distinct()
    )
    touched_ents = (
        labels_old_b.join(ends, "rid").select("entity_id").distinct()
    )
    # members is delta-proportional but feeds two consumers (star edges and
    # the CC node set) — pinned so the
    # catalog label scan behind it runs once, not per consumer. A lazy
    # localCheckpoint, not persist(): nothing in the session's cache manager
    # outlives the relation, so a long-lived stream that comes through here
    # once per micro-batch does not accumulate cached relations.
    members = labels_old_b.join(
        touched_ents, "entity_id", "left_semi"
    ).localCheckpoint(eager=False)
    star = members.filter(F.col("rid") != F.col("entity_id")).select(
        F.col("entity_id").alias("src"), F.col("rid").alias("dst")
    )
    nodes = members.select("rid").unionByName(new_rids).distinct()
    return connected_components(
        delta_edges.unionByName(star),
        nodes=nodes,
        max_iterations=max_iterations,
    ).labels


def catalog_side(
    stage,
    state: CatalogState | None,
    catalog: DataFrame | None,
    cfg: MatcherConfig,
    caller: str,
) -> CatalogState:
    """The catalog a delta run links against.

    ``state`` as given when it carries labels; a state without labels takes
    them from the ``catalog`` entities table; with no state, one is derived
    from ``catalog`` through the sink ``stage``: ``catalog_norm``, then
    ``sn_index_cat``, ``tok_index_cat`` and ``labels_cat`` (plans.catalog_state.derive_catalog_state). ``caller``
    names the entry point in errors.
    """
    if state is not None and state.labels is not None:
        return state
    if catalog is None:
        raise ValueError(
            f"{caller} needs a catalog entities relation or a state carrying "
            "a labels chain (load_catalog_state)"
        )
    # guarded_unhex raises on malformed catalog ids instead of silently
    # nulling: a NULL id would drop the star edge in CC and silently split
    # the old entity — a foreign/corrupted catalog must surface instead.
    ctx = f"{caller}: catalog"
    labels = catalog.select(
        guarded_unhex("rid", ctx).alias("rid"),
        guarded_unhex("entity_id", ctx).alias("entity_id"),
    )
    if state is not None:
        return replace(state, labels=labels)
    norm = stage(
        "catalog_norm",
        [],
        lambda: normalize_for_matching(catalog.select(*INPUT_COLUMNS)),
    )
    return cstate.derive_catalog_state(
        stage, norm, cfg, norm_stage="catalog_norm", suffix="_cat",
        labels=labels,
    )


def normalize_delta_stage(
    stage, state: CatalogState, delta_records: DataFrame
) -> DataFrame:
    """The delta graph's first stage: the delta normalized like the catalog.

    Its one id column is the binary ``rid``, as in the catalog's.
    Idempotent ingest: delta rows whose rid (derived from the natural key)
    is already in the catalog's binary labels are dropped — the catalog row
    wins. The same key is deduped WITHIN the batch too: one delta replaying
    a row twice (same repo/path/commit) must not emit duplicate rid rows.
    """

    def build() -> DataFrame:
        return with_token_hashes(
            normalize_records(delta_records.select(*INPUT_COLUMNS))
            .dropDuplicates(["rid"])
            .withColumn("rid", F.unhex("rid"))
            .join(state.labels.select("rid"), "rid", "left_anti")
        )

    return stage("normalize_delta", [], build)


def delta_stages(
    stage,
    state: CatalogState,
    norm_delta: DataFrame,
    cfg: MatcherConfig,
    emit: str = "full",
) -> tuple[DataFrame, SnUpdate]:
    """The delta graph after normalize_delta, each stage through the sink
    ``stage`` (plans.matcher documents the sinks)::

        sn_index → pairs_delta → score_delta → edges_delta → cc_delta
        → entities_delta

    The token pass is built beside the sn_index stage: its bucket collect
    overlaps the merge. Returns the entities stage and the sn-index update.
    """
    work_new = work_projection(norm_delta)
    tok_pairs, sn_update = run_parallel(
        norm_delta.sparkSession,
        lambda: incremental_token_pairs_state(
            state, work_new, df_cap=cfg.token_df_cap
        ),
        lambda: sn_index_stages(stage, state, norm_delta),
    )
    pairs = stage(
        "pairs_delta",
        ["normalize_delta", "sn_index"],
        lambda: incremental_candidate_pairs(
            state, work_new, cfg, tok_pairs, sn=sn_update
        ),
    )
    scored = stage(
        "score_delta",
        ["pairs_delta", "normalize_delta"],
        lambda: score_pairs_fused(
            pairs,
            delta_attrs(state, work_new, pairs),
            weights=cfg.weights,
            threshold=cfg.threshold,
            salt_buckets=cfg.salt_buckets,
        ),
    )
    edges = stage(
        "edges_delta",
        ["score_delta"],
        lambda: edges_from_scores(scored, threshold=cfg.threshold),
    )
    # cc_delta holds new rids + every member of a touched catalog entity,
    # relabeled; every other catalog rid keeps its label verbatim.
    labels_touched = stage(
        "cc_delta",
        ["edges_delta", "normalize_delta"],
        lambda: _touched_component_labels(
            edges,
            state.labels,
            new_rids=work_new.select("rid"),
            max_iterations=cfg.cc_max_iterations,
        ),
    )

    def build_entities() -> DataFrame:
        norm_union = state.norm.unionByName(
            norm_delta.select(*state.norm.columns)
        )
        if emit == "delta":
            return emit_entities(norm_union, labels_touched)
        labels_rest = state.labels.join(
            labels_touched.select("rid"), "rid", "left_anti"
        )
        return emit_entities(
            norm_union, labels_touched.unionByName(labels_rest)
        )

    entities = stage(
        "entities_delta", ["cc_delta", "normalize_delta"], build_entities
    )
    return entities, sn_update


def resolve_entities_incremental(
    catalog: DataFrame,
    new_records: DataFrame,
    cfg: MatcherConfig | None = None,
    state: CatalogState | None = None,
    emit: str = "full",
) -> DataFrame:
    """Resolve ``catalog ∪ new_records`` by linking only the delta: the
    delta graph with the in-memory sink.

    ``catalog`` is a prior resolve_entities / run_pipeline output (the five
    input columns + content_sha + entity_id, entity_id = min rid per
    cluster). ``new_records`` is a raw delta with the five input columns.
    ``state`` supplies the catalog run's persisted normalize stage +
    postings + key index + labels (plans.catalog_state); without
    it one is derived in memory from the catalog rows.
    ``emit="delta"`` returns only rows whose label could have changed (new
    rows + members of touched entities — an upsert set); ``"full"`` returns
    the whole combined entity table.
    """
    cfg = cfg or MatcherConfig()
    if emit not in ("full", "delta"):
        raise ValueError(f"emit must be 'full' or 'delta', got {emit!r}")
    # The pins: catalog_norm feeds every catalog-state relation and the
    # emit; `sn_index` feeds the bounds collect AND the SN probe;
    # `pairs_delta` feeds the touched-rid derivation AND both attribute
    # fan-in sides; `edges_delta` feeds the touched-entity derivation AND
    # CC — left lazy, each consumer would re-run the whole upstream plan
    # per evaluation. The delta relations are delta-sized, so the pins are
    # cheap by construction (the parquet sink gets the same effect from its
    # stage writes).
    stage = _InMemorySink(
        "catalog_norm", "normalize_delta", "sn_index", "pairs_delta",
        "edges_delta",
    ).stage
    state = catalog_side(
        stage, state, catalog, cfg, "resolve_entities_incremental"
    )
    norm_delta = normalize_delta_stage(stage, state, new_records)
    return delta_stages(stage, state, norm_delta, cfg, emit=emit)[0]

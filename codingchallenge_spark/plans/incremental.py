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
ever re-normalized), document frequencies are maintained incrementally
(df' = df + delta counts, exact), the sorted-neighborhood pass range-joins
delta keys into the persisted (name_norm, rid) key index instead of
re-sorting the union corpus, and the catalog side of the token pass reads
the persisted inverted postings (catalog_state.build_tok_postings),
bucket-pruned by the delta's token hash-buckets; pre-postings state dirs
fall back to the norm-chain explode. Remaining corpus-proportional work:
only the final full-table emit when ``emit="full"`` (use ``emit="delta"``
to emit only new + possibly-relabeled rows, i.e. an upsert set).

The graph is defined once and run through a stage sink, like the batch
graph (plans.matcher): :func:`resolve_entities_incremental` runs it in
memory, plans.pipeline.run_delta_pipeline through parquet stages. A caller
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
  union corpus and the sorted-neighborhood pass reproduces the full union
  sort order (analytically, via the key index — provably the same pair
  set, see delta_sn_pairs), so the candidate set equals the batch
  run's candidate set restricted to pairs with ≥ 1 new side — same blocking
  keys, same meta-blocking overlap counts, same kernels, same threshold.
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

from dataclasses import replace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from codingchallenge_spark.functions.normalize import (
    guarded_unhex,
    normalize_for_matching,
    normalize_records,
    with_token_hashes,
    work_projection,
)
from codingchallenge_spark.operators.blocking import (
    canonical_pairs,
    sn_window_pairs,
    union_candidates_meta,
)
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


def incremental_token_pairs_state(
    state: CatalogState, work_new: DataFrame, df_cap: int
) -> DataFrame:
    """Token pass restricted to pairs touching ≥ 1 new record, using the
    MAINTAINED document-frequency relation.

    Same pair multiset as batch token blocking over the union corpus,
    restricted to pairs with ≥ 1 new side (tested equal): each unordered
    delta-touching pair once per shared cold token (NON-deduped — exactly
    the multiplicity union_candidates_meta counts as token overlap). The hot
    set is derived from df_union = state.token_df + delta counts — exact, because tokenize emits
    distinct tokens per record and catalog/delta rid sets are disjoint — and
    the catalog side of the join is filtered to the delta's cold-token set
    BEFORE the exchange (broadcast probe: tokens absent from the delta can
    produce no delta-touching pair). With a postings chain
    (state.tok_postings) the catalog side is the persisted inverted index,
    bucket-pruned to the delta's token hash-buckets — no corpus token array
    is re-exploded; without one it falls back to exploding the norm chain's
    token arrays. The catalog's content column is never read, nothing
    corpus-sized is re-aggregated.
    """
    tok_new = work_new.select("rid", F.explode("tokens").alias("tok"))
    df_new = tok_new.groupBy("tok").agg(F.count("*").alias("dfn"))
    # Hot set over the UNION dfs. Only delta-present tokens can matter, so
    # semi-filter the vocabulary FIRST with a broadcast of the delta's
    # (distinct, delta-sized) token list — one narrow vocab scan, no
    # shuffle — then take the union-df threshold over two delta-sized
    # relations (the earlier full-outer here shuffled the whole vocabulary
    # per batch: vocab-proportional exchange, measured ~1 s/batch at a
    # 1.27M-token vocab). Union-wide correct for every delta token: its
    # catalog df rides in via the semi-filtered slice, catalog-only tokens
    # can never be hot-for-the-delta because they never join anything.
    tok_df_delta = state.token_df.join(
        F.broadcast(df_new.select("tok")), "tok"
    )
    hot = (
        df_new.join(tok_df_delta, "tok", "left")
        .filter(
            (F.coalesce("df", F.lit(0)) + F.col("dfn")) > df_cap
        )
        .select("tok")
    )
    new_cold = tok_new.join(F.broadcast(hot), "tok", "left_anti").withColumn(
        "is_new", F.lit(True)
    )
    # Pin the delta's cold postings (delta-sized): the hot-set derivation
    # above joins the FULL vocabulary token_df, and the postings branch
    # below adds a driver-side collect (tbs) on top of the main action —
    # without the pin each action would recompute that vocab-sized join.
    # Same pattern as the S pin in delta_sn_pairs / blocking's seam pin.
    # Lazy (eager=False) like every other pin in this repo (ADVICE r05): the
    # eager default fired a Spark job at DataFrame-CONSTRUCTION time even if
    # the caller never executed the plan; the tbs collect just below (or the
    # first downstream action on the non-postings path) materializes it once.
    new_cold = new_cold.localCheckpoint(eager=False)
    delta_toks = new_cold.select("tok").distinct()
    if state.tok_postings is not None and state.tok_buckets:
        # Inverted-postings catalog side (round 5): scan the persisted
        # (tbucket, tok, rid) chain bucket-pruned to the delta's token
        # hash-buckets — a literal IN over ≤ min(|delta tokens|, B) ids,
        # collected driver-side (delta-sized job; the merge_sn_buckets
        # precedent) — instead of re-exploding every catalog token array.
        # Exact: any tok in delta_toks has its tbucket in the IN list by
        # construction, so the prune is lossless before the tok equi-join.
        tbs = sorted(
            r.tbucket
            for r in delta_toks.select(
                F.pmod(F.xxhash64("tok"), F.lit(state.tok_buckets))
                .cast("int")
                .alias("tbucket")
            )
            .distinct()
            .collect()
        )
        old_cold = (
            state.tok_postings.filter(F.col("tbucket").isin(tbs))
            .join(F.broadcast(delta_toks), "tok")
            .select("rid", "tok")
            .withColumn("is_new", F.lit(False))
        )
    else:
        old_cold = (
            state.norm.select("rid", F.explode("tokens").alias("tok"))
            .join(F.broadcast(delta_toks), "tok")
            .withColumn("is_new", F.lit(False))
        )
    b_side = old_cold.unionByName(new_cold)
    a, b = new_cold.alias("a"), b_side.hint("shuffle_hash").alias("b")
    return (
        a.join(b, "tok")
        .filter((~F.col("b.is_new")) | (F.col("a.rid") < F.col("b.rid")))
        .select(
            F.least(F.col("a.rid"), F.col("b.rid")).alias("rid1"),
            F.greatest(F.col("a.rid"), F.col("b.rid")).alias("rid2"),
            F.col("tok").alias("block_key"),
        )
    )


def _delta_sn_candidates(
    state: CatalogState, delta_keys: DataFrame, window: int
) -> DataFrame:
    """The delta-proportional candidate set S for the sorted-catalog SN pass:
    delta keys ∪ catalog rows within ``window - 1`` catalog positions of any
    delta insertion point. Returns [rid, name_norm, is_new, left, right]
    where [left, right] encode the merged-order gap rule (see
    :func:`delta_sn_pairs`). Exposed for the delta-proportionality test
    (|S| ≤ |delta| · (2·window − 1))."""
    # Containing bucket (max bucket whose min key ≤ k; keys below every
    # minimum fall into the first bucket): binary search over the
    # driver-collected bounds table (catalog_state.BoundsIndex) — VERDICT
    # r04 #4 replaced the BroadcastNestedLoopJoin forms (bmin <= k and the
    # interval-overlap theta join below), whose ~B/2 comparisons per delta
    # key were free at 32 buckets and quadratic death at production bucket
    # counts, with O(log B) vectorized searchsorted (plan-gated: no BNLJ
    # node in this derivation).
    bidx = cstate.collect_bounds(state.sn_bounds)
    # Pinned: `touched`, `u` and `ins_keys` all read `assigned`, and unpinned
    # each would re-run the bucket_of pandas UDF over the same delta keys.
    assigned = cstate.assign_buckets(delta_keys, bidx).localCheckpoint(
        eager=False
    )
    # ins_keys below still needs start_pos by bucket — a broadcast HASH join
    # on the metadata-sized bounds relation (aliased so joins against a
    # bounds derived from the index are never ambiguous self-joins).
    bounds = state.sn_bounds.select(
        F.col("bucket").alias("_bb"),
        F.col("start_pos").alias("_bstart"),
    )
    touched = assigned.select("bucket").distinct()
    idx_t = state.sn_index.join(
        F.broadcast(touched.withColumnRenamed("bucket", "_tb")),
        F.col("bucket") == F.col("_tb"),
    ).drop("_tb")
    u = idx_t.select(
        "bucket", "rid", "name_norm", "pos", F.lit(False).alias("is_new")
    ).unionByName(
        assigned.select(
            "bucket",
            "rid",
            "name_norm",
            F.lit(None).cast("long").alias("pos"),
            F.lit(True).alias("is_new"),
        )
    )
    w = Window.partitionBy("bucket").orderBy("name_norm", "rid")
    ranked = u.withColumn("_r", F.row_number().over(w)).withColumn(
        "_j",
        F.sum(F.col("is_new").cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # ins = global # catalog keys < k = (bucket start − 1) + old rows before
    # k within its bucket. Exact for any bucket balance: start offsets come
    # from real counts (catalog_state.build_sn_index).
    # Left join + coalesce: an EMPTY catalog has no bounds rows — every
    # delta key then gets ins = (r − j) = 0, which degrades exactly to plain
    # SN over the delta alone.
    ins_keys = (
        ranked.filter("is_new")
        .join(
            F.broadcast(bounds.select("_bb", "_bstart")),
            F.col("bucket") == F.col("_bb"),
            "left",
        )
        .select(
            "rid",
            "name_norm",
            (
                F.coalesce(F.col("_bstart") - 1, F.lit(0))
                + (F.col("_r") - F.col("_j"))
            ).alias("ins"),
        )
    )
    # Candidate old rows: pos ∈ [ins − (w−2), ins + (w−1)] for some delta
    # key. Buckets overlapping each interval come from two binary searches
    # over the collected bounds (bucket position ranges tile 1..N
    # contiguously — catalog_state.overlap_buckets_column; handles windows
    # spanning bucket edges and buckets smaller than the window); the index
    # join stays hash on bucket + residual pos-range filter.
    ivals = ins_keys.select(
        (F.col("ins") - (window - 2)).alias("lo"),
        (F.col("ins") + (window - 1)).alias("hi"),
    ).distinct()
    if len(bidx):
        _overlap = cstate.overlap_buckets_column(bidx)
        ival_buckets = ivals.select(
            F.explode(_overlap(F.col("lo"), F.col("hi"))).alias("_ib"),
            "lo",
            "hi",
        )
    else:  # empty catalog: no buckets can overlap anything
        ival_buckets = ivals.select(
            F.lit(0).alias("_ib"), "lo", "hi"
        ).filter(F.lit(False))
    cands = (
        state.sn_index.join(
            F.broadcast(ival_buckets),
            (F.col("bucket") == F.col("_ib"))
            & F.col("pos").between(F.col("lo"), F.col("hi")),
        )
        .select("rid", "name_norm", "pos")
        .distinct()
    )
    return cands.select(
        "rid",
        "name_norm",
        F.lit(False).alias("is_new"),
        (F.col("pos") - 1).alias("left"),
        F.col("pos").alias("right"),
    ).unionByName(
        ins_keys.select(
            "rid",
            "name_norm",
            F.lit(True).alias("is_new"),
            F.col("ins").alias("left"),
            F.col("ins").alias("right"),
        )
    )


def delta_sn_pairs(
    state: CatalogState,
    delta_keys: DataFrame,
    window: int,
) -> DataFrame:
    """Sorted-neighborhood pairs with ≥ 1 new side, WITHOUT re-sorting the
    union corpus: range-join delta keys into the persisted catalog key index.

    Exactness argument (vs. the full union sort restricted to delta-touching
    pairs — property-tested in tests/test_incremental_state.py):

    1. Every true pair lies inside S (:func:`_delta_sn_candidates`): a pair
       (new k, x) at merged distance d ≤ w−1 forces every catalog row
       between them — and x itself if old — within w−1 catalog positions of
       ins(k), which is exactly the candidate window.
    2. Within S sorted by (name_norm, rid), a GAP between consecutive rows
       (next.left > cur.right, with old rows carrying [pos−1, pos] and new
       rows [ins, ins]) marks ≥ 1 catalog row missing from S between them.
       Inside a gap-free stretch, S order IS merged order contiguously
       (all delta rows are in S), so merged distance = S distance: windowing
       each stretch with the batch SN kernel (blocking.sn_window_pairs)
       yields exactly the merged-order pairs, no spurious cross-gap pairs.
    3. Old-old pairs are dropped: their catalog distance ≤ merged distance,
       so the catalog run already considered them.

    gap_id is computed with the bucketed two-level form (per-partition lag +
    a broadcast metadata-size offsets table) — no single-partition window;
    the one range sort here is over S, which is delta-proportional
    (|S| ≤ |delta| · (2w − 1)). The bucketed relation is pinned
    (localCheckpoint) for the same boundary-nondeterminism reason as
    operators.blocking.sorted_neighborhood.
    """
    spark = delta_keys.sparkSession
    num_parts = spark.sparkContext.defaultParallelism
    s = _delta_sn_candidates(state, delta_keys, window)
    s2 = (
        s.repartitionByRange(num_parts, "name_norm", "rid")
        .withColumn("part", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    wp = Window.partitionBy("part").orderBy("name_norm", "rid")
    prev_right = F.lag("right").over(wp)
    flagged = s2.withColumn(
        "_flag",
        F.when(prev_right.isNull(), F.lit(0)).otherwise(
            (F.col("left") > prev_right).cast("long")
        ),
    ).withColumn(
        "_cum",
        F.sum("_flag").over(
            wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    key = F.struct(F.col("name_norm"), F.col("rid"))
    pstats = flagged.groupBy("part").agg(
        F.max("_cum").alias("tot"),
        F.min_by("left", key).alias("first_left"),
        F.max_by("right", key).alias("last_right"),
    )
    # Cross-partition boundary flag: first row of part p opens a new stretch
    # iff its left exceeds the previous non-empty partition's last right.
    prev = pstats.select(
        F.col("part").alias("q"),
        F.col("last_right").alias("q_last"),
        F.col("tot").alias("q_tot"),
    )
    bflag = (
        pstats.join(F.broadcast(prev), F.col("q") < F.col("part"), "left")
        .groupBy("part", "tot", "first_left")
        .agg(F.max_by("q_last", "q").alias("prev_last"))
        .withColumn(
            "bflag",
            F.when(
                F.col("prev_last").isNotNull()
                & (F.col("first_left") > F.col("prev_last")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .select("part", "tot", "bflag")
    )
    prior2 = bflag.select(
        F.col("part").alias("q"), F.col("tot").alias("q_tot"),
        F.col("bflag").alias("q_b"),
    )
    offsets = (
        bflag.join(F.broadcast(prior2), F.col("q") <= F.col("part"), "left")
        .groupBy("part")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("q") < F.col("part"), F.col("q_tot")).otherwise(
                        F.lit(0)
                    )
                    + F.col("q_b")
                ),
                F.lit(0),
            ).alias("offset")
        )
    )
    gapped = flagged.join(F.broadcast(offsets), "part").select(
        "rid",
        "name_norm",
        "is_new",
        (F.col("offset") + F.col("_cum")).alias("gap_id"),
    )
    pairs = sn_window_pairs(gapped, "gap_id", window)
    flags = gapped.select("rid", "is_new")
    f1 = flags.select(F.col("rid").alias("rid1"), F.col("is_new").alias("_n1"))
    f2 = flags.select(F.col("rid").alias("rid2"), F.col("is_new").alias("_n2"))
    kept = (
        pairs.join(f1, "rid1")
        .join(f2, "rid2")
        .filter(F.col("_n1") | F.col("_n2"))
        .select("rid1", "rid2", "block_key")
    )
    return canonical_pairs(kept, dedupe=False)


def incremental_candidate_pairs(
    state: CatalogState,
    work_new: DataFrame,
    cfg: MatcherConfig,
    sn: bool = True,
) -> DataFrame:
    """Multi-pass delta blocking: restricted token pass ∪ delta-touching
    sorted-neighborhood pairs, merged through the same single-shuffle
    meta-union as the batch matcher (identical overlap semantics). Both
    passes are delta-proportional: maintained dfs + index range-join
    (:func:`incremental_token_pairs_state`, :func:`delta_sn_pairs`).
    ``sn=False`` drops the sorted-neighborhood pass entirely — the recall
    path for name-similar-but-token-poor records folds into the periodic
    full re-resolution instead."""

    def tok() -> DataFrame:
        return incremental_token_pairs_state(
            state, work_new, df_cap=cfg.token_df_cap
        )

    if sn:
        # Building either pass runs driver-side collects (the token pass's
        # hash-bucket list, the SN pass's bounds table); the two are
        # independent, so their jobs overlap.
        tok_pairs, sn_pairs = run_parallel(
            work_new.sparkSession,
            tok,
            lambda: delta_sn_pairs(
                state, work_new.select("rid", "name_norm"),
                window=cfg.sn_window,
            ),
        )
    else:
        tok_pairs = tok()
        sn_pairs = tok_pairs.filter(F.lit(False))
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
    ``token_df_cat``, ``sn_index_cat``, ``tok_index_cat`` and
    ``labels_cat`` (plans.catalog_state.derive_catalog_state). ``caller``
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
    sn: bool = True,
    emit: str = "full",
) -> DataFrame:
    """The delta graph after normalize_delta: pairs_delta → score_delta →
    edges_delta → cc_delta → entities_delta, each stage through the sink
    ``stage`` (plans.matcher documents the sinks)."""
    work_new = work_projection(norm_delta)
    pairs = stage(
        "pairs_delta",
        ["normalize_delta"],
        lambda: incremental_candidate_pairs(state, work_new, cfg, sn=sn),
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

    return stage(
        "entities_delta", ["cc_delta", "normalize_delta"], build_entities
    )


def resolve_entities_incremental(
    catalog: DataFrame,
    new_records: DataFrame,
    cfg: MatcherConfig | None = None,
    sn: bool = True,
    state: CatalogState | None = None,
    emit: str = "full",
) -> DataFrame:
    """Resolve ``catalog ∪ new_records`` by linking only the delta: the
    delta graph with the in-memory sink.

    ``catalog`` is a prior resolve_entities / run_pipeline output (the five
    input columns + content_sha + entity_id, entity_id = min rid per
    cluster). ``new_records`` is a raw delta with the five input columns.
    ``state`` supplies the catalog run's persisted normalize stage +
    maintained token-df + key index + labels (plans.catalog_state); without
    it one is derived in memory from the catalog rows.
    ``emit="delta"`` returns only rows whose label could have changed (new
    rows + members of touched entities — an upsert set); ``"full"`` returns
    the whole combined entity table.
    """
    cfg = cfg or MatcherConfig()
    if emit not in ("full", "delta"):
        raise ValueError(f"emit must be 'full' or 'delta', got {emit!r}")
    # The pins: catalog_norm feeds every catalog-state relation and the
    # emit; `pairs_delta` feeds the touched-rid derivation AND both
    # attribute fan-in sides; `edges_delta` feeds the touched-entity
    # derivation AND CC — left lazy, each consumer would re-run the whole
    # blocking plan per evaluation. The delta relations are delta-sized, so
    # the pins are cheap by construction (the parquet sink gets the same
    # effect from its stage writes).
    stage = _InMemorySink(
        "catalog_norm", "normalize_delta", "pairs_delta", "edges_delta"
    ).stage
    state = catalog_side(
        stage, state, catalog, cfg, "resolve_entities_incremental"
    )
    norm_delta = normalize_delta_stage(stage, state, new_records)
    return delta_stages(stage, state, norm_delta, cfg, sn=sn, emit=emit)

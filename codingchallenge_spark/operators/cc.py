"""Transitive closure: large-star / small-star connected components (G1-G5).

Spec: BASELINE.json:6 — "transitive closure via iterative connected-components
(large-star/small-star label propagation on the pair graph) to emit entity
cluster IDs". Algorithm: Kiveris et al., "Connected Components in MapReduce
and Beyond" (SoCC 2014) — alternating large-star/small-star rounds converge in
O(log n) rounds to a star graph per component whose center is the component's
minimum node id.

Pure DataFrame implementation (no GraphFrames — not installed, SURVEY.md §0):
each round is two single-exchange window-min passes plus one dedup shuffle
(4 exchanges/round vs ~7 for the textbook groupBy+join form). Per-round lazy
``localCheckpoint`` truncates the exploding lineage (G4) and is materialized
by the convergence action itself; convergence is an exact structural star-set
test — detected the round it happens, one job per round — rather than a full
exceptAll diff or a fingerprint compared across rounds (G3). Optional durable
``iter_dir`` writes the edge set every round so an
interrupted clustering stage resumes mid-iteration (BASELINE.json:14, EP3).

Scale notes: every round shuffles on node id — 32-byte binary sha256 record
ids (the pipeline unhexes the 64-char hex form once after normalize), i.e.
uniformly distributed keys; skew only arises from genuinely huge components,
which the star construction itself flattens logarithmically. AQE handles the
rest. No driver-side iteration over data — the only per-round action is the
O(1)-result star-set convergence count, which doubles as the job that
materializes the round's lazy localCheckpoint and (via ``observe``) reports
the live edge count for free. That count drives per-round ADAPTIVE
PARALLELISM: when the edge set is small relative to the configured shuffle
partitions, each round's exchanges are re-targeted to
ceil(edges / target_rows_per_partition) partitions instead — explicit
``repartition(n, key)`` satisfies the window/aggregate distribution
requirement, so the exchange count per round is unchanged; only the task
count shrinks. At scale the computed n hits the configured ceiling and the
plans are bit-identical to the non-adaptive form (map-side partial
aggregation preserved); in the small regime — local runs, and the tail
rounds of a converging production job, whose active set shrinks
geometrically — per-round wall stops paying for empty tasks. Paired A/B on
the 100k bench fixture (143k edges, 64 shuffle partitions): a sweep over
round widths bottoms at n≈4-8 (2.10s vs 2.50s CC stage wall at local[32]);
the 25k-rows/partition default picks that region, is a wash at local[8]
(1.68 vs 1.70s), and cures the stage's local anti-scaling (pre-change the CC
stage ran SLOWER at 32 cores than at 8).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _canon_edges(edges: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Undirected canonical form: src < dst, no self-loops, deduped."""
    out = edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    if num_partitions is not None:
        # Replaces (not adds to) the dedup's implicit exchange: hash
        # partitioning on the dedup keys satisfies its required distribution.
        out = out.repartition(num_partitions, "src", "dst")
    return out.dropDuplicates(["src", "dst"])


def _large_star_raw(edges: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Large-star body without canonicalization (duplicates possible, rows
    oriented (larger, min)). The per-u minimum is a whole-partition window
    min — ONE exchange of the symmetric edge list, where the groupBy+join
    form shuffles it twice (once into the aggregate, once into the join).
    The hot-key profile is identical: a high-degree node lands its rows on
    one reducer under either plan."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if num_partitions is not None:
        sym = sym.repartition(num_partitions, "src")
    w = Window.partitionBy("src")
    return (
        sym.withColumn("m", F.least(F.col("src"), F.min("dst").over(w)))
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def large_star(edges: DataFrame) -> DataFrame:
    """G1 — ∀u: connect every strictly-larger neighbor of u to
    m(u) = min(Γ(u) ∪ {u})."""
    return _canon_edges(_large_star_raw(edges))


def _small_star_raw(edges: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Small-star body without canonicalization. One ordered window per
    directed edge list yields both the per-src minimum (first dst in order)
    and a row_number that emits the (src → m) center edge exactly once —
    ONE exchange where the groupBy+join+union form takes two. Min-aggregation
    is duplicate-insensitive, so un-deduped large-star output feeds this
    directly; a single dedup per round happens in the caller's canon.

    Round 6: member and center rows are emitted from ONE windowed pass via a
    conditional explode. The former members ∪ centers union read the shared
    window subtree through two plan branches, and exchange reuse only
    de-duplicates the SHUFFLE — each branch re-ran the window sort, one extra
    stage per CC round. The explode emits the identical row multiset
    (member (dst → m) per row, plus the (src → m) center exactly when
    rn = 1) from a single window stage."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    if num_partitions is not None:
        directed = directed.repartition(num_partitions, "src")
    w = Window.partitionBy("src").orderBy("dst")
    ranked = directed.withColumn("rn", F.row_number().over(w)).withColumn(
        "m", F.first("dst").over(w)
    )
    member = F.struct(F.col("dst").alias("src"), F.col("m").alias("dst"))
    center = F.struct(F.col("src").alias("src"), F.col("m").alias("dst"))
    out = ranked.select(
        F.explode(
            F.when(F.col("rn") == 1, F.array(member, center)).otherwise(
                F.array(member)
            )
        ).alias("_e")
    )
    return out.select("_e.src", "_e.dst")


def small_star(edges: DataFrame) -> DataFrame:
    """G2 — direct each edge large→small; ∀u: connect u and all its smaller
    neighbors to m(u) = min of those neighbors."""
    return _canon_edges(_small_star_raw(edges))


def _star_test_and_count(
    edges: DataFrame, num_partitions: int | None = None
) -> tuple[bool, int]:
    """Exact fixpoint test (G3), one action — also returns the edge count.

    A canonical edge set (src<dst, deduped) is stable under
    large-star/small-star iff it is a disjoint union of stars centered at
    each component's minimum — structurally: no node occurs both as a src
    (center) and a dst (member), and no dst occurs twice (a member of two
    stars). Testing the property of the CURRENT set detects convergence the
    round it happens, where fingerprint-equality between consecutive rounds
    only notices one full (wasted) round later — and a structural test cannot
    false-positive the way a hash collision can.
    Proof sketch: disjoint min-stars are fixed by both steps by direct
    computation; conversely a repeated dst (m1,x),(m2,x) is rewritten by
    small-star to (m1,m2),(m1,x), and a src∩dst node b in (a,b),(b,c) is
    rewritten by large-star — so any non-star-set changes within one round.

    The edge count rides the same action as an ``observe`` metric on the
    roles relation (exactly 2 rows per edge, consumed once — observing
    ``edges`` itself would double-count, since the union scans it twice);
    it costs nothing and feeds the next round's adaptive partition sizing.
    """
    obs = Observation()
    roles = edges.select(
        F.col("src").alias("node"), F.lit(1).alias("s"), F.lit(0).alias("d")
    ).unionByName(
        edges.select(F.col("dst").alias("node"), F.lit(0).alias("s"), F.lit(1).alias("d"))
    ).observe(obs, F.count(F.lit(1)).alias("rows2x"))
    if num_partitions is not None:
        # Small regime only (see _adaptive_partitions): losing map-side
        # partial aggregation is irrelevant at these sizes, bounding the task
        # count is what matters.
        roles = roles.repartition(num_partitions, "node")
    viol = (
        roles.groupBy("node")
        .agg(F.max("s").alias("s"), F.sum("d").alias("d"))
        .filter(((F.col("s") == 1) & (F.col("d") >= 1)) | (F.col("d") >= 2))
    )
    converged = viol.count() == 0
    try:
        n_edges = int(obs.get["rows2x"]) // 2
    except Exception:
        # An EMPTY edge relation is constant-folded away by
        # PropagateEmptyRelation together with the CollectMetrics node, so no
        # metrics row ever materializes and obs.get raises. Empty ⇒ star set
        # ⇒ converged=True, and the caller only consumes the count when NOT
        # converged — 0 is exact there. Any OTHER failure must surface: on a
        # non-converged round a swallowed error would feed n_edges=0 to the
        # adaptive sizing and silently serialize the next round's shuffles
        # of a possibly huge edge set into one partition.
        if not converged:
            raise
        n_edges = 0
    return converged, n_edges


def _is_star_set(edges: DataFrame) -> bool:
    """Convergence predicate alone (tests use this; the loop uses the
    count-carrying form)."""
    return _star_test_and_count(edges)[0]


def _adaptive_partitions(
    n_edges: int, spark, target_rows_per_partition: int
) -> int | None:
    """Per-round exchange width: ceil(edges / target), floored at 1, capped
    at the configured shuffle-partition count. Returns None at or above the
    cap — the round then compiles to exactly the non-adaptive plan (implicit
    exchanges, map-side partial agg preserved), so production-scale behavior
    is untouched; only the small regime (local runs, the geometrically
    shrinking tail rounds of a converging job) gets narrower exchanges."""
    try:
        ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" on some platforms
        return None
    n = max(1, math.ceil(n_edges / target_rows_per_partition))
    return n if n < ceiling else None


@dataclass
class CCResult:
    """``iterations`` counts the rounds run, including the round whose star
    test proved convergence — an input that is already converged reports
    ``iterations=1``. ``converged`` is always True: :func:`connected_components`
    raises instead of returning labels it did not converge to."""

    labels: DataFrame  # [rid, entity_id]
    iterations: int
    converged: bool


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iterations: int = 25,
    iter_dir: str | None = None,
    target_rows_per_partition: int | None = 25_000,
) -> CCResult:
    """G1-G5 — labels[rid, entity_id] with entity_id = min rid in component.

    ``nodes`` (DataFrame with column ``rid``) adds isolated records, which
    label themselves. ``iter_dir`` (optional) persists each round's edge set
    as parquet for mid-stage resume. ``target_rows_per_partition`` sizes each
    round's exchanges to the LIVE edge count (observed for free on the
    previous convergence action) — None disables adaptive sizing. Raises
    ``RuntimeError`` when ``max_iterations`` rounds do not converge.
    """
    spark = edges.sparkSession
    # Lazy local checkpoint: the lineage still truncates (G4), but the data is
    # materialized by the star-test action itself — one job per round instead
    # of an eager-checkpoint job plus a fingerprint job.
    cur = _canon_edges(edges.select("src", "dst")).localCheckpoint(eager=False)
    iterations = 0
    converged = False
    n_edges: int | None = None
    # Round 6: no up-front star test. The old loop spent one full job testing
    # the INPUT before round 1; star steps are identity on a converged set,
    # so running round 1 unconditionally returns the same edges (and labels)
    # while the test rides round 1's own action — one job saved on every
    # invocation, at worst one identity round on an already-converged input.
    # Round 1 is sized at the configured ceiling (n=None) because no observed
    # count exists yet — exactly the non-adaptive production plan.
    #
    # Small-regime rounds (adaptive n fired, i.e. the live edge set is below
    # the partition ceiling) additionally run with AQE DISABLED: under AQE
    # every exchange materializes as its own mini-job with driver re-planning
    # between stages, which at these sizes is pure per-round latency — the
    # round's exchanges are already explicitly sized by n, so AQE has nothing
    # left to decide (coalescing is redundant, and rounds contain no joins
    # for skew-split to act on). Production-width rounds (n=None) keep AQE
    # untouched. Measured ~0.2 s/round on the sf1.0 flagship tail. The flag
    # is restored in a finally even on job failure.
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        while not converged and iterations < max_iterations:
            iterations += 1
            n = (
                _adaptive_partitions(n_edges, spark, target_rows_per_partition)
                if target_rows_per_partition and n_edges is not None
                else None
            )
            spark.conf.set(
                "spark.sql.adaptive.enabled",
                "false" if n is not None else prev_aqe,
            )
            # Raw composition: one canon (dedup shuffle) per round, not two —
            # small-star's min is duplicate-insensitive, so large-star's
            # intermediate dedup would buy nothing.
            nxt = _canon_edges(_small_star_raw(_large_star_raw(cur, n), n), n)
            if iter_dir is not None:
                path = f"{iter_dir}/edges_iter_{iterations:03d}.parquet"
                nxt.write.mode("overwrite").parquet(path)
                nxt = spark.read.parquet(path)
            else:
                nxt = nxt.localCheckpoint(eager=False)
            converged, n_edges = _star_test_and_count(nxt, n)
            cur = nxt
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)

    if not converged:
        # The min-labels of a non-star edge set are not the transitive
        # closure: returning them would silently split entities.
        raise RuntimeError(
            f"connected_components did not converge within max_iterations="
            f"{max_iterations}: {n_edges} live edges remain"
        )
    # At the fixpoint every component is a star centered at its min node:
    # labels = (dst → src) ∪ (src → src) ∪ isolated self-labels.
    member = cur.select(F.col("dst").alias("rid"), F.col("src").alias("entity_id"))
    # Exact BY the star-set property the convergence test just proved: no
    # dst occurs twice and no node is both src and dst — so member rows are
    # already unique per rid and the only duplicates are the per-edge
    # center rows. A keys-only dedup of the centers replaces a groupBy-min:
    # min() over a binary column is not hash-aggregatable (immutable agg
    # buffer), so that form pays a SortAggregate over the whole member ∪
    # center relation; the dedup runs as a plain HashAggregate over the (far
    # smaller) center set. Output multiset is identical (proved by the same
    # property).
    center = (
        cur.select("src")
        .dropDuplicates(["src"])
        .select(F.col("src").alias("rid"), F.col("src").alias("entity_id"))
    )
    labels = member.unionByName(center)
    if nodes is not None:
        labels = (
            nodes.select("rid")
            .dropDuplicates(["rid"])
            .join(labels, "rid", "left")
            .select(
                "rid", F.coalesce("entity_id", F.col("rid")).alias("entity_id")
            )
        )
    return CCResult(labels=labels, iterations=iterations, converged=converged)

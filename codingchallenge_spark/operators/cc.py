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
rest. The only per-round action is the O(1)-result star-set convergence
count, which doubles as the job that materializes the round's lazy
localCheckpoint.

DRIVER FINISH: a distributed round costs a handful of jobs whatever the edge
count, so a graph that fits on the driver is cheaper closed there. The bound
(:func:`_driver_edge_bound`) is the smaller of the driver's collect limit
(``spark.driver.maxResultSize``, 0 = unlimited) and its heap
(``spark.driver.memory``), over a per-edge byte budget. Before round 1 CC
counts the canonical edge set (the count materializes its checkpoint); within
the bound the set is collected and closed on the driver
(:func:`_closure_on_driver`) and no distributed round runs. Above it, rounds
run to the star fixpoint as above.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Driver heap budgeted per collected edge. Measured in local mode on 32-byte
# binary ids, worst case of two fresh nodes per edge: a 1g heap closed 1.5M
# edges and ran out at 2.1M; a 2g heap closed 3M. The Python side peaked at
# under 560 B per edge on top of that.
_DRIVER_BYTES_PER_EDGE = 1024


def _canon_edges(edges: DataFrame) -> DataFrame:
    """Undirected canonical form: src < dst, no self-loops, deduped."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _large_star_raw(edges: DataFrame) -> DataFrame:
    """Large-star body without canonicalization (duplicates possible, rows
    oriented (larger, min)). The per-u minimum is a whole-partition window
    min — ONE exchange of the symmetric edge list, where the groupBy+join
    form shuffles it twice (once into the aggregate, once into the join).
    The hot-key profile is identical: a high-degree node lands its rows on
    one reducer under either plan."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
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


def _small_star_raw(edges: DataFrame) -> DataFrame:
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


def _is_star_set(edges: DataFrame) -> bool:
    """Exact fixpoint test (G3), one action.

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
    """
    roles = edges.select(
        F.col("src").alias("node"), F.lit(1).alias("s"), F.lit(0).alias("d")
    ).unionByName(
        edges.select(F.col("dst").alias("node"), F.lit(0).alias("s"), F.lit(1).alias("d"))
    )
    viol = (
        roles.groupBy("node")
        .agg(F.max("s").alias("s"), F.sum("d").alias("d"))
        .filter(((F.col("s") == 1) & (F.col("d") >= 1)) | (F.col("d") >= 2))
    )
    return viol.count() == 0


def _driver_edge_bound(spark) -> int:
    """Most edges CC collects to the driver: the smaller of
    ``spark.driver.maxResultSize`` (0 = unlimited) and
    ``spark.driver.memory`` over :data:`_DRIVER_BYTES_PER_EDGE` — ~2.1M
    edges at the 2g collect limit ``build_session`` sets, ~1M on a 1g
    driver."""
    conf = spark.sparkContext._jsc.getConf()
    heap = conf.getSizeAsBytes("spark.driver.memory", "1g")
    limit = conf.getSizeAsBytes("spark.driver.maxResultSize", "1g") or heap
    return min(limit, heap) // _DRIVER_BYTES_PER_EDGE


def _closure_on_driver(spark, edges: pa.Table) -> DataFrame:
    """Min-id labels [rid, entity_id] of every node of a collected edge set.

    Ids map to dense ints in Spark's order (sorted unique ids: Arrow compares
    binary and UTF-8 bytewise, unsigned — as Spark does), so the min dense
    int of a component is its min id. Closure is root hooking with pointer
    jumping: each pass hooks the larger root of every edge under the smaller
    (``np.minimum.at``), drops edges whose roots agree, and jumps
    ``par = par[par]`` to a fixpoint. Parents only decrease, so there are no
    cycles and each component's root is its minimum. Unlike per-node
    min-label propagation, whose sweeps grow with the diameter, the pass
    count stays small on long chains."""
    ids = pa.chunked_array(
        edges["src"].chunks + edges["dst"].chunks, type=edges.schema.field("src").type
    )
    uniq = pc.unique(ids)
    uniq = uniq.take(pc.sort_indices(uniq))
    u = pc.index_in(edges["src"], value_set=uniq).to_numpy()
    v = pc.index_in(edges["dst"], value_set=uniq).to_numpy()
    par = np.arange(len(uniq))
    while len(u):
        np.minimum.at(par, np.maximum(u, v), np.minimum(u, v))
        while True:
            nxt = par[par]
            if np.array_equal(nxt, par):
                break
            par = nxt
        u, v = par[u], par[v]
        live = u != v
        u, v = u[live], v[live]
    # Arrow string/binary columns map back to Spark string/binary.
    return spark.createDataFrame(pa.table({"rid": uniq, "entity_id": uniq.take(par)}))


@dataclass
class CCResult:
    """``iterations`` counts the distributed rounds run, including the round
    whose star test proved convergence; a graph closed on the driver reports
    ``iterations=0``. ``converged`` is always True:
    :func:`connected_components` raises instead of returning labels it did
    not converge to."""

    labels: DataFrame  # [rid, entity_id]
    iterations: int
    converged: bool


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iterations: int = 25,
    iter_dir: str | None = None,
) -> CCResult:
    """G1-G5 — labels[rid, entity_id] with entity_id = min rid in component.

    ``nodes`` (DataFrame with column ``rid``) adds isolated records, which
    label themselves. ``iter_dir`` (optional) persists each distributed
    round's edge set as parquet for mid-stage resume. A canonical edge set
    within :func:`_driver_edge_bound` is closed on the driver. Raises
    ``RuntimeError`` when ``max_iterations`` rounds do not converge.
    """
    spark = edges.sparkSession
    # Lazy local checkpoint: the lineage still truncates (G4), and the count
    # materializes it for the collect or round 1 that reads it next.
    cur = _canon_edges(edges.select("src", "dst")).localCheckpoint(eager=False)
    iterations, converged = 0, False
    if cur.count() <= _driver_edge_bound(spark):
        labels = _closure_on_driver(spark, cur.toArrow())
    else:
        while not converged and iterations < max_iterations:
            iterations += 1
            # Raw composition: one canon (dedup shuffle) per round, not two —
            # small-star's min is duplicate-insensitive, so large-star's
            # intermediate dedup would buy nothing.
            nxt = _canon_edges(_small_star_raw(_large_star_raw(cur)))
            if iter_dir is not None:
                path = f"{iter_dir}/edges_iter_{iterations:03d}.parquet"
                nxt.write.mode("overwrite").parquet(path)
                nxt = spark.read.parquet(path)
            else:
                nxt = nxt.localCheckpoint(eager=False)
            converged = _is_star_set(nxt)
            cur = nxt
        if not converged:
            # The min-labels of a non-star edge set are not the transitive
            # closure: returning them would silently split entities.
            raise RuntimeError(
                f"connected_components did not converge within max_iterations="
                f"{max_iterations}: {cur.count()} live edges remain"
            )
        # At the fixpoint every component is a star centered at its min node:
        # labels = (dst → src) ∪ (src → src).
        member = cur.select(F.col("dst").alias("rid"), F.col("src").alias("entity_id"))
        # Exact BY the star-set property the convergence test just proved: no
        # dst occurs twice and no node is both src and dst — so member rows
        # are already unique per rid and the only duplicates are the per-edge
        # center rows. A keys-only dedup of the centers replaces a
        # groupBy-min: min() over a binary column is not hash-aggregatable
        # (immutable agg buffer), so that form pays a SortAggregate over the
        # whole member ∪ center relation; the dedup runs as a plain
        # HashAggregate over the (far smaller) center set. Output multiset is
        # identical (proved by the same property).
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
    return CCResult(labels=labels, iterations=iterations, converged=True)

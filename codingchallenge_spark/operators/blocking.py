"""Blocking / candidate generation — operators B1-B4 (SURVEY.md §2.3).

Spec: BASELINE.json:6 — "deterministic multi-pass blocking (sorted-neighborhood
on normalized name/title keys plus token-based candidate generation via
explode + hash-partitioned self-join) … with explicit salting for hot blocking
keys".

Scale design (the 10^12-file clause):
- Token blocking self-joins on the token's 64-bit hash. Block of size n
  emits n(n-1)/2 pairs — *output* skew that AQE cannot fix after the fact,
  so hot tokens are capped *before* the join via a broadcast anti-join
  against the (tiny) hot-token list. High-df tokens carry no linkage
  signal anyway (they are the corpus's stopwords/keywords).
- Sorted-neighborhood must NOT use a global single-partition window. We
  range-partition by the sort key, run the `lead` window per partition, and
  recover cross-boundary pairs by re-windowing only the (tiny) set of rows
  within w of each partition boundary. Cost: one repartitionByRange + one
  narrow window + one small window — no O(N) single-task stage.
- All pair sets are canonicalized (rid1 < rid2) and deduped so multi-pass
  union is idempotent (B4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_TOKEN_DF_CAP = 100
DEFAULT_SN_WINDOW = 4
DEFAULT_SN_BUCKETS = 32


def canonical_pairs(
    df: DataFrame, c1: str = "rid1", c2: str = "rid2", dedupe: bool = True
) -> DataFrame:
    """B4 — canonical order (rid1 < rid2), no self-pairs, dedup."""
    out = df.select(
        F.least(c1, c2).alias("rid1"),
        F.greatest(c1, c2).alias("rid2"),
        *[c for c in df.columns if c not in (c1, c2)],
    ).filter(F.col("rid1") != F.col("rid2"))
    if dedupe:
        out = out.dropDuplicates(["rid1", "rid2"])
    return out


def token_blocking(
    records_norm: DataFrame,
    df_cap: int = DEFAULT_TOKEN_DF_CAP,
    num_partitions: int | None = None,
    dedupe: bool = True,
) -> DataFrame:
    """B2+B3 — explode the token hashes ``th``, drop hot tokens,
    hash-partitioned self-join.

    Returns DataFrame[rid1, rid2, block_key] with rid1 < rid2, deduped; the
    block key is the shared token's hash. A token is its xxhash64
    (functions.similarity.token_hashes, which states the collision bound),
    so the hot-token groupBy and the self-join both exchange a ``long`` key.

    The hot-token list is computed with one groupBy and broadcast (it is
    small by construction: only tokens with df > cap). The self-join runs on
    the exploded (rid, tok) relation repartitioned by token so both sides
    co-locate; AQE skew-join splits any residual within-cap skew.
    """
    tok = records_norm.select("rid", F.explode("th").alias("tok"))
    hot = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("tok")
    )
    # left_anti against the broadcast hot list: drops uninformative tokens
    # AND bounds the worst-case block size (pair output ≤ cap²/2 per token).
    cold = tok.join(F.broadcast(hot), "tok", "left_anti")
    if num_partitions:
        cold = cold.repartition(num_partitions, "tok")
    # Force the promised hash-partitioned self-join: Catalyst's size estimate
    # for an exploded relation can land under autoBroadcastJoinThreshold, and
    # it then plans a broadcast of the ENTIRE (rid, token) corpus — a serial
    # driver-side build locally and a driver-killer at 10^12-file scale. The
    # shuffle_hash hint co-locates both sides on tok with no sort; per-token
    # build rows are bounded by df_cap, so every per-partition hash relation
    # is small by construction.
    a, b = cold.alias("a"), cold.hint("shuffle_hash").alias("b")
    pairs = (
        a.join(b, "tok")
        .filter(F.col("a.rid") < F.col("b.rid"))
        .select(
            F.col("a.rid").alias("rid1"),
            F.col("b.rid").alias("rid2"),
            F.col("tok").alias("block_key"),
        )
    )
    # dedupe=False lets a multi-pass caller (union_candidates) pay for the
    # pair-dedup shuffle exactly once instead of per pass — at 10^12-file
    # scale the duplicated-pair relation is the biggest intermediate there is.
    if dedupe:
        pairs = pairs.dropDuplicates(["rid1", "rid2"])
    return pairs


def _nbrs_array(w, window: int):
    """Array of the ``window - 1`` successor rids over window spec ``w`` —
    the SN neighbor column. Only the successor's rid is carried (the pair's
    block_key is the SOURCE row's name key), which keeps the windowed
    relation — and sorted_neighborhood's pinned materialization of it —
    narrow."""
    return F.array(*[F.lead("rid", i).over(w) for i in range(1, window)])


def _explode_nbrs(df: DataFrame) -> DataFrame:
    """[rid, name_norm, nbrs] → SN pair rows [rid1, rid2, block_key]."""
    exploded = df.select(
        "rid", "name_norm", F.explode("nbrs").alias("rid2")
    ).filter(F.col("rid2").isNotNull())
    return exploded.select(
        F.col("rid").alias("rid1"),
        "rid2",
        F.concat(F.lit("sn:"), F.col("name_norm")).alias("block_key"),
    )


def sn_window_pairs(df: DataFrame, part_col: str, window: int) -> DataFrame:
    """Pair every row with its ``window - 1`` successors in (name_norm, rid)
    order WITHIN each ``part_col`` group — the seam pass of
    :func:`sorted_neighborhood`, which windows each gap-free stretch of its
    edge rows. ``df`` needs [rid, name_norm, part_col]."""
    w = Window.partitionBy(part_col).orderBy("name_norm", "rid")
    return _explode_nbrs(
        df.select("rid", "name_norm", _nbrs_array(w, window).alias("nbrs"))
    )


def sorted_neighborhood(
    records_norm: DataFrame,
    window: int = DEFAULT_SN_WINDOW,
    num_buckets: int = DEFAULT_SN_BUCKETS,
    dedupe: bool = True,
) -> DataFrame:
    """B1 — sorted-neighborhood blocking on (name_norm, rid).

    Sort all records by the normalized name key and pair each record with its
    ``window - 1`` successors. Scale form: range-partition on the key into
    ``num_buckets`` ranges, window *within* each partition (narrow, parallel),
    then patch the seams: rows within ``window`` of a partition edge are
    re-windowed in a second, tiny pass restricted to edge neighborhoods.
    Output is EXACTLY the single-sort global SN pair set (the seam pass is
    gap-aware — see inline comment), independent of bucket boundaries.

    Deterministic: sort key is (name_norm, rid) — total order, no ties.
    Returns DataFrame[rid1, rid2, block_key] canonical + deduped.
    """
    keyed = records_norm.select("rid", "name_norm")
    # The seam pass below is only exact if the inner pass, the edge-row pass
    # and the per-partition size table all observe the SAME range boundaries.
    # That is NOT guaranteed by the plan alone: repartitionByRange samples
    # its boundaries with a seed derived from the physical RDD id, so two
    # executions of this sub-plan (exchange reuse is not promised across the
    # three consumers, and the id shifts with session history) can pick
    # DIFFERENT boundaries — the seam then patches boundaries the inner pass
    # never had, silently dropping cross-boundary pairs (observed: 186 of
    # 300k pairs on the 100k bench fixture, varying with what ran earlier in
    # the session). A lazy localCheckpoint pins ONE materialization of the
    # bucketed relation — every consumer reads the same blocks, so
    # ``spark_partition_id`` is a stable data property. Cost: one
    # materialization of the 2-column keyed relation, paid by the first
    # action (the same pattern as operators.cc's per-round checkpoint).
    # Fault-tolerance tradeoff: localCheckpoint stores NON-replicated
    # executor-local blocks with lineage truncated — on a real cluster an
    # executor lost between the three consumers fails the job unrecoverably.
    # A deployment on flaky hardware should swap this for a replicated
    # persist (StorageLevel.MEMORY_AND_DISK_2) or a reliable checkpoint to
    # the cluster FS; the determinism requirement is "one pinned
    # materialization", not this specific storage mechanism.
    #
    # ONE window pass: the neighbor structs (the SN output itself) and the
    # ascending row number ride the same Window spec → one sort of the
    # bucketed relation, inside the pinned materialization. Round 3 pinned
    # the 2-column keyed relation and paid three window sorts over it
    # (inner-pairs lead, rn ascending, rn descending); the descending number
    # is n − rn_a + 1 from the per-partition size table the seam already
    # builds, and pinning AFTER the window makes every consumer read the
    # sorted+windowed blocks — measured ≥25% off the blocking stage at both
    # 8/32 cores (BENCH/BASELINE.md round-4 note).
    wp = Window.partitionBy("part").orderBy("name_norm", "rid")
    base = (
        keyed.repartitionByRange(num_buckets, "name_norm", "rid")
        .withColumn("part", F.spark_partition_id())
        .select(
            "rid",
            "name_norm",
            "part",
            _nbrs_array(wp, window).alias("nbrs"),
            F.row_number().over(wp).alias("rn_a"),
        )
        .localCheckpoint(eager=False)
    )

    inner = _explode_nbrs(base)

    # Seam pass: recover pairs that cross range-partition boundaries. Edge
    # rows = first/last `window` rows of each partition (≤ 2·window·buckets
    # rows total; tail test: rn_a > n − window ⟺ descending rank ≤ window).
    # Any true global pair (distance < window) that crosses a boundary lies
    # entirely inside the edge set AND inside one gap-free stretch of it:
    # the edge set, read in global (name_norm, rid) order, is globally
    # contiguous except where a partition with > 2·window rows jumps from
    # its head block to its tail block. Windowing by ``gap_id`` (stretch
    # index) therefore yields EXACTLY the missing global pairs — no spurious
    # head→tail pairs (they'd cross a gap), no constant-partition window
    # (gap_id is a data-derived column, so Catalyst can't fold it away).
    # This makes bucketed SN output identical to single-sort global SN — which
    # is what the flagship's DuckDB oracle (plain lead() over one ORDER BY)
    # computes.
    #
    # Tiny per-partition size table (≤ num_buckets rows): a partition is
    # "gapped" iff interior rows were dropped (n > 2·window). gaps_before =
    # number of gapped partitions preceding it (non-equi self-join over the
    # metadata-sized table — no window, no cumsum over a constant partition).
    parts = base.groupBy("part").agg(F.count("*").alias("n"))
    prior = parts.select(
        F.col("part").alias("q"), (F.col("n") > 2 * window).cast("long").alias("g")
    )
    gaps_before = (
        parts.join(F.broadcast(prior), F.col("q") < F.col("part"), "left")
        .groupBy("part", "n")
        .agg(F.coalesce(F.sum("g"), F.lit(0)).alias("gaps_before"))
    )
    seam_rows = (
        base.join(F.broadcast(gaps_before), "part")
        .filter(
            (F.col("rn_a") <= window) | (F.col("rn_a") > F.col("n") - window)
        )
        .select(
            "rid",
            "name_norm",
            (
                F.col("gaps_before")
                + F.when(
                    (F.col("n") > 2 * window) & (F.col("rn_a") > window),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("gap_id"),
        )
    )
    seam = sn_window_pairs(seam_rows, "gap_id", window)

    return canonical_pairs(inner.unionByName(seam), dedupe=dedupe)


def union_candidates(*pair_dfs: DataFrame) -> DataFrame:
    """B4 — union multi-pass candidate sets, canonical + dedup.

    Keeps the first-seen block_key per pair (min for determinism).
    """
    out = pair_dfs[0]
    for df in pair_dfs[1:]:
        out = out.unionByName(df)
    return out.groupBy("rid1", "rid2").agg(F.min("block_key").alias("block_key"))


def union_candidates_meta(
    token_pairs: DataFrame,
    sn_pairs: DataFrame,
    min_token_overlap: int = 1,
) -> DataFrame:
    """B4 with meta-blocking: dedup + common-token filter in ONE shuffle.

    ``token_pairs`` must be the NON-deduped token-pass output (dedupe=False),
    where each row is one shared sub-cap token — so count(rows) per pair IS
    the pair's shared-blocking-token count, for free. Pairs sharing fewer
    than ``min_token_overlap`` blocking tokens are dropped unless the
    sorted-neighborhood pass also proposed them (name evidence).

    This is the pair-volume lever at 10^12-file scale: one-shared-rare-token
    coincidences dominate raw token-blocking output (≳90% of pairs here) and
    essentially never score above threshold; requiring a second shared token
    removes them before any attribute is shipped. (Meta-blocking à la
    Papadakis et al.; exempting SN pairs keeps the recall path for
    name-similar records.)

    The block keys are dropped (a token pair's is the token hash, an SN
    pair's a string), so the dedup aggregates only primitives and runs as a
    partial-agg HashAggregate, not a sort of the biggest relation in the
    pipeline. Returns DataFrame[rid1, rid2].
    """
    tok = token_pairs.select("rid1", "rid2", F.lit(1).alias("_tok"))
    sn = sn_pairs.select("rid1", "rid2", F.lit(0).alias("_tok"))
    agg = tok.unionByName(sn).groupBy("rid1", "rid2").agg(
        F.sum("_tok").alias("_tok_overlap"),
        F.max(1 - F.col("_tok")).alias("_in_sn"),
    )
    return agg.filter(
        (F.col("_tok_overlap") >= F.lit(min_token_overlap)) | (F.col("_in_sn") == 1)
    ).select("rid1", "rid2")


def salted_join(
    pairs: DataFrame,
    records: DataFrame,
    pair_key: str,
    salt_buckets: int = 16,
    select_alias: str | None = None,
) -> DataFrame:
    """Skew-safe attribute fan-in join (J3 with explicit salting, B3).

    A hot record (one appearing in very many candidate pairs) makes the plain
    pairs⋈records join skew on its rid. Salt deterministically: the pairs side
    gets salt = xxhash64(other fields) mod S; the records side is exploded to
    all S salts. Shuffle keys become (rid, salt) → the hot rid spreads over S
    partitions. Deterministic (hash salt, no rand()).
    """
    salted_pairs = pairs.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col("rid1"), F.col("rid2")), F.lit(salt_buckets)).cast(
            "int"
        ),
    )
    salted_records = records.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    joined = salted_pairs.join(
        salted_records,
        (salted_pairs[pair_key] == salted_records["rid"])
        & (salted_pairs["_salt"] == salted_records["_salt"]),
    )
    drop_cols = [salted_records["rid"], salted_pairs["_salt"], salted_records["_salt"]]
    out = joined
    for c in drop_cols:
        out = out.drop(c)
    return out

"""Pairwise scoring over candidate pairs — J3, V4 (SURVEY.md §2.4/2.8).

Spec: BASELINE.json:6 — "pairwise scoring with vectorized pandas/Arrow UDFs
computing batched Jaro-Winkler/Levenshtein and token-Jaccard similarities over
candidate pairs".

One production scorer, :func:`score_pairs_fused`:
  cand_pairs ⋈ records_norm(rid1) ⋈ records_norm(rid2)   (attribute fan-in,
    one join round per side shipping (name_norm, th) together)
  → codegen'd size-ratio pre-prune
  → native Jaccard: one array_intersect count per pair, in the JVM
  → codegen'd exact score-bound filter
  → ONE narrow ArrowEvalPython crossing: jw + lev on survivor names only
  → codegen'd weighted blend + threshold.
rids, token hashes and the jaccard column never cross into Python.

:func:`attach_pair_attrs` + :func:`score_pairs` are the unpruned REFERENCE
scorer: every candidate pair scored, jaccard over the token strings, so its
input keeps ``tokens`` (normalize_records plus token_hashes). Tests check
the production scorer against it and read exact scores of pairs the
production prune drops (the flagship's threshold-margin gate).

Only the *name keys and token hashes* travel into the joins — never
``content`` (the wide column stays at the scan; SURVEY.md §4 column pruning).
The fan-in join is optionally salted (operators.blocking.salted_join) when a
record participates in pathologically many pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codingchallenge_spark.functions.similarity import (
    array_size,
    intersect_size,
    jaccard_from_counts,
    jaro_winkler_udf,
    levenshtein_ratio_udf,
    token_jaccard,
)
from codingchallenge_spark.operators.blocking import salted_join

DEFAULT_WEIGHTS = {"jw": 0.2, "lev": 0.2, "jaccard": 0.6}
DEFAULT_THRESHOLD = 0.72

_ATTR_COLS = ["rid", "name_norm", "tokens"]


def attach_pair_attrs(
    pairs: DataFrame, records_norm: DataFrame, salt_buckets: int = 0
) -> DataFrame:
    """J3 — candidate pairs ⋈ record attributes (twice: rid1 then rid2), the
    input of the reference scorer :func:`score_pairs`.

    ``salt_buckets > 0`` switches to the deterministic salted join for hot
    record ids (B3). Attribute projection is narrow: (rid, name_norm, tokens).
    """
    attrs = records_norm.select(*_ATTR_COLS)
    a1 = attrs.select(
        F.col("rid").alias("rid1"),
        F.col("name_norm").alias("name1"),
        F.col("tokens").alias("tokens1"),
    )
    a2 = attrs.select(
        F.col("rid").alias("rid2"),
        F.col("name_norm").alias("name2"),
        F.col("tokens").alias("tokens2"),
    )
    if salt_buckets > 0:
        out = salted_join(pairs, attrs, "rid1", salt_buckets)
        out = out.withColumnsRenamed({"name_norm": "name1", "tokens": "tokens1"})
        out = salted_join(out, attrs, "rid2", salt_buckets)
        out = out.withColumnsRenamed({"name_norm": "name2", "tokens": "tokens2"})
        return out
    return pairs.join(a1, "rid1").join(a2, "rid2")


def score_pairs(
    pairs_with_attrs: DataFrame,
    weights: dict[str, float] | None = None,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Reference scorer over :func:`attach_pair_attrs` output: V1+V2 via one
    Arrow crossing, V3 native over the token strings, V4 blend — for EVERY
    pair, no prune. Not on any production path: tests hold
    :func:`score_pairs_fused` equal to it, and the flagship's
    threshold-margin test (tests/test_query_pack.py) reads the exact scores
    of pairs the production prune drops from it.

    Returns scored_pairs[rid1, rid2, block_key?, jw, lev, jaccard, score].
    """
    w = weights or DEFAULT_WEIGHTS
    scored = pairs_with_attrs.withColumns(
        {
            # Two scalar pandas UDFs in one projection → single
            # ArrowEvalPython node (one JVM↔Python round trip per batch).
            "jw": jaro_winkler_udf("name1", "name2"),
            "lev": levenshtein_ratio_udf("name1", "name2"),
            # JVM-side, codegen'd — no crossing at all.
            "jaccard": token_jaccard("tokens1", "tokens2"),
        }
    ).withColumn(
        "score",
        F.col("jw") * F.lit(w["jw"])
        + F.col("lev") * F.lit(w["lev"])
        + F.col("jaccard") * F.lit(w["jaccard"]),
    )
    keep = [c for c in ("rid1", "rid2", "block_key") if c in pairs_with_attrs.columns]
    return scored.select(*keep, "jw", "lev", "jaccard", "score")


def fused_pair_attrs(
    pairs: DataFrame, records_norm: DataFrame, salt_buckets: int = 0
) -> DataFrame:
    """Single-round attribute fan-in for the fused scorer: each side joined
    ONCE, shipping (name_norm, th) together. Half the joins / broadcast
    builds of a jaccard-then-names two-round plan."""
    keep = [c for c in ("rid1", "rid2", "block_key") if c in pairs.columns]
    attrs = records_norm.select("rid", "name_norm", "th")
    if salt_buckets > 0:
        joined = salted_join(pairs, attrs, "rid1", salt_buckets)
        joined = joined.withColumnsRenamed({"name_norm": "name1", "th": "th1"})
        joined = salted_join(joined, attrs, "rid2", salt_buckets)
        joined = joined.withColumnsRenamed({"name_norm": "name2", "th": "th2"})
    else:
        a1 = attrs.select(
            F.col("rid").alias("rid1"),
            F.col("name_norm").alias("name1"),
            F.col("th").alias("th1"),
        )
        a2 = attrs.select(
            F.col("rid").alias("rid2"),
            F.col("name_norm").alias("name2"),
            F.col("th").alias("th2"),
        )
        joined = pairs.join(a1, "rid1").join(a2, "rid2")
    return joined.select(*keep, "name1", "name2", "th1", "th2")


def fused_score_from_attrs(
    joined: DataFrame,
    weights: dict[str, float] | None = None,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Production scoring body over :func:`fused_pair_attrs` output: the
    Jaccard is native, and one NARROW Arrow crossing ships only the
    survivors' name keys.

    Plan (all steps in one stage — the filters are narrow):
      1. exact SIZE-RATIO pre-prune, codegen'd: jaccard ≤ min(n1,n2)/max(n1,n2)
         from two ints;
      2. native Jaccard (:func:`jaccard_from_counts`): ``array_intersect``
         of th1/th2 is counted ONCE per surviving pair;
      3. codegen'd filter on the exact score upper bound
         (score ≤ w_jw + w_lev + w_jac·jaccard < threshold → drop);
      4. the one crossing — adjacent jw/lev scalar UDFs (one ArrowEvalPython
         node) over the SURVIVORS' name keys only;
      5. codegen'd weighted blend.

    ArrowEvalPython ships only its UDFs' argument columns, so rids, th and
    jaccard stay in the JVM: th is the widest column of a pair (two 64-bit
    hash arrays), and its Arrow transfer would cost more than the count.

    The intersect count is bound through ``explode(array(i))``: Catalyst
    cannot push the bound filter or collapse a projection through a
    Generate, so the filter, the jaccard column and the blend all read the
    one count. Written as a plain column, the count is inlined into the join
    condition three times and into the projection once more.
    """
    w = weights or DEFAULT_WEIGHTS
    keep = [c for c in ("rid1", "rid2", "block_key") if c in joined.columns]
    min_jac = 0.0
    if w["jaccard"] > 0:
        min_jac = (threshold - w["jw"] - w["lev"]) / w["jaccard"]
    n1, n2 = array_size("th1"), array_size("th2")
    if min_jac > 0:
        # Exact: every row dropped here fails step-3's jaccard bound too
        # (both-empty pairs pass 0 ≥ 0 and keep their jaccard=1.0 path).
        joined = joined.filter(
            F.least(n1, n2) >= F.lit(min_jac) * F.greatest(n1, n2)
        )
    scored = joined.select(
        *keep,
        "name1",
        "name2",
        n1.alias("_n1"),
        n2.alias("_n2"),
        F.explode(F.array(intersect_size("th1", "th2"))).alias("_i"),
    )
    scored = scored.withColumn(
        "jaccard", jaccard_from_counts(F.col("_i"), F.col("_n1"), F.col("_n2"))
    )
    if min_jac > 0:
        scored = scored.filter(F.col("jaccard") >= F.lit(min_jac))
    scored = scored.withColumns(
        {
            # Adjacent scalar pandas UDFs in one projection → a single
            # ArrowEvalPython node; name1/name2 ship once, doubles return.
            "jw": jaro_winkler_udf("name1", "name2"),
            "lev": levenshtein_ratio_udf("name1", "name2"),
        }
    )
    scored = scored.withColumn(
        "score",
        F.col("jw") * F.lit(w["jw"])
        + F.col("lev") * F.lit(w["lev"])
        + F.col("jaccard") * F.lit(w["jaccard"]),
    )
    return scored.select(*keep, "jw", "lev", "jaccard", "score")


def score_pairs_fused(
    pairs: DataFrame,
    records_norm: DataFrame,
    weights: dict[str, float] | None = None,
    threshold: float = DEFAULT_THRESHOLD,
    salt_buckets: int = 0,
) -> DataFrame:
    """Production scorer: single attribute join round per side
    (:func:`fused_pair_attrs`), then the narrow-crossing scoring body
    (:func:`fused_score_from_attrs`). Every emitted row equals the
    reference :func:`score_pairs` row of the same pair, and the two yield the
    same edge set (tested equal)."""
    joined = fused_pair_attrs(pairs, records_norm, salt_buckets)
    return fused_score_from_attrs(joined, weights=weights, threshold=threshold)


def edges_from_scores(
    scored: DataFrame, threshold: float = DEFAULT_THRESHOLD
) -> DataFrame:
    """Threshold filter → match-graph edge list (input to CC)."""
    return scored.filter(F.col("score") >= F.lit(threshold)).select(
        F.col("rid1").alias("src"), F.col("rid2").alias("dst")
    )

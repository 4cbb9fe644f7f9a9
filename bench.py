#!/usr/bin/env python3
"""Per-round benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` (default 32) and
prints ONE JSON line::

    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Each query is forced to full materialization with a ``noop`` sink (all
partitions computed, nothing collected to the driver — the same shape a
cluster job has). The headline set covers every engine surface: the flagship
entity-resolution plan (multi-pass blocking → pruned Arrow scoring →
large-star/small-star CC), the relational core (scan/filter/join/agg/window),
token blocking's explode + self-join shuffle shape, MinHash-LSH dedup, text
quality metrics, and brute-force cosine top-k over embeddings.

Scaling-efficiency evidence (local[8] vs local[32]) is recorded in
``BENCH/BASELINE.md``; per-layer numbers come from
``python3 perfbench/run.py --trace 1``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

_REPO_ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(_REPO_ROOT))

from codingchallenge_spark.plans import query_pack  # noqa: E402
from codingchallenge_spark.session import build_session  # noqa: E402

# Ordered headline set: name -> query_pack entry. The ER flagship runs last so
# its persist/unpersist churn never skews the relational timings.
# q_minhash_lsh_prod is the registered production-capped LSH plan (since
# round 3 it is also the 50th driver-recorded query, with a HAVING>cap
# anti-join DuckDB twin); q_minhash_lsh_pairs stays the uncapped oracle shape.
HEADLINE = [
    "q_groupby_agg",        # TPC-H Q1 shape: 600k-row hash aggregate
    "q_double_join_agg",    # lineitem ⋈ orders ⋈ customer fan-in
    "q_window_lead",        # partitioned window over 100k events
    "q_topk_per_group",     # row_number + filter (per-group top-k)
    "q_jaccard_pairs",      # blocked pair scoring, JVM-native Jaccard
    "q_dedup_fingerprint",  # order-invariant doc fingerprint dedup
    "q_minhash_lsh_prod",   # MinHash + banded LSH, production band cap
    "q_quality",            # text quality metrics (JVM-side, codegen)
    "q_cosine_topk",        # brute-force ANN baseline over embeddings
    "q_er_entities",        # flagship: full record-linkage plan + CC
]

def _force(df) -> int:
    """Materialize every partition without driver-side collect."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    spark = build_session(
        app_name="ccspark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 8),
    )
    spark.sparkContext.setLogLevel("WARN")

    queries = query_pack.queries()
    # Warm-up, off the clock: JVM + codegen + parquet footer reads, and the
    # Python worker pool (creation is serialized JVM-wide and pays the heavy
    # imports once per worker — a one-time executor cost that a steady-state
    # throughput measurement must not attribute to the first Arrow query).
    _force(queries["q_scan_project"](spark, sf_dir))
    import pandas as pd  # noqa: PLC0415

    n_workers = spark.sparkContext.defaultParallelism
    spark.range(n_workers * 10, numPartitions=n_workers).mapInPandas(
        lambda it: (pd.DataFrame({"id": pdf["id"]}) for pdf in it), "id long"
    ).write.format("noop").mode("overwrite").save()
    # First DataFrame.rdd access initializes Py4J's Python-RDD serializer
    # machinery (~1.1s measured) — a session fixed cost the flagship's
    # partition-floor check would otherwise pay on the clock.
    spark.range(1).rdd.getNumPartitions()

    # INTERLEAVED passes with per-query minima: this shared VM sees
    # intermittent hypervisor-neighbor interference (identical runs measured
    # 2-3× apart minutes apart — BENCH/BASELINE.md documents the effect; the
    # round-4 driver artifact recorded a 1.24× regression the builder's
    # same-code run did not show). Back-to-back repeats of ONE query all land
    # in the same slow window, so min-of-3-consecutive does not armor against
    # it; interleaving whole passes over the query list (the repo's paired-A/B
    # lesson) spreads each query's samples across the session so one slow
    # window cannot own every sample of any query. Five passes: the first
    # additionally pays each plan's whole-stage-codegen JIT (measured on the
    # flagship: 9.2 / 6.0 / 5.7s for runs 1-3 in one session), leaving four
    # JIT-free samples per query. All runs are full materializations of the
    # same plan; nothing is cached between them beyond the session-level warm
    # state every run shares.
    #
    # Window-quality marker: a cheap fixed reference query (projection scan,
    # plan constant across rounds) is timed at the start of every pass. Its
    # per-pass spread is recorded in the JSON so a slow hypervisor window is
    # visible IN the round artifact: ref_spread ≈ 1 means clean windows
    # (totals comparable across rounds); ref_spread ≫ 1 attributes an
    # inflated total to the environment, not the engine.
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5"))
    ref_secs: list[float] = []
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(n_passes):
        t0 = time.perf_counter()
        _force(queries["q_scan_project"](spark, sf_dir))
        ref_secs.append(round(time.perf_counter() - t0, 3))
        for name in HEADLINE:
            t0 = time.perf_counter()
            _force(queries[name](spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
            # Drop relations the query persisted: Spark's CacheManager
            # substitutes cached plans by logical-plan equality, so without
            # this the repeat run would silently reuse the first run's
            # persisted normalize relation and under-measure the query.
            spark.catalog.clearCache()
    timings = {name: round(min(s), 3) for name, s in samples.items()}

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "passes": n_passes,
                "window_ref_sec": ref_secs,
                # Spread over passes 2..N: the first pass's ref sample still
                # carries session warm-up drift (measured 0.58 vs 0.15-0.26s
                # steady-state) that would masquerade as window noise. The
                # full per-pass list above keeps pass 1 visible regardless.
                "window_ref_spread": round(
                    max(ref_secs[1:]) / min(ref_secs[1:]), 2
                )
                if n_passes > 2
                else round(max(ref_secs) / min(ref_secs), 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

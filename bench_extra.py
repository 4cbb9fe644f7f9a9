#!/usr/bin/env python3
"""Round-6 optimization harness: noop-sink isolation of the hot headline
queries and their candidate optimized variants (guide §1.4). NOT part of the
driver contract — bench.py stays the frozen measurement surface; numbers from
here are cited in OPTIMIZATION_r06.md.

Measurement protocol: all variants of a target are warmed once, then timed in
INTERLEAVED passes (variant A, B, C, A, B, C, ...) with per-variant minima —
this box sees multi-second hypervisor-noise windows (BENCH/BASELINE.md), and
back-to-back repeats of one variant can land entirely inside one window.

Usage: python bench_extra.py <target> [passes]
Targets: lsh, jaccard, cosine, er, relational, all
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO_ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(_REPO_ROOT))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from codingchallenge_spark.plans import query_pack  # noqa: E402
from codingchallenge_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PASSES = int(sys.argv[2]) if len(sys.argv) > 2 else 4

spark = build_session(
    app_name="ccspark-bench-extra",
    master=f"local[{CPUS}]",
    shuffle_partitions=max(2 * CPUS, 8),
)
spark.sparkContext.setLogLevel("ERROR")

results: dict[str, object] = {}


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed_set(variants: list[tuple[str, object]], passes: int | None = None):
    """Interleaved min-of-passes timing of a list of (name, thunk)."""
    sc = spark.sparkContext
    samples: dict[str, list[float]] = {name: [] for name, _ in variants}
    for name, thunk in variants:  # warm pass, off the clock
        sc.setJobDescription(f"warm:{name}")
        thunk()
        spark.catalog.clearCache()
    for _ in range(passes or PASSES):
        for name, thunk in variants:
            sc.setJobDescription(name)
            t0 = time.perf_counter()
            thunk()
            samples[name].append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
    sc.setJobDescription(None)
    for name, secs in samples.items():
        results[name] = {"secs": secs, "min": min(secs)}
        print(name, results[name], flush=True)


def warmup():
    queries = query_pack.queries()
    noop(queries["q_scan_project"](spark, SF_DIR))
    import pandas as pd

    n_workers = spark.sparkContext.defaultParallelism
    spark.range(n_workers * 10, numPartitions=n_workers).mapInPandas(
        lambda it: (pd.DataFrame({"id": pdf["id"]}) for pdf in it), "id long"
    ).write.format("noop").mode("overwrite").save()
    spark.range(1).rdd.getNumPartitions()


def docs_toks():
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )


def _lsh_tail(sig, band_df_cap=200, persist_buckets=False):
    """Band buckets → hot cap → self-join → pair dedup. Mirrors the
    production tail (struct bucket keys since round 6; the sha256-string
    numbers early in the round were measured against the pre-change form)."""
    rows_per_band = 2
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            *[
                F.element_at("sig", b * rows_per_band + j + 1).alias(f"v{j}")
                for j in range(rows_per_band)
            ],
        ).alias("bucket")
        for b in range(4)
    ]
    buckets = sig.select("_id", F.explode(F.array(*band_cols)).alias("bucket"))
    if persist_buckets:
        buckets = buckets.persist()
    hot = (
        buckets.groupBy("bucket").agg(F.count("*").alias("c"))
        .filter(F.col("c") > band_df_cap).select("bucket")
    )
    cold = buckets.join(F.broadcast(hot), "bucket", "left_anti")
    a, b = cold.alias("a"), cold.hint("shuffle_hash").alias("b")
    return (
        a.join(b, "bucket")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )


def dict_sig(d, k=8):
    from codingchallenge_spark.operators.dedup import portable_hash64

    tok = d.select(F.col("doc_id").alias("_id"), F.explode("toks").alias("_t"))
    vocab = tok.select("_t").distinct().select(
        "_t", *[portable_hash64(F.col("_t"), salt=i).alias(f"_h{i}") for i in range(k)]
    )
    sig = (
        tok.join(vocab, "_t")
        .groupBy("_id")
        .agg(*[F.min(f"_h{i}").alias(f"_mh{i}") for i in range(k)])
    )
    return sig.select("_id", F.array(*[F.col(f"_mh{i}") for i in range(k)]).alias("sig"))


def run_lsh():
    from codingchallenge_spark.operators.dedup import minhash_signature_exploded

    queries = query_pack.queries()
    timed_set([
        ("lsh/full_current", lambda: noop(queries["q_minhash_lsh_prod"](spark, SF_DIR))),
        ("lsh/sig_only", lambda: noop(
            minhash_signature_exploded(docs_toks(), "doc_id", "toks", 8))),
        ("lsh/dict_sig_only", lambda: noop(dict_sig(docs_toks()))),
        ("lsh/dict_full", lambda: noop(_lsh_tail(dict_sig(docs_toks())))),
        ("lsh/dict_full_persist", lambda: noop(
            _lsh_tail(dict_sig(docs_toks()), persist_buckets=True))),
    ])


# ---------------------------------------------------------------------------
def run_jaccard():
    queries = query_pack.queries()

    def base_d():
        return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "lang", "n_chars",
            F.array_distinct(F.split("text", " ")).alias("toks"),
        )

    def join_only():
        d = base_d()
        a, b = d.alias("a"), d.alias("b")
        noop(a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.n_chars") == F.col("b.n_chars"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")))

    def variant_sizes():
        d = base_d().withColumn("n", F.size("toks"))
        a, b = d.alias("a"), d.alias("b")
        paired = a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.n_chars") == F.col("b.n_chars"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.size(F.array_intersect("a.toks", "b.toks")).alias("_i"),
            (F.col("a.n") + F.col("b.n")).alias("_t"),
        )
        noop(paired.select(
            "d1", "d2",
            F.when(
                (F.col("_t") - F.col("_i")) > 0,
                F.col("_i") / (F.col("_t") - F.col("_i")),
            ).otherwise(F.lit(1.0)).alias("jaccard"),
        ))

    def variant_hashed():
        from codingchallenge_spark.functions.similarity import hashed_jaccard_udf

        d = base_d().withColumn(
            "th", F.array_sort(F.transform("toks", lambda t: F.xxhash64(t)))
        ).select("doc_id", "lang", "n_chars", "th")
        a, b = d.alias("a"), d.alias("b")
        noop(a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.n_chars") == F.col("b.n_chars"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hashed_jaccard_udf("a.th", "b.th").alias("jaccard"),
        ))

    timed_set([
        ("jac/full_current", lambda: noop(queries["q_jaccard_pairs"](spark, SF_DIR))),
        ("jac/join_only", join_only),
        ("jac/sizes_single_intersect", variant_sizes),
        ("jac/hashed_kernel", variant_hashed),
    ])


# ---------------------------------------------------------------------------
def run_cosine():
    queries = query_pack.queries()

    def fold_norm(vd):
        return F.sqrt(F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x))

    def variant_prenorm(expand_dot: bool):
        e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        corpus = e.select(
            F.col("vec_id").alias("neighbor_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("_cv"),
        ).withColumn("_cn", fold_norm(F.col("_cv")))
        q = e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("_qv"),
        ).withColumn("_qn", fold_norm(F.col("_qv")))
        dim = 64
        slow = F.aggregate(
            F.zip_with("_cv", "_qv", lambda x, y: x * y),
            F.lit(0.0),
            lambda a2, x: a2 + x,
        )
        if expand_dot:
            acc = F.lit(0.0)
            for i in range(1, dim + 1):
                acc = acc + F.element_at("_cv", i) * F.element_at("_qv", i)
            dot = F.when(
                (F.size("_cv") == dim) & (F.size("_qv") == dim), acc
            ).otherwise(slow)
        else:
            dot = slow
        denom = F.col("_cn") * F.col("_qn")
        scored = (
            corpus.crossJoin(F.broadcast(q))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn(
                "cos",
                F.round(F.when(denom > 0, dot / denom).otherwise(F.lit(0.0)), 6),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id")
        )
        noop(
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("query_id", "neighbor_id", "cos", "rank")
        )

    timed_set([
        ("cos/full_current", lambda: noop(queries["q_cosine_topk"](spark, SF_DIR))),
        ("cos/prenorm_fold_dot", lambda: variant_prenorm(False)),
        ("cos/prenorm_expand_dot", lambda: variant_prenorm(True)),
    ])


# ---------------------------------------------------------------------------
def run_er():
    from codingchallenge_spark.functions.normalize import (
        normalize_for_matching,
        work_projection,
    )
    from codingchallenge_spark.operators.cc import connected_components
    from codingchallenge_spark.operators.scoring import (
        edges_from_scores,
        score_pairs_fused,
    )
    from codingchallenge_spark.plans.matcher import (
        MatcherConfig,
        candidate_pairs,
        emit_entities,
    )
    from codingchallenge_spark.sources.records import documents_as_records

    queries = query_pack.queries()
    timed_set([
        ("er/full_current", lambda: noop(queries["q_er_entities"](spark, SF_DIR))),
    ], passes=PASSES)

    cfg = MatcherConfig(threshold=0.75)
    norm = normalize_for_matching(documents_as_records(spark, SF_DIR))
    # stage-isolated (persisted inputs) — measured sequentially, noise noted
    def stage(name, thunk):
        sc = spark.sparkContext
        sc.setJobDescription(name)
        thunk()
        secs = []
        for _ in range(PASSES):
            t0 = time.perf_counter()
            thunk()
            secs.append(round(time.perf_counter() - t0, 3))
        results[name] = {"secs": secs, "min": min(secs)}
        print(name, results[name], flush=True)

    stage("er/normalize", lambda: noop(norm))
    normp = norm.persist(); normp.count()
    work = work_projection(normp)
    pairs = candidate_pairs(work, cfg)
    stage("er/blocking", lambda: noop(pairs))
    pairsp = pairs.persist(); pairsp.count()
    edges = edges_from_scores(
        score_pairs_fused(pairsp, work, weights=cfg.weights, threshold=cfg.threshold),
        threshold=cfg.threshold,
    )
    stage("er/score_edges", lambda: noop(edges))
    edgesp = edges.persist()
    print("er/pairs_count", pairsp.count(), "er/edges_count", edgesp.count(), flush=True)
    nodes = work.select("rid")
    stage("er/cc", lambda: noop(
        connected_components(edgesp, nodes=nodes, max_iterations=25).labels))
    labels = connected_components(edgesp, nodes=nodes, max_iterations=25).labels.persist()
    labels.count()
    stage("er/emit", lambda: noop(
        emit_entities(normp, labels).select("rid", "entity_id", "content_sha")))
    for p in (labels, edgesp, pairsp, normp):
        p.unpersist()


# ---------------------------------------------------------------------------
def run_relational():
    queries = query_pack.queries()

    def dj(hint_orders: str | None):
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        if hint_orders:
            o = o.hint(hint_orders)
        noop(
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("cnt"))
        )

    variants = [
        (f"rel/{n}", (lambda n=n: noop(queries[n](spark, SF_DIR))))
        for n in ["q_groupby_agg", "q_double_join_agg", "q_window_lead",
                  "q_topk_per_group", "q_quality", "q_dedup_fingerprint"]
    ]
    variants += [
        ("rel/dj_shuffle_hash", lambda: dj("shuffle_hash")),
        ("rel/dj_merge", lambda: dj("merge")),
    ]
    timed_set(variants)


TARGETS = {
    "lsh": run_lsh,
    "jaccard": run_jaccard,
    "cosine": run_cosine,
    "er": run_er,
    "relational": run_relational,
}


def main():
    target = sys.argv[1] if len(sys.argv) > 1 else "all"
    warmup()
    if target == "all":
        for fn in TARGETS.values():
            fn()
    else:
        TARGETS[target]()
    print(json.dumps({"sf_dir": SF_DIR, "cpus": CPUS, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()

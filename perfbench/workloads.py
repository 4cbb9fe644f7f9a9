"""The benchmark's workloads: set-up, a closed loop of operations, checks.

One driver process, one caller: the next operation starts only after the
previous one returns. Each workload returns a :class:`Outcome`; ``run.py``
turns it into the printed metrics.

``delta_chain``
    Set-up builds a catalog with ``plans.pipeline.run_pipeline`` (the batch
    pipeline, code under test, never cached). Each operation is one
    ``streaming.ingest.ingest_batch`` call on the next parquet delta file,
    with ``compact_every=1`` so every operation also compacts the state
    chains. Checks: pairwise F1 of the final catalog (rebuilt with
    ``plans.pipeline.current_entities``) and of the set-up catalog, one
    entity row per input row, and ``content_sha`` equal to the sha256 of each
    input row's content.

``query_mix``
    Set-up runs one untimed pass over the ten headline queries of
    ``bench.py``, collecting each result. Each operation is one pass over the
    same queries, each forced with a ``noop`` sink. Checks: each collected
    result's row count and order-insensitive value hash equal those of its
    ``oracle_sql()`` twin in DuckDB over the same parquet files.
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from dataclasses import dataclass, field
from decimal import Decimal

from perfbench import inputs

# bench.py's HEADLINE set, in its order (the flagship runs last).
HEADLINE = [
    "q_groupby_agg",
    "q_double_join_agg",
    "q_window_lead",
    "q_topk_per_group",
    "q_jaccard_pairs",
    "q_dedup_fingerprint",
    "q_minhash_lsh_prod",
    "q_quality",
    "q_cosine_topk",
    "q_er_entities",
]
FLAGSHIP = "q_er_entities"
F1_FLOOR = 0.99

# Input sizes per --size. "tiny" is the engine's 200-row fixture.
SIZES = {
    "bench": {"catalog_rows": 2000, "delta_rows": 200, "deltas": 8, "sf": 0.01},
    "tiny": {"catalog_rows": 160, "delta_rows": 20, "deltas": 2, "sf": 0.001},
}


@dataclass
class Outcome:
    setup_s: float
    op_s: list[float]
    records_per_op: int
    write_bytes: int = 0
    checks: dict[str, bool] = field(default_factory=dict)
    failed_ops: int = 0
    report: dict = field(default_factory=dict)


def _loop(seconds: float, op, limit: int | None = None) -> tuple[list[float], int]:
    """Closed loop: run ``op(i)`` until ``seconds`` have passed (at least
    once). Returns the walls of the operations that succeeded and the
    number that raised."""
    walls, failed = [], 0
    start = time.perf_counter()
    i = 0
    while limit is None or i < limit:
        t = time.perf_counter()
        try:
            op(i)
            walls.append(time.perf_counter() - t)
        except Exception as exc:  # counted, reported, and the loop goes on
            failed += 1
            print(f"operation {i} failed: {exc!r}", file=sys.stderr, flush=True)
        i += 1
        if time.perf_counter() - start >= seconds:
            break
    return walls, failed


def delta_chain(ctx, size: dict) -> Outcome:
    from codingchallenge_spark.eval import pairwise_f1
    from codingchallenge_spark.plans.pipeline import current_entities, run_pipeline
    from codingchallenge_spark.sources.records import read_records
    from codingchallenge_spark.streaming.ingest import ingest_batch, read_pointer

    n_cat, n_delta = size["catalog_rows"], size["delta_rows"]
    data = inputs.repo_files(ctx.root, n_cat, n_delta, size["deltas"], ctx.seed)
    tracer = ctx.tracer

    t0 = time.perf_counter()
    spark = ctx.start_session()
    catalog_dir = str(ctx.work / "catalog")
    t_build = time.perf_counter()
    with tracer.span("plans.pipeline", "run_pipeline"):
        run_pipeline(
            spark, read_records(spark, str(data / "catalog.parquet")), catalog_dir
        )
    batch_wall = time.perf_counter() - t_build
    setup_s = time.perf_counter() - t0

    tracer.phase = "ops"
    out_dir = str(ctx.work / "stream")

    def op(i: int) -> None:
        delta = read_records(spark, str(data / f"delta_{i:03d}.parquet"))
        with tracer.span("streaming.ingest", f"batch-{i}"):
            ingest_batch(spark, delta, i, out_dir, catalog_dir, compact_every=1)

    w0 = ctx.jvm_wchar()
    walls, failed = _loop(ctx.seconds, op, limit=size["deltas"])
    write_bytes = ctx.jvm_wchar() - w0

    tracer.phase = "check"
    import pandas as pd

    n_ingested = n_cat + (len(walls) + failed) * n_delta
    golden = pd.read_parquet(data / "golden.parquet")
    records = pd.concat(
        [pd.read_parquet(data / "catalog.parquet")]
        + [
            pd.read_parquet(data / f"delta_{i:03d}.parquet")
            for i in range(len(walls) + failed)
        ]
    )
    rids = set(golden["rid"].iloc[:n_ingested])
    pairs = pd.read_parquet(data / "labeled_pairs.parquet")

    def f1_of(entities, rid_set) -> float:
        lp = pairs[pairs["rid1"].isin(rid_set) & pairs["rid2"].isin(rid_set)]
        return pairwise_f1(
            entities.select("rid", "entity_id"), spark.createDataFrame(lp)
        ).f1

    final = current_entities(spark, read_pointer(out_dir)).select(
        "rid", "entity_id", "content_sha"
    )
    got = final.toPandas()
    want_sha = {
        rid: hashlib.sha256(c.encode()).hexdigest()
        for rid, c in zip(golden["rid"].iloc[:n_ingested], records["content"])
    }
    f1_final = f1_of(final, rids)
    f1_batch = f1_of(
        spark.read.parquet(f"{catalog_dir}/entities"), set(golden["rid"].iloc[:n_cat])
    )
    checks = {
        "f1_final>=0.99": f1_final >= F1_FLOOR,
        "f1_batch>=0.99": f1_batch >= F1_FLOOR,
        "entity_rows==input_rows": len(got) == n_ingested
        and got["rid"].nunique() == n_ingested,
        "content_sha_preserved": dict(zip(got["rid"], got["content_sha"])) == want_sha,
    }
    return Outcome(
        setup_s=setup_s,
        op_s=walls,
        records_per_op=n_delta,
        write_bytes=write_bytes,
        checks=checks,
        failed_ops=failed,
        report={
            "catalog_rows": n_cat,
            "delta_rows": n_delta,
            "batches": len(walls) + failed,
            "batch_wall_s": batch_wall,
            "batch_records_per_s": n_cat / batch_wall,
            "f1_batch": f1_batch,
            "f1": f1_final,
        },
    )


def _norm_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    return str(v)


def result_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, every
    cell normalized (floats to 9 digits, Decimal as float, None as
    ``<null>``), rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(sorted(cols)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def query_mix(ctx, size: dict) -> Outcome:
    import duckdb

    from codingchallenge_spark.plans.query_pack import oracle_sql, queries

    sf_dir = inputs.query_tables(ctx.root, size["sf"], ctx.seed)
    qs = queries()
    tracer = ctx.tracer

    t0 = time.perf_counter()
    spark = ctx.start_session()
    got = {}
    for name in HEADLINE:
        with tracer.span("plans.query_pack", name):
            df = qs[name](spark, str(sf_dir))
            got[name] = (df.columns, df.collect())
        spark.catalog.clearCache()
    setup_s = time.perf_counter() - t0

    tracer.phase = "ops"
    per_query: dict[str, list[float]] = {q: [] for q in HEADLINE}

    def op(_: int) -> None:
        for name in HEADLINE:
            t = time.perf_counter()
            with tracer.span("plans.query_pack", name):
                df = qs[name](spark, str(sf_dir))
                if name == FLAGSHIP:
                    with tracer.span("plans.matcher", "emit"):
                        _force(df)
                else:
                    _force(df)
            per_query[name].append(time.perf_counter() - t)
            # Cached relations would let a repeat reuse the previous pass.
            spark.catalog.clearCache()

    w0 = ctx.jvm_wchar()
    walls, failed = _loop(ctx.seconds, op)
    write_bytes = ctx.jvm_wchar() - w0

    tracer.phase = "check"
    con = duckdb.connect()
    for t in inputs.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir / t}.parquet')"
        )
    sql = oracle_sql()
    checks = {}
    for name in HEADLINE:
        res = con.execute(sql[name])
        duck_cols = [d[0] for d in res.description]
        duck_rows = res.fetchall()
        cols, rows = got[name]
        checks[f"{name}==oracle"] = len(rows) == len(duck_rows) and result_hash(
            cols, rows
        ) == result_hash(duck_cols, duck_rows)
    con.close()
    return Outcome(
        setup_s=setup_s,
        op_s=walls,
        records_per_op=inputs.table_rows(sf_dir),
        write_bytes=write_bytes,
        checks=checks,
        failed_ops=failed,
        report={
            "sf": size["sf"],
            "passes": len(walls) + failed,
            "query_s": per_query,
            "result_rows": {q: len(got[q][1]) for q in HEADLINE},
        },
    )


WORKLOADS = {"delta_chain": delta_chain, "query_mix": query_mix}

#!/usr/bin/env python
"""spark-submit entry point for the record-linkage pipeline (EP1).

Production invocation (BASELINE.json:6 "ships as spark-submit --py-files"):

    scripts/package.sh   # builds dist/engine.zip
    spark-submit --py-files dist/engine.zip run_pipeline.py \
        --input <parquet dir or iceberg table> --format parquet \
        --run-dir /data/runs/run1 --resume \
        [--labeled-pairs <parquet>]   # optional F1 gate

Local smoke (this sandbox):

    python run_pipeline.py --master 'local[8]' \
        --input <fixture>/repo_files.parquet --run-dir /tmp/run1

Each mode runs its stage graph — the batch graph of plans.matcher or the
delta graph of plans.incremental, the same graphs the in-memory plans run —
through checkpointed parquet stages (plans.pipeline).

Incremental (delta) mode — link new records against a prior run's output
without re-scoring the corpus (plans.incremental), staged + resumable
(plans.pipeline.run_delta_pipeline). Point --input at the prior RUN DIR to
reuse its persisted catalog state (the delta-proportional path); every delta
run_dir maintains the state, so ingests chain:

    python run_pipeline.py --master 'local[8]' \
        --input /tmp/run1 --delta <new>/repo_files.parquet \
        --run-dir /tmp/run1_d1 [--resume] [--emit-delta]
    python run_pipeline.py --input /tmp/run1_d1 --delta <newer>.parquet \
        --run-dir /tmp/run1_d2

A bare entities parquet path also works as --input: the catalog state is
then derived in-run (checkpointed — paid once, resume skips it), and the
run_dir becomes a state the next --delta can chain from.

When the master comes from the spark-submit CLI instead of ``--master``,
this script defers ALL memory sizing to spark-submit (on a cluster the
submitter owns it) — pass ``--driver-memory`` there; spark-submit's 1g
local-mode default is far too small for this workload. With ``--master``
the library launches the JVM itself and sizes the heap automatically.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from codingchallenge_spark.plans.matcher import MatcherConfig
from codingchallenge_spark.plans.pipeline import run_pipeline
from codingchallenge_spark.session import build_session
from codingchallenge_spark.sources.records import read_records


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="records table/path")
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "iceberg", "table"])
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--threshold", type=float, default=None)
    ap.add_argument("--token-df-cap", type=int, default=None)
    ap.add_argument("--salt-buckets", type=int, default=0)
    ap.add_argument("--labeled-pairs", default=None,
                    help="parquet of (rid1,rid2,is_match) for the F1 gate")
    ap.add_argument("--delta", default=None,
                    help="delta records table/path: incremental mode — "
                         "--input is then a RESOLVED catalog (a prior run's "
                         "entities output), and only delta-touching pairs "
                         "are scored (plans.incremental)")
    ap.add_argument("--emit-delta", action="store_true",
                    help="with --delta: write only new + possibly-relabeled "
                         "rows (an upsert set) instead of the full combined "
                         "entity table — every write of the run is then "
                         "delta-sized. A maintained --emit-delta run_dir IS "
                         "chainable as the next --delta's --input: the prior "
                         "labels come from the state manifest's labels "
                         "chain, never the (partial) entities_delta sink, "
                         "which catalog_entities_path refuses to serve")
    ap.add_argument("--master", default=None,
                    help="only for local runs; omit under spark-submit")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args(argv)
    if args.emit_delta and not args.delta:
        # Reject a flag that would otherwise be silently ignored.
        ap.error("--emit-delta only applies with --delta; drop it")

    spark = build_session(
        app_name="codingchallenge-pipeline",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    cfg_kwargs = {}
    if args.threshold is not None:
        cfg_kwargs["threshold"] = args.threshold
    if args.token_df_cap is not None:
        cfg_kwargs["token_df_cap"] = args.token_df_cap
    cfg = MatcherConfig(salt_buckets=args.salt_buckets, **cfg_kwargs)

    if args.delta:
        # Incremental mode: --input is the resolved catalog — EITHER a prior
        # run_dir (its entities stage + persisted catalog state are used:
        # the delta-proportional path, nothing corpus-sized recomputed) OR a
        # bare entities table/path (a catalog state is then derived in-run,
        # checkpointed, and the run_dir becomes a valid state for the next
        # delta). Stages are fingerprinted and resumable (--resume).
        from codingchallenge_spark.plans import catalog_state as cstate
        from codingchallenge_spark.plans.pipeline import run_delta_pipeline

        state = None
        catalog = None
        catalog_path = args.input
        if args.format == "parquet" and cstate.has_state(args.input):
            # Persisted state: the prior labels come from the manifest's
            # labels chain — the entities sink is never read, which is what
            # lets an --emit-delta run_dir chain as the next --delta's
            # --input (its entities_delta is just the upsert set).
            state = cstate.load_catalog_state(spark, args.input)
        else:
            catalog = (
                spark.table(catalog_path) if args.format == "table"
                else spark.read.format(args.format).load(catalog_path)
            )
        delta = read_records(spark, args.delta, fmt=args.format)
        run = run_delta_pipeline(
            spark,
            catalog,
            delta,
            args.run_dir,
            cfg,
            input_id=f"{args.format}:{catalog_path}|delta:{args.delta}",
            resume=args.resume,
            state=state,
            emit="delta" if args.emit_delta else "full",
        )
        entities = run.entities
        summary = {
            "rows": entities.count(),
            "executed": run.executed,
            "skipped": run.skipped,
            "run_dir": run.run_dir,
        }
    else:
        records = read_records(spark, args.input, fmt=args.format)
        run = run_pipeline(
            spark, records, args.run_dir, cfg,
            input_id=f"{args.format}:{args.input}", resume=args.resume,
        )
        entities = run.entities
        summary = {
            "rows": entities.count(),
            "executed": run.executed,
            "skipped": run.skipped,
            "run_dir": run.run_dir,
        }
    if args.labeled_pairs:
        from codingchallenge_spark.eval import pairwise_f1

        lp = spark.read.parquet(args.labeled_pairs)
        m = pairwise_f1(entities.select("rid", "entity_id"), lp)
        summary["f1"] = m.f1
        summary["precision"] = m.precision
        summary["recall"] = m.recall
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

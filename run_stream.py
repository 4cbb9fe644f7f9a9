#!/usr/bin/env python
"""spark-submit entry point for continuous (streaming) ingest — G9.

Wraps the staged delta pipeline in a Structured Streaming file source
(codingchallenge_spark.streaming.ingest): every micro-batch of files landed
under --source is linked against the current catalog chain, one resumable
run_dir per batch under --out-dir, with out_dir/CURRENT always naming the
newest resolved catalog.

Production invocation:

    spark-submit --py-files dist/engine.zip run_stream.py \
        --source s3://landing/repo_files/ \
        --catalog /data/runs/batch_run \
        --out-dir /data/runs/stream \
        [--continuous]          # run forever; default drains and stops

Local smoke (this sandbox):

    python run_stream.py --master 'local[8]' \
        --source /tmp/landing --catalog /tmp/cat_run --out-dir /tmp/stream

--catalog must be a completed pipeline run_dir carrying persisted catalog
state (any batch run, or a prior maintained delta run). Restarting with the
same --out-dir resumes: the streaming checkpoint skips committed files and
the pointer carries the chain forward.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from codingchallenge_spark.plans.matcher import MatcherConfig
from codingchallenge_spark.session import build_session
from codingchallenge_spark.streaming.ingest import (
    read_pointer,
    start_stream_ingest,
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", required=True,
                    help="landing directory the file source watches")
    ap.add_argument("--catalog", required=True,
                    help="completed pipeline run_dir with persisted state")
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--max-files-per-trigger", type=int, default=1,
                    help="per-micro-batch delta size bound")
    ap.add_argument("--compact-every", type=int, default=None,
                    help="after every Nth batch, write a compact dir that "
                         "folds each state chain whose tail has grown to "
                         "half its base and re-references the others, then "
                         "delete what is no longer referenced — bounds chain "
                         "length and disk")
    ap.add_argument("--continuous", action="store_true",
                    help="run until interrupted instead of drain-and-stop "
                         "(availableNow)")
    ap.add_argument("--threshold", type=float, default=None)
    ap.add_argument("--master", default=None,
                    help="only for local runs; omit under spark-submit")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args(argv)

    spark = build_session(
        app_name="codingchallenge-stream-ingest",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    cfg_kwargs = {}
    if args.threshold is not None:
        cfg_kwargs["threshold"] = args.threshold
    cfg = MatcherConfig(**cfg_kwargs)

    query = start_stream_ingest(
        spark,
        args.source,
        args.catalog,
        args.out_dir,
        cfg,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=not args.continuous,
        compact_every=args.compact_every,
    )
    query.awaitTermination()
    current = read_pointer(args.out_dir)
    summary = {
        "out_dir": args.out_dir,
        "current": current,
        "batches": sorted(
            p.name for p in Path(args.out_dir).glob("batch-*") if p.is_dir()
        ),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""Round-5 streaming smoke: delta-sized per-batch writes + bounded chains.

Done-criteria (round-4 verdict item #3):
- per-batch bytes written ∝ |delta| while the catalog grows (the old
  ``emit="full"`` wrote the whole corpus per batch);
- restart smoke F1 = 1.0000 unchanged (query restarted mid-stream with the
  same out_dir — the checkpoint skips committed files, the pointer chains);
- chain length bounded in a ≥10-batch run (``--compact-every`` compacts
  the state, folding the chains whose tail has grown, and deletes the
  superseded sinks the compacted state no longer references).

Protocol: one deterministic fixture (seed=42) split into a catalog plus
N_BATCHES landed delta files; batch pipeline resolves the catalog; phase 1
streams the first half of the files (availableNow drains them one
micro-batch each via maxFilesPerTrigger=1), then the query RESTARTS with the
same out_dir for the second half. Per-batch durable bytes are read from each
batch run_dir after its completion (captured inside a foreachBatch wrapper
before pruning/compaction can rewrite history). Prints ONE JSON line; paste
into BENCH/BASELINE.md.

Run: python scripts/smoke_stream_delta.py [--catalog-rows 4000]
     [--batch-rows 100] [--n-batches 12] [--compact-every 5]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from codingchallenge_spark.eval import pairwise_f1  # noqa: E402
from codingchallenge_spark.plans import catalog_state as cstate  # noqa: E402
from codingchallenge_spark.plans.matcher import MatcherConfig  # noqa: E402
from codingchallenge_spark.plans.pipeline import (  # noqa: E402
    current_entities,
    run_pipeline,
)
from codingchallenge_spark.session import build_session  # noqa: E402
from codingchallenge_spark.streaming.ingest import (  # noqa: E402
    read_pointer,
    start_stream_ingest,
)
from fixtures.gen_repo_files import generate  # noqa: E402


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog-rows", type=int, default=4000)
    ap.add_argument("--batch-rows", type=int, default=100)
    ap.add_argument("--n-batches", type=int, default=12)
    ap.add_argument("--compact-every", type=int, default=5)
    ap.add_argument("--master", default="local[8]")
    args = ap.parse_args()

    n_cat, n_b, k = args.catalog_rows, args.batch_rows, args.n_batches
    spark = build_session(
        app_name="smoke-stream-delta", master=args.master,
        shuffle_partitions=16,
    )
    spark.sparkContext.setLogLevel("ERROR")

    fx = generate(n_cat + n_b * k)
    recs = fx.records.reset_index(drop=True)
    root = Path(tempfile.mkdtemp(prefix="smoke_stream_"))
    landing, out = root / "landing", str(root / "stream")
    landing.mkdir()

    cat_run = str(root / "cat_run")
    cfg = MatcherConfig()
    run_pipeline(
        spark, spark.createDataFrame(recs.iloc[:n_cat]), cat_run, cfg,
        input_id="smokecat",
    )

    t0 = time.time() - 10_000
    for i in range(k):
        lo = n_cat + i * n_b
        p = landing / f"delta-{i:03d}.parquet"
        recs.iloc[lo : lo + n_b].to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))

    # Per-batch durable bytes, captured right after each batch completes
    # (before a later prune/compaction rewrites the dir).
    batch_bytes: dict[int, int] = {}
    import codingchallenge_spark.streaming.ingest as ing

    orig_ingest = ing.ingest_batch

    def _measuring(spark_, bdf, bid, out_dir, cat_dir, cfg_=None, **kw):
        res = orig_ingest(spark_, bdf, bid, out_dir, cat_dir, cfg_, **kw)
        if res.get("run_dir"):
            batch_bytes[bid] = _du(res["run_dir"])
        return res

    ing.ingest_batch = _measuring

    half = k // 2
    wall = {}
    # Phase 1: only the first half landed → hide the rest
    hidden = root / "hidden"
    hidden.mkdir()
    for i in range(half, k):
        (landing / f"delta-{i:03d}.parquet").rename(
            hidden / f"delta-{i:03d}.parquet"
        )
    t = time.monotonic()
    q1 = start_stream_ingest(
        spark, str(landing), cat_run, out, cfg,
        compact_every=args.compact_every,
    )
    assert q1.awaitTermination(1800)
    wall["phase1_sec"] = round(time.monotonic() - t, 1)

    # Phase 2: land the rest, RESTART the query with the same out_dir
    for i in range(half, k):
        p = landing / f"delta-{i:03d}.parquet"
        (hidden / f"delta-{i:03d}.parquet").rename(p)
        os.utime(p, (t0 + i, t0 + i))
    t = time.monotonic()
    q2 = start_stream_ingest(
        spark, str(landing), cat_run, out, cfg,
        compact_every=args.compact_every,
    )
    assert q2.awaitTermination(1800)
    wall["phase2_sec"] = round(time.monotonic() - t, 1)

    ptr = read_pointer(out)
    final = current_entities(spark, ptr).cache()
    n_final = final.count()
    m = pairwise_f1(
        final.select("rid", "entity_id"),
        spark.createDataFrame(fx.labeled_pairs),
    )
    st = cstate.load_catalog_state(spark, ptr)
    manifest = json.loads((Path(ptr) / "state.json").read_text())
    dirs = sorted(
        p.name for p in Path(out).iterdir()
        if p.is_dir() and not p.name.startswith("_")
    )
    catalog_bytes = _du(str(Path(cat_run) / "entities"))
    print(json.dumps({
        "rows_catalog": n_cat, "rows_per_batch": n_b, "n_batches": k,
        "compact_every": args.compact_every,
        **wall,
        "final_rows": n_final,
        "f1": round(m.f1, 6),
        "precision": round(m.precision, 6),
        "recall": round(m.recall, 6),
        "pairs_labeled": m.tp + m.fp + m.fn + m.tn,
        "per_batch_bytes": {str(b): batch_bytes[b] for b in sorted(batch_bytes)},
        "catalog_entities_bytes_for_scale": catalog_bytes,
        "current": ptr,
        "chain_lens": {
            "norm": len(manifest["norm_paths"]),
            "sn": len(manifest["sn_chain"]),
            "labels": len(manifest["labels_chain"]),
        },
        "state_norm_rows": st.norm.count(),
        "surviving_dirs": dirs,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Seeded benchmark inputs, written as parquet and cached by (kind, size, seed).

Input preparation is not engine set-up: it runs before the session starts and
is never part of ``setup_s``. Two kinds of input exist:

- ``repo_files``: the engine's own synthetic fixture
  (``fixtures.gen_repo_files.generate(n, seed)``) — records, the planted
  golden partition and the labeled pairs the F1 check scores against. The
  records are split into a catalog prefix and fixed-size delta files, so a
  delta chain ingests parquet-backed micro-batches, as a stream would.
- ``tables``: the six tables the headline query mix reads (lineitem, orders,
  customer, events, documents, embeddings), generated here with the column
  types and value shapes of the driver's TPC-H-ish test data, so every query's
  DuckDB twin applies unchanged.

The cache lives under ``.perfbench_cache/`` in the checkout; a directory is
reused only once its ``_DONE`` marker exists.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pandas as pd

CACHE_DIR = ".perfbench_cache"
DONE = "_DONE"


def _cached(root: Path, key: str, build) -> Path:
    out = root / CACHE_DIR / key
    if (out / DONE).exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / DONE).write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def repo_files(
    root: Path, catalog_rows: int, delta_rows: int, deltas: int, seed: int
) -> Path:
    """Fixture of ``catalog_rows + deltas * delta_rows`` records: the
    catalog prefix in ``catalog.parquet``, then ``delta_NNN.parquet`` files
    of ``delta_rows`` each, plus ``golden`` and ``labeled_pairs``."""
    from fixtures.gen_repo_files import generate

    def build(out: Path) -> None:
        fx = generate(catalog_rows + deltas * delta_rows, seed=seed)
        fx.records.iloc[:catalog_rows].to_parquet(out / "catalog.parquet", index=False)
        for i in range(deltas):
            lo = catalog_rows + i * delta_rows
            fx.records.iloc[lo : lo + delta_rows].to_parquet(
                out / f"delta_{i:03d}.parquet", index=False
            )
        fx.golden.to_parquet(out / "golden.parquet", index=False)
        fx.labeled_pairs.to_parquet(out / "labeled_pairs.parquet", index=False)

    key = f"repo_files-{catalog_rows}+{deltas}x{delta_rows}-seed{seed}"
    return _cached(root, key, build)


# Documents draw from the same small code-ish vocabulary as the driver's
# test data, so near-duplicate clusters form at the flagship's threshold.
DOC_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
DOC_LANGS = ["en", "zh", "es", "de", "fr"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DIM = 64


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, days, size=n).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")


def query_tables(root: Path, sf: float, seed: int) -> Path:
    """The six headline-query tables at scale factor ``sf`` (sf0.01:
    60k lineitem, 15k orders, 1.5k customers, 10k events, 500 documents,
    500 embeddings), one parquet file each, named as the query pack reads
    them (``<sf_dir>/<table>.parquet``)."""

    def build(out: Path) -> None:
        rng = np.random.default_rng(seed)
        n_li, n_ord, n_cust = int(6e6 * sf), int(1.5e6 * sf), int(1.5e5 * sf)
        n_ev, n_doc = int(1e6 * sf), max(int(5e4 * sf), 500)
        n_emb = n_doc

        lineitem = pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
                "l_partkey": rng.integers(0, max(n_li // 30, 1), n_li, dtype=np.int64),
                "l_suppkey": rng.integers(0, max(n_cust // 15, 1), n_li, dtype=np.int64),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _cents(rng, 900, 105000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["O", "F"], n_li),
                "l_shipdate": _days(rng, "1995-01-01", 2500, n_li),
            }
        )
        orders = pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _cents(rng, 1000, 500000, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        )
        customer = pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _cents(rng, -999, 9999, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        )
        gaps = rng.integers(1, 300_000_000, n_ev).cumsum()
        events = pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": np.datetime64("2024-01-01", "us") + gaps.astype("timedelta64[us]"),
                "user_id": rng.integers(0, 150, n_ev, dtype=np.int64),
                "event_type": rng.choice(EVENT_TYPES, n_ev),
                "value": _cents(rng, 0.01, 490, n_ev),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        )
        words = np.array(DOC_VOCAB)
        texts = [
            " ".join(words[rng.integers(0, len(words), int(k))])
            for k in rng.integers(10, 100, n_doc)
        ]
        documents = pd.DataFrame(
            {
                "doc_id": np.arange(n_doc, dtype=np.int64),
                "text": texts,
                "lang": rng.choice(DOC_LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
                "source": [f"src{i % 20}" for i in range(n_doc)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        )
        centers = rng.normal(size=(10, DIM))
        labels = rng.integers(0, 10, n_emb)
        vecs = centers[labels] + rng.normal(scale=1.5, size=(n_emb, DIM))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        embeddings = pd.DataFrame(
            {
                "vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": list(vecs.astype(np.float32)),
                "label": labels.astype(np.int32),
            }
        )
        for name, df in [
            ("lineitem", lineitem), ("orders", orders), ("customer", customer),
            ("events", events), ("documents", documents), ("embeddings", embeddings),
        ]:
            df.to_parquet(out / f"{name}.parquet", index=False)

    return _cached(root, f"tables-sf{sf}-seed{seed}", build)


TABLES = ["lineitem", "orders", "customer", "events", "documents", "embeddings"]


def table_rows(sf_dir: Path) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(sf_dir / f"{t}.parquet").metadata.num_rows for t in TABLES)

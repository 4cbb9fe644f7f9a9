"""Persisted catalog state for delta-proportional incremental ingest.

Spec motivation (BASELINE.json:6's 10^12-file clause + :14 "resumable from
checkpoint"): a high-frequency ingest deployment cannot pay a corpus-
proportional normalize / token-count / range-sort per delta. The batch
pipeline (plans.pipeline) already persists its normalize stage; this module
adds the derived relations a delta run needs to avoid every full-corpus
pass the round-3 incremental path still paid:

- ``sn_index`` / ``sn_bounds`` — the catalog's (name_norm, rid) sort order,
  materialized ONCE and maintained BUCKET-LOCALLY. The stored relation is
  [bucket, rid(binary), name_norm, lpos] with bucket-LOCAL positions, and
  ``sn_bounds`` = [bucket, n, start_pos, min_name, min_rid] — one row per
  bucket, kept as driver rows in ``state.json`` (the same driver-sized
  assumption :func:`bucket_column` and the delta SN probe make when they
  inline the bounds as literals). Global positions are derived at read
  time as ``pos = start_pos + lpos − 1`` (:func:`resolve_sn_index`):
  inserting keys into one bucket shifts the global positions of every later
  bucket, but under the (bucket, lpos) decomposition that shift lives
  ENTIRELY in the bounds rows — the index rows of untouched buckets never
  change. A delta run maintains the index by rewriting only the buckets its
  keys land in (:func:`merge_sn_buckets`) — cost ≤ |touched buckets| ·
  bucket size, never a corpus re-sort — and then reads its
  sorted-neighborhood pairs off the merged positions
  (plans.incremental.delta_sn_pairs). It assigns its keys to buckets with
  one native expression over the bounds (:func:`bucket_column`; no Python
  UDF), and computes the new bounds on the driver (:func:`merged_bounds`,
  which also gives a freshly built index its bounds).

- ``tok_index`` — inverted token postings (tbucket, tok, rid), the catalog
  side of the delta token pass pre-exploded ONCE (round 5 — removes the
  last corpus-proportional term in pairs_delta: the per-batch re-explode of
  every catalog row's token array). ``tok`` is the token's hash, an element
  of the norm's ``th``. Query: bucket-pruned scan via a literal IN over the
  delta's token buckets (:func:`tok_bucket`). The postings are also the
  catalog's document frequencies: a token's catalog df is its number of
  postings rows (tokenize emits distinct tokens per record), so a delta
  token's union df is that count plus its delta count — exact, because
  catalog and delta rid sets are disjoint after the idempotent anti-join.
  No separate frequency relation is kept. Maintenance: APPEND-ONLY chain —
  postings are facts about existing rids, insertion never rewrites one, so
  a delta contributes a delta-sized, unsorted element; the base is
  clustered by (tbucket, tok) where it is written (:func:`clustered_postings`:
  the catalog build and a compaction fold).

- ``labels`` — the catalog's resolved (rid, entity_id) assignment, as an
  overlay CHAIN of per-batch upsert sets ("latest element containing a rid
  wins", :func:`_read_labels_chain`). This is what makes ``emit="delta"``
  runs chainable (VERDICT r04 #3 / ADVICE r04): the next delta's
  ``labels_old`` is the resolved chain, NOT the previous run's entities
  parquet — so a maintained delta run writes ONLY delta-sized relations
  (its upsert labels are exactly the cc_delta stage it already persists;
  untouched rids keep their label by never being re-written).

On disk the state lives inside a pipeline run_dir next to the stage sinks,
plus a ``state.json`` manifest listing (a) the normalize-stage parquet
paths, (b) the ``sn_chain`` — the sn_index overlay chain — and its
``sn_bounds`` rows, (c) the ``labels_chain`` and (d) the ``tok_chain`` of
postings. All four are CHAINS: a
maintained delta run appends its own delta-normalize path, its
touched-bucket index element, its postings and its touched-label element
instead of rewriting the corpus. The full normalized relation is the union
of the norm chain; the full index is resolved per
bucket by "latest chain element covering that bucket wins"
(:func:`_read_sn_chain`); the full label assignment by "latest element
containing the rid wins". :func:`compact_state` runs at whatever cadence
the operator picks and is size-tiered: it folds a chain back into one
element only once the chain's tail has grown to a fixed fraction of its
base (:data:`FOLD_RATIO`), and otherwise re-references the chain's
existing elements, so a compacted state may still point into older
run_dirs. Older state layouts (v2, v3) are read by :func:`compact_state`
alone, which writes them out in the current one.

Production shape: at 10^12 files ``sn_index`` buckets would be sized to
~64k rows (here: defaultParallelism buckets — a knob), bucket splits and
chain compaction would ride the table format's maintenance (Iceberg
rewrite_data_files / LSM merge), and the bucket lookup, a linear filter
over the inlined bounds here, would become a binary search over a broadcast
table (and the bounds would leave the manifest for a table of their own).
The bucket-local merge below is the real maintenance shape at that scale:
per batch it touches ≤ |delta| buckets and the metadata-sized bounds,
nothing corpus-proportional.
"""

from __future__ import annotations

import base64
import json
import logging
from dataclasses import dataclass, field
from functools import reduce
from pathlib import Path

from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from codingchallenge_spark.plans.matcher import MatcherConfig
from codingchallenge_spark.sources import checkpoint as ckpt

log = logging.getLogger(__name__)

STATE_MANIFEST = "state.json"
# v4: a token is its hash — the norm chain stores ``th``, not ``tokens``,
# and the postings key on it. v3 (string tokens) and v2 (also the sn bounds
# as a parquet relation) are refused by load_catalog_state and migrated
# once by compact_state. v1 run_dirs (global-pos index, no chain) are
# refused with a rebuild hint: silently resolving them would mix
# incompatible position semantics.
STATE_VERSION = 4
# compact_state folds a chain once the elements newer than its base hold at
# least this fraction of the base's on-disk bytes; below it the chain is
# re-referenced as it is. With deltas at ~10% of the base, a chain folds
# about once every five compactions.
FOLD_RATIO = 0.5


@dataclass
class CatalogState:
    """In-memory handle on a catalog's persisted derived relations."""

    norm: DataFrame  # normalize-stage rows: full cols + name_norm/th, binary rid
    sn_stored: DataFrame  # stored form: (bucket, rid, name_norm, lpos)
    sn_bounds: list[Row]  # (bucket, n, start_pos, min_name, min_rid), position order
    # Inverted token postings (round 5): (tbucket, tok hash, rid) — the
    # catalog side of the delta token pass reads THIS, bucket-pruned to the
    # delta's token buckets, instead of re-exploding the corpus token arrays
    # per batch (the last corpus-proportional term in pairs_delta).
    tok_postings: DataFrame
    tok_buckets: int  # hash-bucket modulus the postings were built with
    labels: DataFrame | None = None  # resolved (rid, entity_id), BINARY keys
    # The manifest chains ([] when the state lives in memory only).
    norm_paths: list[str] = field(default_factory=list)
    sn_chain: list[dict] = field(default_factory=list)  # [{"path", "buckets": None|[int]}]
    labels_chain: list[str] = field(default_factory=list)  # newest element wins per rid
    tok_chain: list[str] = field(default_factory=list)  # append-only (postings never change)


def tok_bucket(tok: Column | str, num_buckets: int) -> Column:
    """The postings bucket of a token hash, shared by the postings build
    and the delta token pass's bucket prune."""
    return F.pmod(tok, F.lit(num_buckets)).cast("int")


def build_tok_postings(norm: DataFrame, num_buckets: int) -> DataFrame:
    """Inverted token postings (tbucket int, tok bigint, rid binary) over a
    normalized relation, unsorted: one row per element of each record's
    ``th`` (collision bound: functions.similarity.token_hashes).

    The explode the delta token pass would otherwise pay per batch over the
    whole catalog, paid ONCE at catalog build (and per delta for the delta's
    own rows). ``tbucket`` = :func:`tok_bucket` so a delta's
    probe tokens prune the scan to their buckets with a small literal IN
    (the sn_index ``In(bucket`` precedent). Production shape: num_buckets
    sized so one bucket ≈ one healthy parquet file (~64 MB of postings),
    count growing with the corpus — scan cost per batch is then |delta
    tokens| · bucket bytes, independent of corpus size. Maintenance is
    APPEND-ONLY (postings are facts about existing rids — insertion never
    rewrites one), so a delta contributes a delta-sized chain element,
    written as it comes: a range sort of a delta-sized element costs a
    sampling job and a shuffle and prunes nothing below one row group.
    """
    tok = norm.select("rid", F.explode("th").alias("tok"))
    return tok.select(
        tok_bucket("tok", num_buckets).alias("tbucket"), "tok", "rid"
    )


def clustered_postings(postings: DataFrame) -> DataFrame:
    """Postings clustered by (tbucket, tok) into contiguous file ranges, so
    parquet file and row-group statistics make the bucket prune real. Paid
    where a postings base is written: the catalog build and a compaction
    fold of the chain."""
    parallelism = postings.sparkSession.sparkContext.defaultParallelism
    return postings.repartitionByRange(parallelism, "tbucket", "tok")


def _bucket_stats(stored: DataFrame) -> DataFrame:
    """Per-bucket (n, min_name, min_rid) from a stored-form index relation —
    consistent with it by construction (min at lpos = 1)."""
    return stored.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.min_by("name_norm", "lpos").alias("min_name"),
        F.min_by("rid", "lpos").alias("min_rid"),
    )


def build_sn_index(norm: DataFrame, num_buckets: int | None = None) -> DataFrame:
    """Materialize the catalog's (name_norm, rid) order in STORED form,
    [bucket, rid, name_norm, lpos] with bucket-local 1-based positions.
    Bucket ids are range-partition ids, so they follow key order; the
    bounds come from the persisted result (:func:`merged_bounds` with no
    old bounds), and global positions are exact for any bucket balance
    because start offsets are prefix sums of real bucket counts.

    One range sort — paid at CATALOG BUILD time, never per delta. The
    bucketed relation is pinned with a lazy localCheckpoint for the same
    reason as operators.blocking.sorted_neighborhood: repartitionByRange
    samples boundaries with a physical-RDD-id-derived seed, and every read
    of the index (in memory: the bounds collect and the probes) MUST
    observe identical boundaries.
    """
    spark = norm.sparkSession
    if num_buckets is None:
        num_buckets = spark.sparkContext.defaultParallelism
    keyed = norm.select("rid", "name_norm")
    bucketed = (
        keyed.repartitionByRange(num_buckets, "name_norm", "rid")
        .withColumn("bucket", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("bucket").orderBy("name_norm", "rid")
    return bucketed.withColumn("lpos", F.row_number().over(w)).select(
        "bucket", "rid", "name_norm", "lpos"
    )


def resolve_sn_index(stored: DataFrame, bounds: list[Row]) -> DataFrame:
    """Stored form → the logical (bucket, rid, name_norm, pos) view with
    GLOBAL positions, pos = start_pos + lpos − 1. The start offsets are
    inlined as one literal map (:func:`json_literal`): no bounds join."""
    start = json_literal(
        {str(b.bucket): b.start_pos for b in bounds}, "map<string, bigint>"
    )
    pos = start[F.col("bucket").cast("string")] + F.col("lpos") - 1
    return stored.select("bucket", "rid", "name_norm", pos.alias("pos"))


def derive_catalog_state(
    stage,
    norm: DataFrame,
    cfg: MatcherConfig,
    norm_stage: str = "normalize",
    suffix: str = "",
    labels: DataFrame | None = None,
) -> CatalogState:
    """Build a catalog state from a normalize relation through the stage
    sink ``stage`` (plans.matcher): stages ``sn_index`` and ``tok_index``
    (named with ``suffix``, upstream ``norm_stage``) and, when
    binary ``labels`` are given, ``labels``. The bounds are one collect
    over the index stage's output, so both describe one materialization.
    The state carries no chain paths; a parquet-backed caller records them.
    """
    up = [norm_stage]
    stored = stage(
        "sn_index" + suffix,
        up,
        lambda: build_sn_index(norm, num_buckets=cfg.sn_buckets),
    )
    postings = stage(
        "tok_index" + suffix,
        up,
        lambda: clustered_postings(build_tok_postings(norm, cfg.tok_buckets)),
    )
    labels_out = None
    if labels is not None:
        labels_out = stage("labels" + suffix, [], lambda: labels)
    return CatalogState(
        norm=norm,
        sn_stored=stored,
        sn_bounds=merged_bounds([], stored),
        tok_postings=postings,
        tok_buckets=cfg.tok_buckets,
        labels=labels_out,
    )


# ---------------------------------------------------------------------------
# Bucket-local maintenance (VERDICT r04 #2: no full-corpus re-sort per delta)
# ---------------------------------------------------------------------------

def json_literal(value, schema: str) -> Column:
    """``value`` as one constant column of type ``schema``: a single JSON
    string literal parsed in the JVM (``from_json``, constant-folded at
    planning). Building the same constant from per-field ``F.lit`` calls
    costs one Py4J round trip per field. ``binary`` fields are passed as
    base64 text, which the JSON reader decodes."""
    return F.from_json(F.lit(json.dumps(value)), schema)


def _b64(rid) -> str:
    return base64.b64encode(bytes(rid)).decode("ascii")


def bucket_column(bounds: list[Row]) -> Column:
    """The bucket containing key ``(name_norm, rid)``: the last bound whose
    ``(min_name, min_rid)`` is at most the key; keys below every minimum
    land in the first bucket. One native expression over the bounds,
    inlined as one literal array of structs (:func:`json_literal`), so no
    Python worker runs and no join is planned. Struct order compares the
    name by its UTF-8 bytes and then the rid bytewise, the order of
    ``ORDER BY name_norm, rid``. The filter is linear in the bucket count
    (32 by default). With no bounds (an empty catalog) every key lands in
    bucket 0."""
    if not bounds:
        return F.lit(0)
    lits = json_literal(
        [
            {"k": {"name_norm": b.min_name, "rid": _b64(b.min_rid)}, "b": b.bucket}
            for b in bounds
        ],
        "array<struct<k: struct<name_norm: string, rid: binary>, b: int>>",
    )
    key = F.struct("name_norm", "rid")
    last = F.try_element_at(F.filter(lits, lambda x: x["k"] <= key), F.lit(-1))
    return F.coalesce(last["b"], F.lit(bounds[0].bucket)).cast("int")


def assign_buckets(delta_keys: DataFrame, bounds: list[Row]) -> DataFrame:
    """[rid, name_norm] → [rid, name_norm, bucket]. Pinned with a lazy
    localCheckpoint: the touched-bucket collect and the merge both read
    it, and the delta keys are assigned once."""
    return delta_keys.select(
        "rid", "name_norm", bucket_column(bounds).alias("bucket")
    ).localCheckpoint(eager=False)


def touched_buckets(assigned: DataFrame, bounds: list[Row]) -> list[int]:
    """The buckets the merge rewrites: one collect of at most
    min(|delta|, buckets) rows. A delta landing in :data:`FOLD_RATIO` of
    the buckets rewrites all of them: its element is a whole index, the
    new base."""
    touched = [r.bucket for r in assigned.select("bucket").distinct().collect()]
    log.debug("delta collect: %d touched buckets (sn_index)", len(touched))
    if bounds and len(touched) >= FOLD_RATIO * len(bounds):
        return [b.bucket for b in bounds]
    return sorted(touched)


def merge_sn_buckets(
    state: "CatalogState", assigned: DataFrame, touched: list[int]
) -> DataFrame:
    """Merge the bucket-assigned delta keys into ONLY the ``touched``
    buckets.

    Returns the merged touched buckets in stored form (bucket, rid,
    name_norm, lpos) — the new sn_chain element. Untouched buckets are never
    read or rewritten: their rows' (bucket, lpos) are insertion-invariant;
    the global-position shift an insertion causes lives entirely in the
    bounds (:func:`merged_bounds`).

    Cost: one hash exchange and per-bucket sort over |touched buckets| ·
    bucket rows — delta-proportional for bounded bucket sizes (the
    production invariant; bucket splits ride table-format compaction). The
    plan contains no rangepartitioning and scans the index with a bucket
    IN (...) filter (plan-gated in tests/test_incremental_state.py).

    Exactness: global (name_norm, rid) order = bucket order then local
    order, because a delta key's containing bucket is the last bucket with
    min ≤ key — so every merged bucket still holds a contiguous key range,
    and :func:`resolve_sn_index` over (merged ∪ untouched, new bounds)
    equals a from-scratch rebuild's positions (property-tested).
    """
    old_rows = state.sn_stored.filter(F.col("bucket").isin(sorted(touched)))
    merged = old_rows.select("bucket", "rid", "name_norm").unionByName(
        assigned.select("bucket", "rid", "name_norm")
    )
    w = Window.partitionBy("bucket").orderBy("name_norm", "rid")
    return merged.withColumn("lpos", F.row_number().over(w))


def merged_bounds(bounds: list[Row], element: DataFrame) -> list[Row]:
    """The bounds of an index with ``bounds`` after the stored-form
    ``element`` replaces the buckets it holds, computed on the driver from
    one collect of the element's per-bucket (n, min_name, min_rid) — at most
    one row per bucket. Every other bucket keeps its row. A merge never
    reorders buckets, so start offsets are the prefix sums of n in the old
    bounds order, with buckets new to the bounds after them in id order.
    With no old bounds, ``element`` is a whole index (the batch build, a
    compaction re-bucket), whose range-partition bucket ids follow key
    order."""
    stats = {r.bucket: r for r in _bucket_stats(element).collect()}
    log.debug("delta collect: %d bucket stats (sn_bounds)", len(stats))
    old = {b.bucket: b for b in bounds}
    out, start = [], 1
    for bucket in list(old) + sorted(set(stats) - set(old)):
        b = stats.get(bucket) or old[bucket]
        out.append(
            Row(
                bucket=bucket, n=b.n, start_pos=start, min_name=b.min_name,
                min_rid=bytes(b.min_rid),
            )
        )
        start += b.n
    return out


# ---------------------------------------------------------------------------
# Manifest + load/compact
# ---------------------------------------------------------------------------


def _bounds_rows(rows: list[dict]) -> list[Row]:
    return [
        Row(**{**r, "min_rid": base64.b64decode(r["min_rid"])}) for r in rows
    ]


def write_state_manifest(
    run_dir: str,
    *,
    norm_paths: list[str],
    sn_chain: list[dict],
    sn_bounds: list[Row],
    labels_chain: list[str],
    tok_chain: list[str],
    tok_buckets: int,
    emit: str = "full",
) -> None:
    """``emit`` is RECORDED so consumers can tell a delta-emit run_dir's
    partial entities sink from a full one (ADVICE r04 — chaining itself no
    longer cares, it reads the labels chain). The bounds rows are stored
    with their ``min_rid`` as base64 text, as :func:`json_literal` passes
    it to the JVM."""
    payload = {
        "version": STATE_VERSION,
        "norm_paths": norm_paths,
        "sn_chain": sn_chain,
        "sn_bounds": [
            {**b.asDict(), "min_rid": _b64(b.min_rid)} for b in sn_bounds
        ],
        "labels_chain": labels_chain,
        "tok_chain": tok_chain,
        "tok_buckets": tok_buckets,
        "emit": emit,
    }
    (Path(run_dir) / STATE_MANIFEST).write_text(json.dumps(payload, indent=1))


def _raw_manifest(run_dir: str) -> dict:
    return json.loads((Path(run_dir) / STATE_MANIFEST).read_text())


def _is_migratable(manifest: dict) -> bool:
    return manifest.get("version") in (2, 3) and "labels_chain" in manifest


def read_manifest(run_dir: str) -> dict:
    """The state manifest at ``run_dir``, refused with ``ValueError`` unless
    it is in the current layout: a v2 or v3 state names its one-time
    migration (:func:`compact_state`), an older one the rebuild."""
    manifest = _raw_manifest(run_dir)
    if _is_migratable(manifest):
        raise ValueError(
            f"{run_dir!r} holds a v{manifest['version']} catalog state "
            "(string-keyed token postings, a norm chain storing tokens) — "
            "migrate it once with compact_state(spark, run_dir, out_dir) and "
            "chain deltas from out_dir"
        )
    if manifest.get("version", 1) < STATE_VERSION:
        raise ValueError(
            f"{run_dir!r} holds a catalog state older than the labels chain "
            "(global-position sn_index, no sn/labels chain) — rebuild the "
            "catalog with the current pipeline (run_pipeline) before "
            "chaining deltas"
        )
    return manifest


def manifest_emit(run_dir: str) -> str | None:
    """The recorded emit mode of a run_dir's state manifest (None when the
    run_dir has no state)."""
    if not has_state(run_dir):
        return None
    return _raw_manifest(run_dir).get("emit", "full")


def has_state(run_dir: str) -> bool:
    return (Path(run_dir) / STATE_MANIFEST).exists()


def _read_sn_chain(spark: SparkSession, sn_chain: list[dict]) -> DataFrame:
    """Resolve the overlay chain: the LATEST element covering a bucket wins.

    Walks newest→oldest accumulating shadowed bucket ids; each element
    contributes its rows minus later-shadowed buckets; an element with
    ``buckets: null`` covers everything older (the base — walk stops).
    The anti-filter is a literal NOT IN over the (bounded, compacted-away)
    set of later-touched buckets, prunable at the parquet scan.
    """
    parts: list[DataFrame] = []
    shadowed: set[int] = set()
    for entry in reversed(sn_chain):
        df = ckpt.read_parquet(spark, entry["path"])
        if shadowed:
            df = df.filter(~F.col("bucket").isin(sorted(shadowed)))
        parts.append(df)
        if entry["buckets"] is None:
            break  # base element: everything older is fully shadowed
        shadowed |= set(entry["buckets"])
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _read_labels_chain(spark: SparkSession, labels_chain: list[str]) -> DataFrame:
    """Resolve the labels overlay: the LATEST element containing a rid wins.

    Walks newest→oldest; each element contributes its (rid, entity_id) rows
    minus rids any newer element already re-labeled. Newer elements are
    delta-sized upsert sets, so every anti-join's build side is small (AQE
    broadcasts it); only the base element is corpus-sized, scanned narrow
    (two binary columns). There are no deletes in this pipeline, so
    newest-wins needs no tombstones. Chain depth is bounded by
    :func:`compact_state`.
    """
    out: DataFrame | None = None
    newer_rids: DataFrame | None = None
    for path in reversed(labels_chain):
        df = ckpt.read_parquet(spark, path).select("rid", "entity_id")
        if newer_rids is not None:
            df = df.join(newer_rids, "rid", "left_anti")
        out = df if out is None else out.unionByName(df)
        rids = ckpt.read_parquet(spark, path).select("rid")
        newer_rids = (
            rids if newer_rids is None else newer_rids.unionByName(rids)
        )
    if out is None:
        raise ValueError("empty labels_chain")
    return out


def load_catalog_state(spark: SparkSession, run_dir: str) -> CatalogState:
    """Read a persisted state (batch run_dir, maintained delta run_dir or
    compact dir) in the current layout; older layouts are refused
    (:func:`read_manifest`)."""
    m = read_manifest(run_dir)
    return CatalogState(
        norm=ckpt.read_parquet(spark, *m["norm_paths"]),
        sn_stored=_read_sn_chain(spark, m["sn_chain"]),
        sn_bounds=_bounds_rows(m["sn_bounds"]),
        # append-only overlay: plain union, no shadowing
        tok_postings=ckpt.read_parquet(spark, *m["tok_chain"]),
        tok_buckets=m["tok_buckets"],
        labels=_read_labels_chain(spark, m["labels_chain"]),
        norm_paths=m["norm_paths"],
        sn_chain=m["sn_chain"],
        labels_chain=m["labels_chain"],
        tok_chain=m["tok_chain"],
    )


def manifest_paths(run_dir: str) -> list[str]:
    """Every chain element the state manifest at ``run_dir`` references
    (norm, sn, labels and postings chains)."""
    m = read_manifest(run_dir)
    return (
        m["norm_paths"]
        + [e["path"] for e in m["sn_chain"]]
        + m["labels_chain"]
        + m["tok_chain"]
    )


def _read_old_state(
    spark: SparkSession, run_dir: str, manifest: dict
) -> CatalogState:
    """A v2 or v3 state dir mapped onto the current layout, for its
    migration by :func:`compact_state`, which folds its norm chain: every
    v2 and v3 norm element stores ``tokens``.

    - Norm elements: the ``tokens`` strings and a retired ``th32`` column
      are dropped (``th`` is the token), and a hex ``rid`` stored next to
      its binary ``rid_b`` gives way to it. One scan cannot read ``rid`` as
      both string and binary, so paths are read in groups by the layout
      their markers record (no Spark job), then unioned.
    - The sn bounds: rows of a v3 manifest, the ``sn_bounds`` parquet
      relation of a v2 one (one collect).
    - The postings chain, keyed on token strings, is treated as missing:
      compaction rebuilds it from the norm's ``th``, at the manifest's
      modulus (the default when it records none).
    - A ``token_df`` relation next to the manifest is ignored: the postings
      answer every document frequency.
    """
    groups: dict[bool | None, list[str]] = {}
    for path in manifest["norm_paths"]:
        schema = ckpt.recorded_schema(path)
        key = None if schema is None else "rid_b" in schema.fieldNames()
        groups.setdefault(key, []).append(path)
    parts = []
    for group in groups.values():
        df = ckpt.read_parquet(spark, *group).drop("tokens", "th32")
        if "rid_b" in df.columns:
            df = df.withColumn("rid", F.col("rid_b")).drop("rid_b")
        parts.append(df)
    norm = reduce(DataFrame.unionByName, parts)
    if "sn_bounds" in manifest:
        bounds = _bounds_rows(manifest["sn_bounds"])
    else:
        rows = ckpt.read_parquet(spark, str(Path(run_dir) / "sn_bounds")).select(
            "bucket", "n", "start_pos", "min_name", "min_rid"
        )
        bounds = sorted(rows.collect(), key=lambda b: b.start_pos)
    tok_buckets = manifest.get("tok_buckets") or MatcherConfig().tok_buckets
    return CatalogState(
        norm=norm,
        sn_stored=_read_sn_chain(spark, manifest["sn_chain"]),
        sn_bounds=bounds,
        tok_postings=build_tok_postings(norm, tok_buckets),
        tok_buckets=tok_buckets,
        labels=_read_labels_chain(spark, manifest["labels_chain"]),
        norm_paths=manifest["norm_paths"],
        sn_chain=manifest["sn_chain"],
        labels_chain=manifest["labels_chain"],
    )


def _tail_is_large(paths: list[str]) -> bool:
    """Whether the elements after a chain's base hold at least
    :data:`FOLD_RATIO` of the base's on-disk bytes. A base this process
    cannot list reads as 0 bytes, so its chain always folds."""
    base, *tail = (ckpt.stored_bytes(p) for p in paths)
    return sum(tail) >= FOLD_RATIO * base


def compact_state(
    spark: SparkSession,
    run_dir: str,
    out_dir: str,
    num_buckets: int | None = None,
    tok_buckets: int | None = None,
) -> str:
    """Write the state at ``run_dir`` as a fresh catalog state in
    ``out_dir``, folding only the chains whose tail has grown large.

    Size-tiered, as in O'Neil et al., *The Log-Structured Merge-Tree*
    (1996): a chain (norm, sn, labels, postings) folds into one element
    only when the elements newer than its base hold at least
    :data:`FOLD_RATIO` of the base's on-disk bytes (:func:`_tail_is_large`,
    file sizes, no Spark job), or when the caller asks for a bucket modulus
    other than the state's. Otherwise the new manifest re-references the
    chain's existing element paths, and no data file is copied — the fast
    append Iceberg keeps apart from its rewrite_data_files. So the output
    dir may reference sinks of older run_dirs; a caller that deletes
    superseded dirs must keep every path :func:`manifest_paths` lists
    (streaming.ingest does).

    A fold is the corpus-proportional pass that bounds every per-batch
    cost: the norm chain is written as one normalize parquet, the labels
    chain resolved to one relation, and the sn_index RE-BUCKETED over the
    full norm (build_sn_index — this is where bucket balance is restored
    after many bucket-local merges), with fresh bounds collected from the
    persisted index. The relations depend only on the loaded state, so
    they are written concurrently (sources.checkpoint.run_parallel); the
    manifest, bounds included, is written after all of them, so a failed
    compaction leaves no state.

    This is also the one migration of a v2 or v3 state dir
    (:func:`_read_old_state`): the norm chain folds without ``tokens``, the
    postings are rebuilt keyed on the token hash, and v2's bounds move into
    the manifest.

    ``num_buckets`` is the sn_index bucket count and ``tok_buckets`` the
    postings' hash-bucket modulus; each defaults to the state's own, and a
    value equal to the state's forces no fold. A folded postings chain with
    an unchanged modulus is only re-clustered (every stored ``tbucket``
    stays valid); another modulus, or a migrated state, rebuilds them from
    the full norm. Either way the new base is clustered
    (:func:`clustered_postings`). A value below 1 raises ``ValueError``
    before anything is written.
    """
    for name, value in (("num_buckets", num_buckets), ("tok_buckets", tok_buckets)):
        if value is not None and value < 1:
            raise ValueError(f"compact_state: {name} must be >= 1, got {value}")
    manifest = _raw_manifest(run_dir)
    if _is_migratable(manifest):
        state, fold_norm = _read_old_state(spark, run_dir, manifest), True
    else:
        state, fold_norm = load_catalog_state(spark, run_dir), False
    out = Path(out_dir)
    if out.exists() and any(out.iterdir()):
        raise ValueError(f"compact_state target {out_dir!r} is not empty")
    out.mkdir(parents=True, exist_ok=True)
    # Every relation goes through the stage writer, so its marker records
    # the schema the next load_catalog_state reads with (no inference job).
    fingerprint = f"compact_state:{run_dir}"

    def write(stage: str, df: DataFrame) -> list[str]:
        ckpt.write_stage(df, str(out), stage, fingerprint)
        return [ckpt.stage_path(str(out), stage)]

    def norm_chain() -> list[str]:
        if fold_norm or _tail_is_large(state.norm_paths):
            return write("normalize", state.norm)
        return state.norm_paths

    def labels_chain() -> list[str]:
        if _tail_is_large(state.labels_chain):
            return write("labels", state.labels)
        return state.labels_chain

    if num_buckets is None:
        num_buckets = len(state.sn_bounds)

    def sn_chain() -> tuple[list[dict], list[Row]]:
        if num_buckets == len(state.sn_bounds) and not _tail_is_large(
            [e["path"] for e in state.sn_chain]
        ):
            return state.sn_chain, state.sn_bounds
        (path,) = write("sn_index", build_sn_index(state.norm, num_buckets))
        index = ckpt.load_stage(spark, str(out), "sn_index")
        return [{"path": path, "buckets": None}], merged_bounds([], index)

    # Postings: compaction is where the modulus can grow with the corpus.
    if tok_buckets is None:
        tok_buckets = state.tok_buckets

    def tok_chain() -> list[str]:
        if not state.tok_chain or tok_buckets != state.tok_buckets:
            postings = build_tok_postings(state.norm, tok_buckets)
        elif _tail_is_large(state.tok_chain):
            # Appended elements are unsorted and each covers the whole
            # tbucket range; one clustered base restores the clustering
            # bucket pruning relies on.
            postings = state.tok_postings
        else:
            return state.tok_chain
        return write("tok_index", clustered_postings(postings))

    # The relations are independent of each other: written concurrently.
    norm_paths, (sn, bounds), labels, toks = ckpt.run_parallel(
        spark, norm_chain, sn_chain, labels_chain, tok_chain
    )
    write_state_manifest(
        str(out), norm_paths=norm_paths, sn_chain=sn, sn_bounds=bounds,
        labels_chain=labels, tok_chain=toks, tok_buckets=tok_buckets,
    )
    return str(out)

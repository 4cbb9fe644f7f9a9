"""State-based (delta-proportional) incremental ingest — plans.catalog_state
+ the delta graph of plans.incremental + the staged delta pipeline.

The references are the batch operators, which share no code with the delta
path.

Contract under test:
- the state path produces EXACTLY the batch entity table over catalog ∪
  delta (test_incremental.py shows the two agree on this split);
- the token pass reproduces batch token blocking over the union, and the
  SN probe of the updated key index the full-union-sort pair set, each
  restricted to delta-touching pairs, without sorting the corpus — also on
  the edge cases of the bucket layout;
- the SN probe reads only the touched buckets and their neighbours, and
  bucket assignment is native and evaluated once;
- maintained state (postings / sn_index) equals a from-scratch rebuild;
- the blocking plan never reads the catalog's content column (plan gate);
- the staged delta pipeline resumes after an interruption.
"""

from __future__ import annotations

import hashlib
import random
import re
import shutil

import pytest
from pyspark.sql import functions as F

from codingchallenge_spark.functions.normalize import (
    normalize_records,
    with_token_hashes,
)
from codingchallenge_spark.operators.blocking import (
    sorted_neighborhood,
    token_blocking,
)
from codingchallenge_spark.plans import catalog_state as cstate
from codingchallenge_spark.plans.incremental import (
    delta_sn_pairs,
    incremental_candidate_pairs,
    incremental_token_pairs_state,
    resolve_entities_incremental,
    sn_index_stages,
    sn_probe_index,
)
from codingchallenge_spark.plans.matcher import (
    MatcherConfig,
    _InMemorySink,
    resolve_entities,
)

SN_WINDOW = 4


def _partition(df) -> set[frozenset[str]]:
    clusters: dict[str, set[str]] = {}
    for r in df.select("rid", "entity_id").collect():
        clusters.setdefault(r.entity_id, set()).add(r.rid)
    return {frozenset(v) for v in clusters.values()}


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _sn_update(st, delta_norm, root=None):
    """The delta's sn_index stage and new bounds, in memory or (``root``)
    with the stage written to parquet and read back, as the pipeline's sink
    does."""
    if root is None:
        return sn_index_stages(_InMemorySink("sn_index").stage, st, delta_norm)
    spark = delta_norm.sparkSession

    def stage(name, upstream, build):
        build().write.parquet(str(root / name))
        return spark.read.parquet(str(root / name))

    return sn_index_stages(stage, st, delta_norm)


def _assigned(st, delta_norm):
    """Old bounds, pinned bucket assignment and touched buckets."""
    bounds = st.sn_bounds
    assigned = cstate.assign_buckets(delta_norm.select("rid", "name_norm"), bounds)
    return bounds, assigned, cstate.touched_buckets(assigned, bounds)


@pytest.fixture(scope="module")
def split_corpus(spark, tiny_fixture):
    recs = tiny_fixture.records.reset_index(drop=True)
    old = spark.createDataFrame(recs[recs.index % 7 != 0])
    new = spark.createDataFrame(recs[recs.index % 7 == 0])
    return old, new


@pytest.fixture(scope="module")
def catalog(spark, split_corpus):
    old, _ = split_corpus
    cat = resolve_entities(old, MatcherConfig()).cache()
    cat.count()
    return cat


@pytest.fixture(scope="module")
def state(spark, catalog, tmp_path_factory):
    """Parquet-backed state (like a pipeline run_dir's) so the plan gates
    below see real scans with ReadSchema."""
    tmp = tmp_path_factory.mktemp("catstate")
    norm = with_token_hashes(
        normalize_records(catalog.select("repo", "path", "commit", "lang", "content"))
    ).withColumn("rid", F.unhex("rid"))
    norm.write.parquet(str(tmp / "norm"))
    normp = spark.read.parquet(str(tmp / "norm"))
    cstate.build_sn_index(normp, num_buckets=8).write.parquet(str(tmp / "sn_index"))
    idxp = spark.read.parquet(str(tmp / "sn_index"))
    from codingchallenge_spark.functions.normalize import guarded_unhex

    catalog.select(
        guarded_unhex("rid", "t").alias("rid"),
        guarded_unhex("entity_id", "t").alias("entity_id"),
    ).write.parquet(str(tmp / "labels"))
    cstate.build_tok_postings(normp, 16).write.parquet(str(tmp / "tok_index"))
    return cstate.CatalogState(
        norm=normp,
        sn_stored=idxp,
        # the bounds of the persisted index, as the pipeline computes them
        sn_bounds=cstate.merged_bounds([], idxp),
        tok_postings=spark.read.parquet(str(tmp / "tok_index")),
        tok_buckets=16,
        labels=spark.read.parquet(str(tmp / "labels")),
        norm_paths=[str(tmp / "norm")],
        sn_chain=[{"path": str(tmp / "sn_index"), "buckets": None}],
        labels_chain=[str(tmp / "labels")],
        tok_chain=[str(tmp / "tok_index")],
    ), str(tmp / "norm")


@pytest.fixture(scope="module")
def work_new(spark, catalog, split_corpus):
    _, new = split_corpus
    nn = (
        normalize_records(new)
        .dropDuplicates(["rid"])
        .join(catalog.select("rid"), "rid", "left_anti")
    )
    nn = with_token_hashes(nn).withColumn("rid", F.unhex("rid")).cache()
    nn.count()
    return nn.select("rid", "name_norm", "th")


@pytest.fixture(scope="module")
def batch_union(spark, split_corpus):
    """The batch matcher over catalog ∪ delta: the reference entity table."""
    old, new = split_corpus
    df = resolve_entities(old.unionByName(new), MatcherConfig()).cache()
    df.count()
    return df


def test_state_path_equals_batch(spark, catalog, split_corpus, state, batch_union):
    _, new = split_corpus
    st, _ = state
    inc = resolve_entities_incremental(catalog, new, MatcherConfig(), state=st)
    assert _partition(inc) == _partition(batch_union)
    # and the content invariant rides through the persisted-norm emit
    bad = inc.filter(F.sha2("content", 256) != F.col("content_sha")).count()
    assert bad == 0


def _pair_rows(df) -> list[tuple[str, str, str]]:
    return sorted(
        (bytes(r.rid1).hex(), bytes(r.rid2).hex(), r.block_key)
        for r in df.collect()
    )


def _union_work(st, work_new):
    return st.norm.select(
        "rid", "name_norm", "th", F.lit(False).alias("is_new"),
    ).unionByName(
        work_new.select("rid", "name_norm", "th").withColumn(
            "is_new", F.lit(True)
        )
    )


def _touching_new(pairs, union_work):
    """Restrict a batch pair relation to pairs with ≥ 1 new side."""
    flags = union_work.select("rid", "is_new")
    f1 = flags.select(F.col("rid").alias("rid1"), F.col("is_new").alias("_n1"))
    f2 = flags.select(F.col("rid").alias("rid2"), F.col("is_new").alias("_n2"))
    return (
        pairs.join(f1, "rid1").join(f2, "rid2")
        .filter(F.col("_n1") | F.col("_n2"))
        .select("rid1", "rid2", "block_key")
    )


def test_delta_token_pairs_exact(spark, state, work_new):
    """The postings-chain token pass = batch token blocking over the union
    corpus restricted to pairs with ≥ 1 new side — as a MULTISET (one row
    per shared cold token: meta-blocking counts them as overlap)."""
    st, _ = state
    union_work = _union_work(st, work_new)
    df_cap = 50
    batch = token_blocking(union_work, df_cap=df_cap, dedupe=False)
    want = _pair_rows(_touching_new(batch, union_work))
    got = _pair_rows(incremental_token_pairs_state(st, work_new, df_cap=df_cap))
    assert got == want
    assert len(got) > 0  # non-vacuous on this corpus
    # and the cap is live: some delta token is hot over the union
    hot = (
        union_work.select(F.explode("th").alias("tok"))
        .groupBy("tok").count().filter(F.col("count") > df_cap)
        .join(work_new.select(F.explode("th").alias("tok")), "tok", "left_semi")
    )
    assert hot.count() > 0


def test_delta_sn_pairs_exact(spark, catalog, split_corpus, state, work_new):
    """The SN probe of the updated key index = full union sort restricted
    to pairs with ≥ 1 new side — pair-level equality, the strongest form of
    the claim."""
    st, _ = state
    union_work = _union_work(st, work_new)
    batch = sorted_neighborhood(union_work, window=SN_WINDOW, dedupe=True)
    got = delta_sn_pairs(
        st, _sn_update(st, work_new), work_new.select("rid", "name_norm"),
        window=SN_WINDOW,
    ).dropDuplicates(["rid1", "rid2"])
    assert _pair_rows(got) == _pair_rows(_touching_new(batch, union_work))


def _enc(name: str, rid: bytes) -> tuple[bytes, bytes]:
    return name.encode(), bytes(rid)


def _rid(i: int) -> bytes:
    return hashlib.sha256(str(i).encode()).digest()


def _hand_state(spark, keys, sizes) -> cstate.CatalogState:
    """A catalog key index with the given bucket sizes, in key order (the
    buckets are hand-cut, so a bucket can hold fewer than w − 1 rows)."""
    keys = sorted(keys, key=lambda k: _enc(*k))
    assert sum(sizes) == len(keys)
    rows, i = [], 0
    for bucket, size in enumerate(sizes):
        for lpos in range(1, size + 1):
            name, rid = keys[i]
            rows.append((bucket, rid, name, lpos))
            i += 1
    stored = spark.createDataFrame(
        rows, "bucket int, rid binary, name_norm string, lpos int"
    )
    norm = spark.createDataFrame(
        [(n, rid, []) for n, rid in keys],
        "name_norm string, rid binary, th array<bigint>",
    )
    return cstate.CatalogState(
        norm=norm, sn_stored=stored, sn_bounds=cstate.merged_bounds([], stored),
        tok_postings=cstate.build_tok_postings(norm, 4), tok_buckets=4,
    )


def _random_case(seed: int):
    """Short names over a two-letter alphabet: prefixes of each other and
    equal names with different rids are the common case."""
    rng = random.Random(seed)
    names = ["".join(rng.choice("ab") for _ in range(rng.randint(0, 3)))
             for _ in range(40)]
    keys = [(n, _rid(1000 * seed + i)) for i, n in enumerate(names)]
    cut = sorted(rng.sample(range(1, 30), 4))
    sizes = [b - a for a, b in zip([0] + cut, cut + [30])]
    return keys[:30], sizes, keys[30:]


def _edge_cases():
    m = [(f"m{c}", _rid(i)) for i, c in enumerate("abcdefghijkl")]
    yield "below_first_min", m, [3, 3, 3, 3], [("a", _rid(100)), ("b", _rid(101))]
    yield "above_last_key", m, [3, 3, 3, 3], [("z", _rid(100)), ("zz", _rid(101))]
    yield "buckets_below_window", m, [5, 1, 2, 4], [
        ("mf", _rid(100)), ("mg0", _rid(101)), ("mgz", _rid(102)),
    ]
    # One key after the last row of the second bucket: only that bucket is
    # touched, and its successor pairs come from the neighbour scan.
    yield "one_bucket_neighbours", m, [4, 2, 3, 3], [("mfz", _rid(100))]
    yield "empty_catalog", [], [], [("a", _rid(100)), ("b", _rid(101)), ("c", _rid(102))]
    p = [("a", _rid(1)), ("ab", _rid(2)), ("ab", _rid(3)), ("abc", _rid(4)),
         ("abc", _rid(5)), ("b", _rid(6)), ("ba", _rid(7)), ("bab", _rid(8))]
    yield "prefixes_and_equal_names", p, [3, 1, 4], [
        ("ab", bytes(32)), ("ab", b"\xff" * 32), ("abc", _rid(9)), ("", _rid(10)),
    ]
    # Bucket minima with quotes, a backslash and non-ASCII characters: the
    # bounds reach the JVM as one JSON literal.
    q = [(n, _rid(20 + i)) for i, n in enumerate(
        ['a"b', "a'b", "a\\b", "ab", "é", "éa", "日本", "😀x"]
    )]
    yield "quotes_and_non_ascii", q, [1, 1, 2, 1, 3], [
        ("a'", _rid(30)), ('a"c', _rid(31)), ("a\\", _rid(32)), ("ö", _rid(33)),
        ("😀", _rid(34)),
    ]
    for seed in (1, 2, 3):
        yield (f"random_{seed}", *_random_case(seed))


@pytest.mark.parametrize(
    "case", list(_edge_cases()), ids=lambda c: c[0]
)
def test_delta_sn_pairs_exact_edge_cases(spark, case):
    """The delta SN pairs, block keys included, equal batch SN over the
    union restricted to pairs with ≥ 1 new side on the edge cases of the
    bucket layout; and the native bucket assignment equals a brute-force
    Python one by (UTF-8 name bytes, rid bytes)."""
    name, cat_keys, sizes, delta = case
    st = _hand_state(spark, cat_keys, sizes)
    keys = spark.createDataFrame(delta, "name_norm string, rid binary")

    bounds = st.sn_bounds
    got_buckets = {
        (r.name_norm, bytes(r.rid)): r.bucket
        for r in cstate.assign_buckets(keys, bounds).collect()
    }
    for n, rid in delta:
        below = [b.bucket for b in bounds if _enc(b.min_name, b.min_rid) <= _enc(n, rid)]
        want = below[-1] if below else (bounds[0].bucket if bounds else 0)
        assert got_buckets[(n, rid)] == want, (name, n)

    upd = _sn_update(st, keys)
    if name == "one_bucket_neighbours":
        assert upd.touched == [1]
    union = st.norm.select("rid", "name_norm", F.lit(False).alias("is_new")).unionByName(
        keys.select("rid", "name_norm", F.lit(True).alias("is_new"))
    )
    batch = sorted_neighborhood(union, window=SN_WINDOW, dedupe=True)
    want_pairs = _pair_rows(_touching_new(batch, union))
    got = _pair_rows(delta_sn_pairs(st, upd, keys, window=SN_WINDOW))
    assert got == want_pairs, name
    assert got, name  # every case has delta-touching pairs


def test_sn_probe_reads_touched_and_neighbour_buckets(spark, state, work_new):
    """The SN probe reads the touched buckets and the buckets within w − 1
    positions of one — here fewer rows than the index holds."""
    st, _ = state
    small = work_new.orderBy("rid").limit(2)
    upd = _sn_update(st, small)
    read = sn_probe_index(st, upd, small.select("rid"), SN_WINDOW).count()
    reach = SN_WINDOW - 1
    spans = [
        (b.start_pos - reach, b.start_pos + b.n - 1 + reach)
        for b in upd.bounds if b.bucket in upd.touched
    ]
    near = [
        b for b in upd.bounds
        if any(b.start_pos <= hi and b.start_pos + b.n - 1 >= lo for lo, hi in spans)
    ]
    assert read == sum(b.n for b in near)
    assert read < sum(b.n for b in upd.bounds), (read, upd.bounds)


def test_bucket_assignment_evaluated_once_per_operation(spark, state, work_new):
    """The sn-index stage reads the delta keys' bucket assignment three
    times (touched buckets, the merge, the merged element's bucket stats); the
    delta keys are still evaluated exactly once."""
    st, _ = state
    seen = spark.sparkContext.accumulator(0)

    def counted(row):
        seen.add(1)
        return row

    keys = work_new.select("rid", "name_norm")
    upd = _sn_update(st, spark.createDataFrame(keys.rdd.map(counted), keys.schema))
    assert upd.touched
    assert seen.value == keys.count()


def test_blocking_plan_reads_no_catalog_content(spark, state, work_new, tmp_path):
    """VERDICT gate: the state-path pairs plan must not scan the catalog's
    content column (no re-normalize — the persisted narrow columns only).
    The SN probe reads the persisted key index with no range sort, no
    nested-loop join and no Python worker."""
    st, norm_path = state

    def norm_scan_cols(plan: str):
        for m in re.finditer(
            r"Location:[^\n]*" + re.escape(norm_path) + r"[^\n]*\n(?:[^\n]*\n)*?"
            r"ReadSchema: struct<([^>]*)>",
            plan,
        ):
            yield {c.split(":")[0] for c in m.group(1).split(",") if c}

    upd = _sn_update(st, work_new, tmp_path)
    cfg = MatcherConfig()
    tok = incremental_token_pairs_state(st, work_new, df_cap=cfg.token_df_cap)
    plan = _plan(incremental_candidate_pairs(st, work_new, cfg, tok, sn=upd))
    for cols in norm_scan_cols(plan):
        assert "content" not in cols, cols
    # sha2/normalize expressions must not appear anywhere (the catalog
    # is never re-normalized; the delta side arrives pre-normalized).
    assert "sha2" not in plan

    # The probe pins the index rows it reads, which truncates their lineage
    # out of the pairs plan: both plans are checked.
    keys = work_new.select("rid", "name_norm")
    probe_plan = _plan(sn_probe_index(st, upd, keys, SN_WINDOW))
    assert "sn_index" in probe_plan, "SN pass must consume the key index"
    for p in (probe_plan, _plan(delta_sn_pairs(st, upd, keys, SN_WINDOW))):
        for banned in (
            "rangepartitioning", "sha2", "BroadcastNestedLoopJoin",
            "ArrowEvalPython",
        ):
            assert banned not in p, banned
        for cols in norm_scan_cols(p):
            assert "content" not in cols, cols


def test_tok_postings_prune_is_lossless(spark, state, work_new):
    """The catalog side of the token pass is the postings chain pruned to
    the hash-buckets of the delta's tokens. The prune is lossless for any
    modulus: with no token hot, the pairs equal batch token blocking over
    the union restricted to pairs with ≥ 1 new side, for one bucket and for
    a modulus other than the state's."""
    import dataclasses

    st, _ = state
    union_work = _union_work(st, work_new)
    no_cap = 10**9
    want = _pair_rows(
        _touching_new(
            token_blocking(union_work, df_cap=no_cap, dedupe=False), union_work
        )
    )
    assert want  # non-vacuous on this corpus
    for modulus in (1, 7):
        s = dataclasses.replace(
            st, tok_postings=cstate.build_tok_postings(st.norm, modulus),
            tok_buckets=modulus,
        )
        got = _pair_rows(incremental_token_pairs_state(s, work_new, df_cap=no_cap))
        assert got == want, modulus


def _token_names(spark, rows) -> dict[int, str]:
    """Token hash → token, over the token lists of ``rows``."""
    words = sorted({t for *_, toks in rows for t in toks})
    hashes = spark.range(1).select(*[F.xxhash64(F.lit(w)) for w in words]).first()
    return dict(zip(hashes, words))


_CAP_CAT = [
    (_rid(1), "c1", ["at_cap", "below_cap", "shared"]),
    (_rid(2), "c2", ["at_cap", "below_cap"]),
    (_rid(3), "c3", ["at_cap", "catalog_only"]),
    (_rid(4), "c4", ["shared", "catalog_only"]),
]
_CAP_DELTA = [
    (_rid(10), "d1", ["at_cap", "below_cap", "delta_only", "delta_hot"]),
    (_rid(11), "d2", ["delta_only", "delta_hot", "shared"]),
    (_rid(12), "d3", ["delta_hot"]),
    (_rid(13), "d4", ["delta_hot"]),
]


def _cap_case(spark):
    """A catalog and a delta around the df cap (3): ``at_cap`` has catalog
    df = cap and the delta adds one (hot over the union), ``below_cap`` has
    catalog df = cap − 1 and the delta adds one (stays cold), ``delta_only``
    and ``delta_hot`` appear only in the delta (cold, and hot by the delta's
    own count). Both sides carry the token hashes ``th``."""
    schema = "rid binary, name_norm string, tokens array<string>"
    norm = with_token_hashes(spark.createDataFrame(_CAP_CAT, schema))
    # The token pass reads no sn index.
    st = cstate.CatalogState(
        norm=norm, sn_stored=None, sn_bounds=[],
        tok_postings=cstate.build_tok_postings(norm, 4), tok_buckets=4,
    )
    return st, with_token_hashes(spark.createDataFrame(_CAP_DELTA, schema))


def test_delta_token_pairs_exact_at_the_cap(spark):
    """At the df cap the delta pairs, block keys included, equal batch
    token blocking over the union restricted to pairs with ≥ 1 new side."""
    st, work = _cap_case(spark)
    union = _union_work(st, work)
    want = _pair_rows(_touching_new(token_blocking(union, df_cap=3, dedupe=False), union))
    names = _token_names(spark, _CAP_CAT + _CAP_DELTA)
    keys = {names[k] for _, _, k in want}
    assert keys == {"below_cap", "delta_only", "shared"}, keys
    got = _pair_rows(incremental_token_pairs_state(st, work, df_cap=3))
    assert got == want


def test_token_pass_plan_is_bucket_pruned(spark, state, work_new):
    """Plan gate (round 5): with a postings chain the token pass scans the
    tok_index parquet with the tbucket IN literal REACHING the scan, and the
    catalog side never explodes the norm chain's token arrays (the norm
    parquet is absent from the token-pass plan entirely)."""
    st, norm_path = state
    plan = _plan(incremental_token_pairs_state(st, work_new, df_cap=50))
    assert "tok_index" in plan, "catalog side must read the postings index"
    assert re.search(r"PushedFilters:[^\n]*In\(tbucket", plan), plan[:2000]
    assert norm_path not in plan, "norm chain must not be scanned"


def test_updated_state_equals_rebuild(spark, state, catalog, split_corpus, tmp_path):
    """Incremental maintenance is exact: the postings count per token over
    the catalog postings plus the delta's element equals a from-scratch df
    over the union, and the BUCKET-LOCAL merge (touched
    buckets rewritten, untouched untouched, bounds re-prefix-summed on the
    driver)
    resolves to the union order re-materialized (same keys, contiguous
    1..N positions) — without any corpus re-sort (plan gate below)."""
    _, new = split_corpus
    st, _ = state
    norm_new = (
        with_token_hashes(
            normalize_records(new).join(catalog.select("rid"), "rid", "left_anti")
        )
        .withColumn("rid", F.unhex("rid"))
    )
    union_norm = st.norm.select("rid", "th", "name_norm").unionByName(
        norm_new.select("rid", "th", "name_norm")
    )
    postings = st.tok_postings.unionByName(
        cstate.build_tok_postings(norm_new, st.tok_buckets)
    )
    got = {tuple(r) for r in postings.groupBy("tok").count().collect()}
    want = {
        tuple(r)
        for r in union_norm.select(F.explode("th").alias("tok"))
        .groupBy("tok").count().collect()
    }
    assert got == want

    # bucket-local merge, persisted like the pipeline stage would persist it
    bounds, assigned, touched_list = _assigned(st, norm_new)
    merged = cstate.merge_sn_buckets(st, assigned, touched_list)
    merged.write.parquet(str(tmp_path / "sn_touched"))
    touched = spark.read.parquet(str(tmp_path / "sn_touched"))
    new_bounds = cstate.merged_bounds(bounds, touched)
    # the driver-side rows round-trip through the state manifest unchanged
    cstate.write_state_manifest(
        str(tmp_path), norm_paths=[], sn_chain=[], sn_bounds=new_bounds,
        labels_chain=[], tok_chain=[], tok_buckets=1,
    )
    bounds2 = cstate.read_manifest(str(tmp_path))["sn_bounds"]
    assert list(map(tuple, cstate._bounds_rows(bounds2))) == list(
        map(tuple, new_bounds)
    )
    touched_ids = {r.bucket for r in touched.select("bucket").distinct().collect()}
    stored2 = st.sn_stored.filter(
        ~F.col("bucket").isin(sorted(touched_ids))
    ).unionByName(touched)
    rows = cstate.resolve_sn_index(stored2, new_bounds).select(
        "rid", "name_norm", "pos"
    ).collect()
    n = union_norm.count()
    assert len(rows) == n
    assert sorted(r.pos for r in rows) == list(range(1, n + 1))
    # positions follow the global (name_norm, rid) order
    by_pos = sorted(rows, key=lambda r: r.pos)
    keys = [(r.name_norm, bytes(r.rid)) for r in by_pos]
    assert keys == sorted(keys)


def test_maintenance_plan_is_bucket_local(spark, state, catalog, split_corpus):
    """VERDICT r04 #2 plan gates: the maintenance plan contains NO range
    sort (the corpus re-sort the old full rebuild paid per delta) and scans
    the stored index WITH a bucket pruning filter; and VERDICT r04 #4: the
    bucket assignment and the SN probe contain no BroadcastNestedLoopJoin
    (the old non-equi bounds joins) and no Python worker."""
    _, new = split_corpus
    st, _ = state
    norm_new = (
        with_token_hashes(
            normalize_records(new).join(catalog.select("rid"), "rid", "left_anti")
        )
        .withColumn("rid", F.unhex("rid"))
    )
    bounds, assigned, touched = _assigned(st, norm_new)
    plan = _plan(cstate.merge_sn_buckets(st, assigned, touched))
    assert "rangepartitioning" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the touched-bucket predicate reaches the parquet scan
    assert "In(bucket" in plan, "stored-index scan must be bucket-pruned"

    work = norm_new.select("rid", "name_norm")
    assign_plan = _plan(
        work.select("rid", cstate.bucket_column(bounds).alias("bucket"))
    )
    upd = _sn_update(st, norm_new)
    probe_plan = _plan(sn_probe_index(st, upd, work, SN_WINDOW))
    sn_plan = _plan(delta_sn_pairs(st, upd, work, SN_WINDOW))
    for p in (assign_plan, probe_plan, sn_plan):
        assert "BroadcastNestedLoopJoin" not in p
        assert "ArrowEvalPython" not in p


def test_emit_delta_is_exact_upsert(spark, catalog, split_corpus, state, batch_union):
    _, new = split_corpus
    st, _ = state
    up = resolve_entities_incremental(
        catalog, new, MatcherConfig(), state=st, emit="delta"
    )
    up_rows = {(r.rid, r.entity_id) for r in up.select("rid", "entity_id").collect()}
    full_rows = {
        (r.rid, r.entity_id)
        for r in batch_union.select("rid", "entity_id").collect()
    }
    assert up_rows <= full_rows
    up_rids = {rid for rid, _ in up_rows}
    assert up_rows == {t for t in full_rows if t[0] in up_rids}
    # every new record is in the upsert set
    new_rids = {
        r.rid for r in normalize_records(new).select("rid").collect()
    }
    assert new_rids <= up_rids


def test_delta_pipeline_resumes_after_interruption(
    spark, catalog, split_corpus, state, batch_union, tmp_path
):
    """VERDICT item: staged --delta checkpointing — kill after scoring,
    resume recomputes only the downstream suffix; fingerprints fold the
    catalog identity (different input_id ⇒ full rebuild)."""
    from codingchallenge_spark.plans.pipeline import run_delta_pipeline

    _, new = split_corpus
    st, _ = state
    run_dir = str(tmp_path / "d1")
    r1 = run_delta_pipeline(
        spark, catalog, new, run_dir, MatcherConfig(), input_id="cat1", state=st
    )
    assert r1.skipped == []
    assert _partition(r1.entities) == _partition(batch_union)

    # interruption: downstream of scoring lost
    for stg in ("edges_delta", "cc_delta", "entities_delta"):
        shutil.rmtree(tmp_path / "d1" / stg, ignore_errors=True)
    r2 = run_delta_pipeline(
        spark, catalog, new, run_dir, MatcherConfig(), input_id="cat1",
        state=st, resume=True,
    )
    assert "normalize_delta" in r2.skipped and "score_delta" in r2.skipped
    assert r2.executed[:3] == ["edges_delta", "cc_delta", "entities_delta"]
    assert _partition(r2.entities) == _partition(batch_union)

    # catalog identity is part of every fingerprint
    r3 = run_delta_pipeline(
        spark, catalog, new, run_dir, MatcherConfig(), input_id="cat2",
        state=st, resume=True,
    )
    assert "normalize_delta" in r3.executed


def test_delta_pipeline_refuses_state_without_chains(spark, split_corpus, state, tmp_path):
    """Every delta run maintains the catalog state, so a state without chain
    paths (an in-memory one) is refused before any stage is written."""
    import dataclasses

    from codingchallenge_spark.plans.pipeline import run_delta_pipeline

    _, new = split_corpus
    st, _ = state
    rd = tmp_path / "d"
    with pytest.raises(ValueError, match="parquet-backed"):
        run_delta_pipeline(
            spark, None, new, str(rd), MatcherConfig(),
            state=dataclasses.replace(st, sn_chain=None),
        )
    assert not (rd / "normalize_delta").exists()

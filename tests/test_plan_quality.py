"""Physical-plan quality gates (SURVEY.md §4).

Correctness tests prove the operators compute the right answer; these prove
the *plans* are the ones that survive a 100× scale-up: predicates and column
projections reach the parquet scan, small dimensions broadcast, the wide
``content`` column never travels through blocking/scoring shuffles, and the
scoring stage keeps its Arrow crossings down to the designed count.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from codingchallenge_spark.functions.normalize import (
    normalize_records,
    with_token_hashes,
)
from codingchallenge_spark.operators.scoring import (
    attach_pair_attrs,
    edges_from_scores,
    score_pairs,
    score_pairs_fused,
)
from codingchallenge_spark.plans.matcher import MatcherConfig, candidate_pairs
from codingchallenge_spark.plans.query_pack import queries

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    df = queries()["q_filter_pushdown"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters:" in plan
    # Both predicates are sargable and must be pushed, not just evaluated post-scan.
    assert re.search(r"PushedFilters: \[.*GreaterThan\(l_quantity", plan), plan
    assert re.search(r"PushedFilters: \[.*EqualTo\(l_returnflag,R\)", plan), plan


def test_column_pruning_reaches_scan(spark):
    df = queries()["q_scan_project"](spark, SF)
    plan = _plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # 3-column projection over a 16-column table: the scan reads exactly 3.
    assert read_cols == {"l_orderkey", "l_linenumber", "l_quantity"}, read_cols


def test_small_dims_broadcast(spark):
    df = queries()["q_broadcast_join"](spark, SF)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_whole_stage_codegen_covers_quality_metrics(spark):
    # Text-analysis expressions must stay JVM-side: no Python eval nodes.
    # (The stopword higher-order filter is interpreted-eval — Spark can't
    # codegen higher-order functions — but it must never become a UDF.)
    df = queries()["q_quality"](spark, SF)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    # Since round 6 the query carries a partition-floor Exchange, so the lazy
    # AQE plan prints without codegen markers (isFinalPlan=false hides the
    # WholeStageCodegen wrapping). Execute THIS DataFrame's QueryExecution
    # (collect of 50 rows at sf0.001 — a noop write would clone the plan and
    # leave df's own AQE state unfinalized) and assert on the FINAL plan.
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in final and "BatchEvalPython" not in final
    assert "*(" in final or "WholeStageCodegen" in final, final


def test_content_never_enters_blocking_or_scoring(spark, tiny_records):
    """The wide column must stay at the scan/normalize boundary: blocking and
    scoring plans may only carry (rid, name_norm, th) derivatives."""
    # Other tests may have persisted plans that carry `content`; cache
    # substitution would splice their InMemoryRelation description into this
    # plan string and fail the assertion spuriously.
    spark.catalog.clearCache()
    cfg = MatcherConfig()
    norm = with_token_hashes(normalize_records(tiny_records)).select(
        "rid", "name_norm", "th"
    )
    pairs = candidate_pairs(norm, cfg)
    scored = score_pairs_fused(pairs, norm, weights=cfg.weights,
                               threshold=cfg.threshold)
    plan = _plan(scored)
    assert "content" not in plan, "wide column leaked into the scoring plan"


def test_scoring_python_crossings_bounded(spark, tiny_records):
    """The production (fused) scoring plan has exactly ONE narrow
    ArrowEvalPython crossing — jw/lev over survivor names — and NO
    mapInPandas: the Jaccard is native, so no Python UDF reads th1/th2, and
    ArrowEvalPython ships only the UDF argument columns, so rids/jaccard
    never enter Python either."""
    cfg = MatcherConfig()
    norm = with_token_hashes(normalize_records(tiny_records)).select(
        "rid", "name_norm", "th"
    )
    pairs = candidate_pairs(norm, cfg)

    fused = score_pairs_fused(pairs, norm, weights=cfg.weights,
                              threshold=cfg.threshold)
    plan = _plan(fused)
    # formatted explain prints each node in the tree AND the detail section —
    # count detail headers "(NN) ArrowEvalPython".
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan
    assert "MapInPandas" not in plan, plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere
    tree = fused._jdf.queryExecution().executedPlan().toString()
    (node,) = [ln for ln in tree.splitlines() if "ArrowEvalPython [" in ln]
    udfs = re.findall(r"(\w+)\(([^()]*)\)#\d+", node)
    assert sorted(name for name, _ in udfs) == [
        "jaro_winkler_udf", "levenshtein_ratio_udf"
    ], node
    for _, args in udfs:
        assert [a.split("#")[0] for a in args.split(", ")] == [
            "name1", "name2"
        ], node
    assert not re.search(r"\bth[12]#", node), node


def test_production_scorer_equals_reference(spark, tiny_records):
    """The production scorer (exact bound prune + native jaccard) against
    the unpruned reference (score_pairs over the token strings): the same
    edge set, and every row production emits equals the reference row of
    the same pair."""
    from codingchallenge_spark.functions.similarity import token_hashes

    cfg = MatcherConfig()
    norm = normalize_records(tiny_records).withColumn(
        "th", token_hashes("tokens")
    ).persist()
    pairs = candidate_pairs(norm, cfg).persist()
    prod = score_pairs_fused(pairs, norm, weights=cfg.weights,
                             threshold=cfg.threshold)
    ref = score_pairs(attach_pair_attrs(pairs, norm), weights=cfg.weights,
                      threshold=cfg.threshold)
    cols = ["rid1", "rid2", "jw", "lev", "jaccard", "score"]
    prod_rows = [tuple(r) for r in prod.select(*cols).collect()]
    ref_rows = {(r.rid1, r.rid2): tuple(r) for r in ref.select(*cols).collect()}

    def edges(df):
        return set(map(tuple, edges_from_scores(df, cfg.threshold).collect()))

    prod_edges = edges(prod)
    assert prod_edges and prod_edges == edges(ref)
    assert len({r[:2] for r in prod_rows}) == len(prod_rows)
    for row in prod_rows:
        assert row == ref_rows[row[:2]]
    norm.unpersist()
    pairs.unpersist()


def test_simhash64_plan_has_no_python(spark):
    """simhash64 is explode + 64 codegen'd bit-sum aggregates — the retired
    per-row pandas UDF must never creep back in."""
    df = queries()["q_simhash64"](spark, SF)
    plan = _plan(df)
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan, f"{node} in simhash64 plan"


def _window_partition_specs(df) -> list[str]:
    """Partition-spec strings of every Window node in the optimized plan.

    Window prints as `Window [fns], [partitionSpec], [orderSpec]` — an empty
    second bracket group is the single-partition trap (and is what Catalyst
    folds a constant partition key into).
    """
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    specs = []
    for line in plan.splitlines():
        stripped = line.lstrip(" +-:")
        if stripped.startswith("Window "):
            parts = re.findall(r"\[[^\[\]]*\]", stripped)
            if len(parts) >= 2:
                specs.append(parts[-2])
    return specs


def test_sn_has_no_single_partition_window(spark, tiny_records):
    """Both SN passes window over real (unfoldable) partition keys — no
    'No Partition Defined for Window' degradation anywhere in the plan."""
    from codingchallenge_spark.operators.blocking import sorted_neighborhood

    norm = normalize_records(tiny_records).select("rid", "name_norm")
    sn = sorted_neighborhood(norm, window=4, num_buckets=8)
    for spec in _window_partition_specs(sn):
        assert spec != "[]", "single-partition Window in SN plan"


def test_flagship_has_no_single_partition_window(spark, tiny_records):
    from codingchallenge_spark.plans.matcher import resolve_entities

    out = resolve_entities(tiny_records, MatcherConfig())
    for spec in _window_partition_specs(out):
        assert spec != "[]", "single-partition Window in flagship plan"


def test_no_cartesian_anywhere_in_matcher(spark, tiny_records):
    cfg = MatcherConfig()
    from codingchallenge_spark.plans.matcher import resolve_entities

    out = resolve_entities(tiny_records, cfg)
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan


def test_cc_round_plan_shape(spark):
    """One large-star/small-star round is two single-exchange window-min
    passes plus one dedup — no join operator anywhere (the groupBy+join form
    this replaced shuffled the edge list twice per step), and at most 3
    exchanges for the whole round."""
    from codingchallenge_spark.operators.cc import (
        _canon_edges,
        _large_star_raw,
        _small_star_raw,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], ["src", "dst"]
    )
    round_df = _canon_edges(_small_star_raw(_large_star_raw(edges)))
    plan = _plan(round_df)
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct"):
        assert node not in plan, f"{node} in CC round plan"
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def _simple_plan(df) -> str:
    """`simple` explain: one line per physical node with the join type inline
    (`BroadcastHashJoin [k], [k], Inner, BuildRight`) — what the broadcast-
    guard gates below need to tell a corpus-side broadcast from the
    deliberate tiny-list anti-join broadcasts."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def _assert_selfjoin_guarded(df, label: str) -> None:
    """The derived self-join must be a ShuffledHashJoin; the only broadcast
    hash joins allowed are the LeftAnti hot-key guards (tiny by construction).
    Locks in the shuffle_hash hints against config/Spark-version drift —
    Catalyst under-estimates exploded/UDF-derived relations and would
    otherwise broadcast the ENTIRE corpus side (commits ce2a8c6/05fcdda
    class of bug)."""
    plan = _simple_plan(df)
    assert "ShuffledHashJoin" in plan, f"{label}: self-join not shuffle-hash:\n{plan}"
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line:
            assert "LeftAnti" in line, (
                f"{label}: corpus-side BroadcastHashJoin:\n{line}\n{plan}"
            )
    assert "BroadcastNestedLoopJoin" not in plan, label
    assert "CartesianProduct" not in plan, label


def test_token_blocking_selfjoin_guarded(spark, tiny_records):
    from codingchallenge_spark.operators.blocking import token_blocking

    norm = with_token_hashes(normalize_records(tiny_records)).select(
        "rid", "name_norm", "th"
    )
    _assert_selfjoin_guarded(token_blocking(norm), "token_blocking")


def test_minhash_lsh_selfjoin_guarded(spark):
    from codingchallenge_spark.operators.dedup import minhash_lsh_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    _assert_selfjoin_guarded(
        minhash_lsh_pairs(d, "doc_id", "toks", k=8, bands=4), "minhash_lsh"
    )


def test_ngram_selfjoin_guarded(spark):
    from codingchallenge_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    _assert_selfjoin_guarded(
        ngram_jaccard_pairs(docs, "doc_id", "text", ["lang", "n_chars"]),
        "ngram_jaccard",
    )


def test_lsh_ann_selfjoin_guarded(spark):
    from codingchallenge_spark.operators.ann import lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    _assert_selfjoin_guarded(lsh_topk(emb, k=5), "lsh_topk")


def test_ivf_ann_cell_join_guarded(spark):
    from codingchallenge_spark.operators.ann import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # Production assignment path (arrow): centroids live in the UDF closure,
    # so the ONLY join in the plan is the cell join — it must shuffle.
    _assert_selfjoin_guarded(ivf_topk(emb, k=5, assign="arrow"), "ivf_topk")


def _broadcast_subtrees(plan: str) -> list[str]:
    """Each BroadcastExchange node of a `simple` plan with its subtree (the
    lines below it that sit deeper in the tree)."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" in line:
            sub = [line]
            for nxt in lines[i + 1:]:
                if depth(nxt) <= depth(line):
                    break
                sub.append(nxt)
            out.append("\n".join(sub))
    return out


def _token_pass_state(spark, tiny_records, tmp_path):
    """A parquet-backed catalog (norm + postings) and a delta split off the
    tiny fixture: (state, delta work projection, norm path, postings path)."""
    from codingchallenge_spark.functions.normalize import work_projection
    from codingchallenge_spark.plans import catalog_state as cstate

    norm = with_token_hashes(normalize_records(tiny_records)).withColumn(
        "rid", F.unhex("rid")
    )
    is_new = F.crc32(F.lower(F.hex("rid"))) % 7 == 0
    norm_path, idx_path = str(tmp_path / "norm"), str(tmp_path / "tok_index")
    norm.filter(~is_new).write.parquet(norm_path)
    cat = spark.read.parquet(norm_path)
    cstate.build_tok_postings(cat, 16).write.parquet(idx_path)
    # The token pass reads no sn index.
    st = cstate.CatalogState(
        norm=cat,
        sn_stored=None,
        sn_bounds=[],
        tok_postings=spark.read.parquet(idx_path),
        tok_buckets=16,
    )
    return st, work_projection(norm.filter(is_new)), norm_path, idx_path


def test_incremental_token_join_guarded(spark, tiny_records, tmp_path):
    """The delta⋈catalog token join broadcasts the delta side (|delta| ×
    tokens per record rows) and streams the catalog side through it: the
    join is a BroadcastHashJoin, no exchange on ``tok`` sits between the
    catalog scan and it, and no broadcast carries the postings scan
    (Catalyst under-estimates exploded relations, commits ce2a8c6/05fcdda)."""
    from codingchallenge_spark.plans.incremental import (
        incremental_token_pairs_state,
    )

    st, work_new, norm_path, idx_path = _token_pass_state(spark, tiny_records, tmp_path)
    catalog_scan = re.compile(
        re.escape(idx_path) + "|" + re.escape(norm_path)
        + r"|FileScan parquet \[[^\]]*\b(tbucket|th)#"
    )
    plan = _simple_plan(incremental_token_pairs_state(st, work_new, df_cap=100))
    assert "BroadcastHashJoin" in plan, f"tok join not broadcast:\n{plan}"
    assert "ShuffledHashJoin" not in plan
    # A catalog scan is recognised by its path or, should the plan string
    # truncate the path, by the columns it reads.
    for sub in _broadcast_subtrees(plan):
        assert not catalog_scan.search(sub), (
            f"catalog scan on a broadcast build side:\n{sub}\n{plan}"
        )
    # The path from the catalog scan up to its join: no exchange.
    lines = plan.splitlines()
    scan = next(i for i, ln in enumerate(lines) if catalog_scan.search(ln))
    join = max(i for i, ln in enumerate(lines[:scan]) if "BroadcastHashJoin" in ln)
    assert not any(
        re.search(r"(?<!Broadcast)Exchange", ln) for ln in lines[join:scan]
    ), plan
    assert "Exchange hashpartitioning(tok" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_delta_postings_plan_is_unsorted(spark, tiny_records, tmp_path):
    """A delta's postings element is written as it comes: no range sort
    (no sampling job, no shuffle); the catalog build clusters its base."""
    from codingchallenge_spark.plans import catalog_state as cstate

    st, _, _, _ = _token_pass_state(spark, tiny_records, tmp_path)
    postings = cstate.build_tok_postings(st.norm, 16)
    delta_plan = _plan(postings)
    assert "rangepartitioning" not in delta_plan, delta_plan
    assert "Exchange" not in delta_plan, delta_plan
    assert "rangepartitioning" in _plan(cstate.clustered_postings(postings))


def test_exchange_count_in_token_blocking(spark, tiny_records):
    """Token blocking = explode → hot-key anti-join → self-join: the self-join
    needs exactly one exchange per side on `tok` (plus the tiny hot-list
    aggregation); no additional repartition creeps in."""
    from codingchallenge_spark.operators.blocking import token_blocking

    norm = with_token_hashes(normalize_records(tiny_records)).select(
        "rid", "name_norm", "th"
    )
    plan = _plan(token_blocking(norm))
    # hashpartitioning on tok for the join; the rid1<rid2 filter must NOT
    # force an extra shuffle.
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_token_key_is_the_hash(spark, tiny_records, tmp_path):
    """A token has one stored identity, its xxhash64: the normalize and
    normalize_delta stage markers record ``th`` and no ``tokens`` field,
    the postings key is a bigint, batch token blocking exchanges on a
    bigint ``tok``, and the delta token pass plans no string token column
    (a long attribute prints with an ``L`` suffix)."""
    import dataclasses

    from codingchallenge_spark.functions.normalize import work_projection
    from codingchallenge_spark.operators.blocking import token_blocking
    from codingchallenge_spark.plans.incremental import (
        incremental_token_pairs_state,
        normalize_delta_stage,
    )
    from codingchallenge_spark.plans.matcher import normalize_stage
    from codingchallenge_spark.sources import checkpoint as ckpt

    run_dir = str(tmp_path / "run")

    def stage(name, upstream, build):
        ckpt.write_stage(build(), run_dir, name, "fp")
        return ckpt.load_stage(spark, run_dir, name)

    st, work_new, _, _ = _token_pass_state(spark, tiny_records, tmp_path)
    norm = normalize_stage(stage, tiny_records)
    labels = st.norm.select("rid", F.col("rid").alias("entity_id"))
    normalize_delta_stage(stage, dataclasses.replace(st, labels=labels), tiny_records)
    for name in ("normalize", "normalize_delta"):
        schema = ckpt.recorded_schema(ckpt.stage_path(run_dir, name))
        assert "tokens" not in schema.fieldNames(), name
        assert schema["th"].dataType.simpleString() == "array<bigint>", name

    assert dict(st.tok_postings.dtypes)["tok"] == "bigint"

    batch = _plan(token_blocking(work_projection(norm)))
    assert re.search(r"hashpartitioning\(tok#\d+L, ", batch), batch

    delta = _plan(incremental_token_pairs_state(st, work_new, df_cap=100))
    assert "tokens" not in delta, delta
    assert re.search(r"ReadSchema: struct<[^>]*\btok:bigint", delta), delta
    assert not re.search(r"\btok#\d+(?![\dL])", delta), delta

"""Plan-shape assertions: the properties that make queries survive a 100×
scale-up (pushdown, broadcast, top-k without global sort, no cartesian
products, codegen coverage)."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

import fs2_kinesis_firehose_spark.queries as q
from fs2_kinesis_firehose_spark.plans import assert_plan_contains, assert_plan_lacks, explain_str

q.load_all()


def test_flagship_pushes_filter_and_broadcasts_dims(spark, sf_smoke):
    df = q.QUERIES["revenue_by_nation"](spark, sf_smoke)
    plan = assert_plan_contains(df, "BroadcastHashJoin", "PushedFilters")
    # the shipdate range predicate must reach the lineitem parquet scan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400], plan
    assert_plan_lacks(df, "CartesianProduct")


def test_topk_uses_take_ordered_not_global_sort(spark, sf_smoke):
    assert_plan_contains(q.QUERIES["global_top10_orders"](spark, sf_smoke), "TakeOrderedAndProject")
    assert_plan_contains(
        q.QUERIES["cosine_topk_bruteforce"](spark, sf_smoke), "TakeOrderedAndProject"
    )


def test_pricing_summary_partial_aggregation(spark, sf_smoke):
    df = q.QUERIES["pricing_summary"](spark, sf_smoke)
    plan = explain_str(df)
    # map-side partial + final aggregate (two HashAggregate operators)
    assert plan.count("HashAggregate") >= 2, plan
    # whole-stage codegen present (codegen mode shows the compiled subtrees;
    # AQE's non-final simple plan has no stage markers before execution)
    assert "WholeStageCodegen" in explain_str(df, mode="codegen")


def test_anti_and_semi_joins(spark, sf_smoke):
    assert_plan_contains(q.QUERIES["parts_never_ordered"](spark, sf_smoke), "LeftAnti")
    assert_plan_contains(q.QUERIES["customers_with_orders"](spark, sf_smoke), "LeftSemi")


def test_column_pruning_reaches_scan(spark, sf_smoke):
    plan = explain_str(q.QUERIES["segment_count_distinct"](spark, sf_smoke))
    # the orders scan must not read untouched wide columns
    scan_section = plan[plan.find("orders.parquet") :][:800]
    assert "o_totalprice" not in scan_section, plan


def test_minhash_lsh_no_cartesian(spark, sf_smoke):
    assert_plan_lacks(
        q.QUERIES["minhash_lsh_pairs"](spark, sf_smoke), "CartesianProduct"
    )


def test_stream_static_join_broadcasts_dim(spark, sf_smoke):
    from pyspark.sql import functions as F

    from fs2_kinesis_firehose_spark.streaming.replay import replay_parquet
    from fs2_kinesis_firehose_spark.tables import load_table

    stream = replay_parquet(spark, sf_smoke, "events")
    nation = load_table(spark, sf_smoke, "nation")
    joined = stream.join(F.broadcast(nation), stream.user_id % 25 == nation.n_nationkey)
    assert "BroadcastHashJoin" in explain_str(joined, mode="simple")


def test_interval_join_pushes_filter_no_bnlj(spark, sf_smoke):
    df = q.QUERIES["interval_join_incident_counts"](spark, sf_smoke)
    plan = assert_plan_contains(df, "PushedFilters")
    # the incident threshold must reach the intervals-side parquet scan
    assert "GreaterThanOrEqual(value,250.0)" in plan, plan
    assert_plan_lacks(df, "BroadcastNestedLoopJoin")
    assert_plan_lacks(df, "CartesianProduct")


def test_stratified_sample_prunes_columns(spark, sf_smoke):
    plan = explain_str(q.QUERIES["stratified_sample_docs"](spark, sf_smoke))
    scan_section = plan[plan.find("documents.parquet") :][:600]
    assert "text" not in scan_section, plan  # only doc_id+lang read


def test_gemm_neardup_single_shuffle_no_bnlj(spark, sf_smoke):
    df = q.QUERIES["embedding_neardup_blocked"](spark, sf_smoke)
    assert_plan_lacks(df, "BroadcastNestedLoopJoin")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan  # one group shuffle


def test_tpch_q6_predicates_reach_scan(spark, sf_smoke):
    df = q.QUERIES["tpch_q6_forecast_revenue"](spark, sf_smoke)
    plan = assert_plan_contains(df, "PushedFilters")
    pushed = plan.split("PushedFilters")[1][:400]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed, plan


def test_tpch_q19_bracket_join_no_cartesian(spark, sf_smoke):
    df = q.QUERIES["tpch_q19_discounted_revenue"](spark, sf_smoke)
    assert_plan_lacks(df, "CartesianProduct")
    assert_plan_lacks(df, "BroadcastNestedLoopJoin")
    assert_plan_contains(df, "BroadcastHashJoin")  # keyed on partkey, brackets residual


def test_tpch_q7_broadcasts_all_dims_pushes_shipdate(spark, sf_smoke):
    df = q.QUERIES["tpch_q7_volume_shipping"](spark, sf_smoke)
    plan = assert_plan_contains(df, "PushedFilters")
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400], plan
    # supplier, customer, nation x2 all broadcast; lineitem x orders is the
    # only non-broadcast join
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert_plan_lacks(df, "CartesianProduct")


def test_lm_scoring_broadcasts_model_tables(spark, sf_smoke):
    df = q.QUERIES["lm_perplexity_scores"](spark, sf_smoke)
    plan = explain_str(df)
    # bigram + unigram + vocab joins all broadcast — the corpus is never
    # shuffled for the LM lookup
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert_plan_lacks(df, "CartesianProduct")
    # no Python in the plan: scoring is pure codegen + broadcast joins
    assert "Python" not in plan, plan


def test_span_dedup_two_inherent_shuffles_no_python(spark, sf_smoke):
    df = q.QUERIES["span_dedup_stats"](spark, sf_smoke)
    plan = explain_str(df)
    assert "Python" not in plan, plan
    executed = df._jdf.queryExecution().executedPlan().toString()
    # one shuffle on span_text (first-occurrence window), one back on doc_id
    # (reassembly + left join); nothing else
    assert executed.count("Exchange hashpartitioning") <= 3, executed


def test_ann_recall_broadcasts_query_set(spark, sf_smoke):
    df = q.QUERIES["ann_recall_at_k"](spark, sf_smoke)
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert_plan_lacks(df, "CartesianProduct")


def test_chunking_is_pure_narrow_maps(spark, sf_smoke):
    """doc_chunk_stats must have ZERO shuffles — split/sequence/transform/
    posexplode are all narrow; parallelism comes from file splits."""
    df = q.QUERIES["doc_chunk_stats"](spark, sf_smoke)
    plan = explain_str(df)
    assert "Exchange" not in plan, plan


def test_semdedup_single_shuffle_gemm_stage(spark, sf_smoke):
    """semantic_pairs: one Exchange (groupBy cell) feeding the Arrow GEMM
    stage; never a join (no pair-wise expression eval), never a cartesian."""
    import numpy as np

    from fs2_kinesis_firehose_spark.operators import similarity as S
    from fs2_kinesis_firehose_spark.operators.semdedup import semantic_pairs
    from fs2_kinesis_firehose_spark.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    cents = S.seeded_centroids(64, 16, seed=7, scale=0.125)
    import re

    plan = explain_str(semantic_pairs(emb, cents, threshold=0.4))
    # formatted mode lists each operator twice (tree + detail) — count the
    # numbered detail entries
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Join" not in plan, plan


def test_gopher_repetition_grams_stay_codegen(spark, sf_smoke):
    """The 9-n gram build must be window lead + concat_ws — no higher-order
    transform/slice (interpreted, allocation-per-gram) in the plan."""
    df = q.QUERIES["gopher_repetition_flags"](spark, sf_smoke)
    plan = explain_str(df)
    assert "concat_ws" in plan, plan
    assert "transform(" not in plan, plan
    # gram construction shuffles key on the doc id only
    assert "CartesianProduct" not in plan, plan


# queries whose construction itself runs jobs (streaming engines, eager
# produce, connected-components fixpoints, driver-side trainers) — their
# plan shapes are pinned individually; the blanket scan skips them to keep
# this test analysis-only
_EAGER_OR_STREAMING = {
    "streaming_tumbling_counts", "streaming_sliding_stats",
    "streaming_session_counts", "streaming_dedup_counts",
    "streaming_static_join_revenue", "streaming_stream_stream_join",
    "streaming_stateful_user_stats", "streaming_incremental_neardup",
    "kinesis_roundtrip_counts", "firehose_delivery_accounting",
    "near_dedup_survivors", "near_dedup_cluster_sizes",
    "semantic_dedup_survivors", "curation_funnel_counts",
    "bpe_learned_token_counts", "ngram_jaccard_filtered",
    "stratified_sample_docs", "ivf_topk", "ann_lsh_topk", "ann_recall_at_k",
}


def test_no_cartesian_product_catalog_wide(smoke_catalog):
    """No registered query may plan a CartesianProduct — a cross product
    that isn't a deliberate one-row-scalar broadcast is always a bug at
    scale.  (Scalar crossJoins compile to BroadcastNestedLoopJoin with a
    1-row build side, which this scan permits.)"""
    offenders = []
    for name, df in smoke_catalog.items():
        if name in _EAGER_OR_STREAMING:
            continue
        plan = explain_str(df)
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"CartesianProduct in: {offenders}"


# Every place the package writes a session conf, as (module, function).
# Each write is scoped to one call, never to a whole query: the catalog's
# idempotent read confs, the graph pin's AQE-off plan compile, and the
# streaming runner's state-store width across ``start()`` only.
_SESSION_CONF_WRITERS = {
    ("tables.py", "ensure_session_confs"),
    ("operators/graph.py", "_pinned_by_key"),
    ("streaming/replay.py", "_run"),
}


def test_package_does_not_pin_session_conf():
    """A conf set around a whole query leaks into every other query planned
    on the session meanwhile; a query that needs a plan shape asks for it
    in the plan (e.g. a join hint).  Every ``conf.set(`` in the package
    must sit in one of the known call-scoped writers."""
    pkg = Path(q.__file__).resolve().parents[1]
    writers = set()
    for path in pkg.rglob("*.py"):
        src = path.read_text()
        if "conf.set(" not in src:
            continue
        funcs = [
            n for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for lineno, line in enumerate(src.splitlines(), 1):
            if "conf.set(" in line:
                owners = [f for f in funcs if f.lineno <= lineno <= f.end_lineno]
                owner = max(owners, key=lambda f: f.lineno).name if owners else "<module>"
                writers.add((path.relative_to(pkg).as_posix(), owner))
    assert writers - _SESSION_CONF_WRITERS == set()


# the queries that run SQL text; each passes its tables to spark.sql as
# frames, whose views the formatter drops again
_SQL_TEXT_QUERIES = (
    "tpch_q17_small_quantity_revenue",
    "tpch_q4_order_priority",
    "grouping_sets_order_stats",
    "udtf_bigram_counts",
)


def test_sql_text_queries_leave_no_temp_view(spark, sf_smoke):
    """Building a query leaves the session's catalog as it found it: no
    temp view and no temporary function (the UDTF query registers one to
    resolve its SQL text).  The queries build on a fresh session (its own
    temp views and functions, the shared context), so a view some earlier
    test left behind cannot hide a leak."""
    session = spark.newSession()
    functions = {f.name for f in session.catalog.listFunctions()}
    built = {name: q.QUERIES[name](session, sf_smoke) for name in _SQL_TEXT_QUERIES}
    assert [t.name for t in session.catalog.listTables() if t.isTemporary] == []
    assert {f.name for f in session.catalog.listFunctions()} == functions
    # the plan resolved the function before it was dropped, so it still runs
    assert built["udtf_bigram_counts"].count() >= 0


# Repeated runs of code in queries/, and (signatures and docstrings left
# out) in the whole package: two places holding the same six code lines
# (blank and comment lines skipped, whitespace collapsed) are a pasted
# fragment, and a fix to one copy misses the other.  A survivor is
# named by one of its lines and the files holding it, with its reason.
_PASTE_WIDTH = 6
_PASTE_SURVIVORS = {
    # kinesis_roundtrip_counts (sinkq.py) and streaming_dedup_counts both
    # check against the plain per-type event counts; perfbench runs
    # sinkq.py's oracle text as written, so that copy stays
    "SELECT event_type, COUNT(*) AS n_events": {"sinkq.py", "streaming_q.py"},
}


def _signature_and_docstring_lines(src: str) -> set[int]:
    """Line numbers of every function signature and every module, class
    and function docstring in ``src``."""
    lines = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            lines.update(range(node.lineno, node.body[0].lineno))
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            lines.update(range(doc.lineno, doc.end_lineno + 1))
    return lines


def _pasted_runs(
    paths: list[Path], *, code_only: bool = False
) -> dict[tuple[str, ...], list[str]]:
    seen = defaultdict(list)
    for path in paths:
        src = path.read_text()
        skip = _signature_and_docstring_lines(src) if code_only else set()
        code = [
            " ".join(line.split())
            for lineno, line in enumerate(src.splitlines(), 1)
            if lineno not in skip
        ]
        code = [line for line in code if line and not line.startswith("#")]
        for i in range(len(code) - _PASTE_WIDTH + 1):
            seen[tuple(code[i:i + _PASTE_WIDTH])].append(path.name)
    return {run: files for run, files in seen.items() if len(files) > 1}


def test_queries_hold_no_pasted_fragment():
    """Each oracle fragment and query build in queries/ has one definition."""
    qdir = Path(q.__file__).resolve().parent
    pasted = [
        (sorted(files), run[0])
        for run, files in _pasted_runs(sorted(qdir.glob("*.py"))).items()
        if not any(
            line in run and set(files) == where
            for line, where in _PASTE_SURVIVORS.items()
        )
    ]
    assert pasted == [], f"{len(pasted)} pasted runs, first lines: {pasted[:10]}"


def test_package_holds_no_pasted_fragment():
    """Each decision in the package has one definition: the same scan over
    every module, with function signatures and docstrings left out (a
    repeated parameter list or sentence of prose is not pasted code)."""
    pkg = Path(q.__file__).resolve().parents[1]
    pasted = [
        (sorted(files), run[0])
        for run, files in _pasted_runs(sorted(pkg.rglob("*.py")), code_only=True).items()
        if not any(
            line in run and set(files) == where
            for line, where in _PASTE_SURVIVORS.items()
        )
    ]
    assert pasted == [], f"{len(pasted)} pasted runs, first lines: {pasted[:10]}"


# A knob is a parameter with a default that no call in the repository
# passes (by keyword, by position, or through ``*``/``**``): one value is
# in use, so it is a constant.  Scanned: functions outside firehose/ and
# sources/ (the reference's settings API and the settings that face a real
# service) whose name is defined once in the package, so a call resolves by
# name; the registered query builders (``@query``), which share names with
# the operators they wrap and take no defaults, are left out of that count.
# Column-name parameters tie an operator to its caller's schema and are not
# knobs.  A survivor is named with its reason.
_SETTINGS_DIRS = ("firehose", "sources")
_COLUMN_PARAMS = {"src", "dst", "key1", "key2", "suffix"}
_KNOB_SURVIVORS = {
    # the fixture directory the oracle check reads: a data path, which
    # stays settable per deployment
    ("oracle.py", "compare_query", "sf_dir"),
}


def _is_query_builder(fn: ast.FunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in fn.decorator_list
    )


def _package_knobs(root: Path) -> set[tuple[str, str, str]]:
    pkg = root / "fs2_kinesis_firehose_spark"
    defs = defaultdict(list)
    for path in sorted(pkg.rglob("*.py")):
        for parent in ast.walk(ast.parse(path.read_text())):
            for fn in ast.iter_child_nodes(parent):
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) and not (
                    _is_query_builder(fn)
                ):
                    defs[fn.name].append((path, fn, isinstance(parent, ast.ClassDef)))
    scope = {}  # name -> (module, positional params, knob candidates)
    for name, found in defs.items():
        if len(found) != 1:
            continue
        path, fn, method = found[0]
        module = path.relative_to(pkg).as_posix()
        if module.split("/")[0] in _SETTINGS_DIRS:
            continue
        a = fn.args
        pos = [x.arg for x in a.posonlyargs + a.args]
        if method and pos[:1] in (["self"], ["cls"]):
            pos = pos[1:]
        defaulted = pos[len(pos) - len(a.defaults):] if a.defaults else []
        defaulted += [x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        knobs = {
            p for p in defaulted
            if not (p.endswith(("_col", "_cols")) or p in _COLUMN_PARAMS)
        }
        if knobs:
            scope[name] = (module, pos, knobs)
    passed = defaultdict(set)
    sources = [*pkg.rglob("*.py"), *(root / "tests").rglob("*.py"), root / "bench.py",
               *(root / "perfbench").rglob("*.py"), *(root / "scripts").rglob("*.py")]
    for path in sources:
        for call in ast.walk(ast.parse(path.read_text())):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
            if name not in scope:
                continue
            _, pos, knobs = scope[name]
            if any(isinstance(x, ast.Starred) for x in call.args) or any(
                kw.arg is None for kw in call.keywords
            ):
                passed[name] |= knobs
            else:
                passed[name] |= set(pos[: len(call.args)])
                passed[name] |= {kw.arg for kw in call.keywords}
    return {
        (module, name, knob)
        for name, (module, _, knobs) in scope.items()
        for knob in knobs - passed[name]
    }


def test_package_knobs_have_a_second_value():
    """Every parameter the scan above finds is either passed a value by
    some call or named as a survivor: an operator decision with one value
    in use is written once, as a constant."""
    knobs = _package_knobs(Path(q.__file__).resolve().parents[2])
    assert sorted(knobs - _KNOB_SURVIVORS) == []


# Queries that share one oracle text compute one answer with different
# code.  A second path stays only if it owns a regime some caller or
# workload uses, or is the reference another path is checked against; each
# group is named here with the regime of every member.
_SAME_ANSWER_GROUPS = {
    "exact Jaccard J>=0.7 pairs": {
        "minhash_lsh_pairs": "scale: LSH banding prunes candidate generation",
        "ngram_jaccard_pairs": "reference: the exact inverted-index join LSH recall is checked against",
    },
    "near-dup cluster sizes": {
        "near_dedup_cluster_sizes": "small edge sets: driver union-find",
        "near_dedup_clusters_distributed": "large edge sets: star contraction",
    },
    "PQ ADC top-k": {
        "pq_adc_topk": "small m*k: literal LUT",
        "pq_adc_bcast_topk": "large m*k: broadcast LUT",
    },
    "IVF-PQ residual top-k": {
        "ivf_pq_residual_rescored_topk": "small m*k: literal LUT",
        "ivf_pq_residual_bcast_topk": "large m*k: broadcast LUT",
    },
    "IVF-PQ rescored top-k": {
        "ivf_pq_rescored_topk": "in-session index",
        "ivf_pq_persisted_topk": "persistence: index written, reloaded, probed",
    },
    "embedding cosine pairs": {
        "embedding_neardup_pairs": "reference: the O(n^2) exact pair set",
        "embedding_neardup_blocked": "scale: blocked GEMM",
    },
    "per-type event counts": {
        "kinesis_roundtrip_counts": "batch read of the delivered spool",
        "streaming_dedup_counts": "streaming dedup of a replay",
    },
    "incremental near-dup pairs": {
        "streaming_incremental_neardup": "in-session index across micro-batches",
        "minhash_index_append_neardup": "on-disk index grown by appends",
    },
}


def test_same_answer_queries_are_named():
    """Every group of registered queries sharing an oracle text is a
    reviewed entry above: a new twin, or a member dropped from a group,
    fails until the list says which regime each member owns."""
    groups = defaultdict(set)
    for name, sql in q.ORACLES.items():
        groups[" ".join(sql.split())].add(name)
    found = sorted(sorted(g) for g in groups.values() if len(g) > 1)
    named = sorted(sorted(g) for g in _SAME_ANSWER_GROUPS.values())
    assert found == named


def test_heavy_hitters_sketch_plan(spark, sf_smoke):
    """Misra–Gries pipeline: sketch pass is MapInPandas; candidate recount
    joins broadcast (never a shuffled corpus-side join on candidates)."""
    plan = explain_str(q.QUERIES["heavy_hitter_bigrams"](spark, sf_smoke))
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_rrf_rankers_use_take_ordered(spark, sf_smoke):
    """Both RRF rankers must truncate via TakeOrderedAndProject (per-
    partition heaps), not a global Sort+Limit."""
    plan = explain_str(q.QUERIES["hybrid_rrf_topk"](spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan


def test_snapshot_upsert_is_single_full_outer_join(spark, sf_smoke):
    """The MERGE apply must be ONE full-outer join on the key — never a
    per-cohort join cascade or a cartesian shape."""
    plan = explain_str(q.QUERIES["snapshot_upsert_accounting"](spark, sf_smoke))
    # formatted mode prints each join once in the tree and once in the
    # detail block — one physical FullOuter join == one "Join type:" line
    assert plan.count("Join type: FullOuter") == 1
    assert "CartesianProduct" not in plan


def test_bloom_semijoin_drops_fact_rows_scan_side(spark, sf_smoke):
    """The Bloom membership pass (ArrowEvalPython) must sit directly over
    the lineitem fact scan — rows drop BEFORE the first exchange, which is
    the entire point of a runtime filter."""
    plan = explain_str(
        q.QUERIES["bloom_semijoin_revenue"](spark, sf_smoke), mode="simple"
    )
    lines = plan.splitlines()
    hit = False
    for i, line in enumerate(lines):
        if "FileScan parquet" in line and "lineitem" in line:
            above = "\n".join(lines[max(0, i - 5) : i])
            if "ArrowEvalPython" in above:
                # membership filter is scan-adjacent; the exchange is above it
                hit = True
    assert hit, plan
    assert "CartesianProduct" not in plan


def test_tpch_q12_pushes_shipdate_single_fact_shuffle(spark, sf_smoke):
    df = q.QUERIES["tpch_q12_shipmode_priority"](spark, sf_smoke)
    plan = assert_plan_contains(df, "PushedFilters")
    # the 1996 shipdate bracket must reach the lineitem scan
    lineitem_scan = plan[plan.find("lineitem.parquet") :][:900]
    assert "l_shipdate" in lineitem_scan, plan
    assert_plan_lacks(df, "CartesianProduct")


def test_tpch_q21_takeordered_no_cartesian(spark, sf_smoke):
    df = q.QUERIES["tpch_q21_suppliers_kept_waiting"](spark, sf_smoke)
    # top-100 via TakeOrdered, never a global Sort+Limit
    plan = assert_plan_contains(df, "TakeOrderedAndProject", "BroadcastHashJoin")
    assert_plan_lacks(df, "CartesianProduct")
    # the o_orderstatus='F' filter must reach the orders scan
    orders_scan = plan[plan.find("orders.parquet") :][:900]
    assert "o_orderstatus" in orders_scan, plan


def test_hll_partial_aggregation_and_pruned_scan(spark, sf_smoke):
    from fs2_kinesis_firehose_spark.operators.hll import hll_table
    from fs2_kinesis_firehose_spark.tables import load_table

    df = hll_table(load_table(spark, sf_smoke, "orders"), "o_custkey")
    plan = explain_str(df)
    # map-side partial max + final max: register partials shuffle, not rows
    assert plan.count("HashAggregate") >= 2, plan
    # column pruning: the register build must only read o_custkey
    scan_section = plan[plan.find("orders.parquet") :][:800]
    assert "o_totalprice" not in scan_section, plan


def test_classifier_features_and_gradient_stay_codegen(spark, sf_smoke):
    """The training hot path must be pure JVM: features are one explode +
    one dim-way count_if aggregate (partial+final), gradients one aggregate
    over the checkpoint — no Python evaluation anywhere, and the documents
    scan reads only (doc_id, text)."""
    from fs2_kinesis_firehose_spark.operators.classifier import hashed_features
    from fs2_kinesis_firehose_spark.tables import load_table

    feat = hashed_features(
        load_table(spark, sf_smoke, "documents"), "text", "doc_id",
        dim=8, label_min_tokens=40,
    )
    plan = explain_str(feat)
    assert plan.count("HashAggregate") >= 2, plan
    assert_plan_lacks(feat, "BatchEvalPython", "ArrowEvalPython", "CartesianProduct")
    scan_section = plan[plan.find("documents.parquet") :][:800]
    assert "lang" not in scan_section, plan


def test_classifier_eval_ranks_on_histogram_not_rows(spark, sf_smoke):
    """The AUC rank cumsum (single-partition Window) must consume the
    score HISTOGRAM (post-aggregate), never raw rows: a HashAggregate on
    the quantized score sits below the Window in the plan."""
    from fs2_kinesis_firehose_spark.operators.classifier import (
        classifier_eval,
        hashed_features,
    )
    from fs2_kinesis_firehose_spark.tables import load_table

    feat = hashed_features(
        load_table(spark, sf_smoke, "documents"), "text", "doc_id",
        dim=8, label_min_tokens=40,
    )
    df = classifier_eval(feat, [0.1 * (j + 1) for j in range(9)])
    plan = explain_str(df)
    w_pos = plan.find("Window")
    assert w_pos != -1, plan
    assert "HashAggregate" in plan[w_pos:], plan
    assert_plan_lacks(df, "BatchEvalPython", "ArrowEvalPython")


def test_editdist_verify_before_distinct_no_cartesian(spark, sf_smoke):
    """The segment filter must stay an equi-join (no cartesian fallback)
    and the threshold-Levenshtein verify must run BELOW the pair-dedup
    aggregate so the distinct shuffles true-pair multiplicity, not the
    full candidate volume."""
    df = q.QUERIES["editdist_neardup_counts"](spark, sf_smoke)
    plan = explain_str(df)
    assert "levenshtein" in plan, plan
    assert_plan_lacks(df, "CartesianProduct")
    # boundary mode has no short-string fallback bucket; the ONLY permitted
    # nested-loop join is the check_keys guard (editdist.py) — a broadcast
    # cross join whose build side is a single-row key-uniqueness aggregate.
    # The segment join itself must stay an equi-join.
    import re

    bnlj_ops = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    assert len(bnlj_ops) <= 1, plan
    if bnlj_ops:
        bnlj = plan.find("BroadcastNestedLoopJoin")
        assert "_keys_ok" in plan[bnlj:], (
            "the sole BNLJ must be the 1-row check_keys guard:\n" + plan
        )
    # top-down formatted plan: the verify Filter is a descendant of the
    # dedup HashAggregate, so it prints after the FIRST aggregate block
    assert plan.find("levenshtein") > plan.find("HashAggregate"), plan


def test_pmi_takeordered_and_partial_counts(spark, sf_smoke):
    df = q.QUERIES["pmi_collocations_topk"](spark, sf_smoke)
    plan = assert_plan_contains(df, "TakeOrderedAndProject")
    assert_plan_lacks(df, "CartesianProduct")
    # bigram + unigram counts both partial-aggregated (>= 4 HashAggregates)
    assert plan.count("HashAggregate") >= 4, plan


def test_mad_windows_run_on_histograms_not_rows(spark, sf_smoke):
    """Both median passes must sort per-group DISTINCT-VALUE aggregates,
    never raw rows: every Window's input chain includes a HashAggregate
    (the histogram), and the median join-backs broadcast."""
    df = q.QUERIES["mad_event_outliers"](spark, sf_smoke)
    plan = explain_str(df)
    assert plan.count("Window") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    first_window = plan.find("Window")
    assert "HashAggregate" in plan[first_window:], plan


def test_analyze_stats_single_scan_expand_distinct(spark, sf_smoke):
    df = q.QUERIES["analyze_orders_stats"](spark, sf_smoke)
    plan = explain_str(df)
    # one pass over orders; the multi-distinct runs via Expand, map-side
    assert plan.count("orders.parquet") == 1, plan
    assert "Expand" in plan, plan
    assert_plan_lacks(df, "CartesianProduct")


def test_concat_pack_single_exchange_no_python(spark, sf_smoke):
    """concat_chunk_pack is pure window SQL: exactly ONE exchange (the
    shard hash shuffle feeding the prefix-sum sort) and zero Python
    evaluation — the property that distinguishes it from the next-fit
    applyInPandas packer."""
    import re

    df = q.QUERIES["seq_concat_pack_stats"](spark, sf_smoke)
    plan = explain_str(df)
    assert_plan_lacks(df, "BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas")
    assert "Window" in plan, plan
    # shard shuffle + final stats aggregate exchange + orderBy: bounded
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_ex <= 3, plan


def test_token_budget_sample_no_join_single_window(spark, sf_smoke):
    """token_budget_sample is shuffle-on-group + window + filter on the
    kept side; the stats query adds only aggregates and the kept-vs-total
    join on the ≤|groups| rows."""
    df = q.QUERIES["token_budget_sample_stats"](spark, sf_smoke)
    plan = explain_str(df)
    assert "Window" in plan, plan
    assert_plan_lacks(df, "CartesianProduct", "BatchEvalPython", "ArrowEvalPython")


def test_source_overlap_no_cartesian_reuses_hash_partitioning(spark, sf_smoke):
    """The chunk-hash self-join must be an equi-join (never cartesian)
    and Python-free (the chunker is codegen explode)."""
    df = q.QUERIES["source_chunk_overlap_matrix"](spark, sf_smoke)
    assert_plan_lacks(
        df, "CartesianProduct", "BroadcastNestedLoopJoin",
        "BatchEvalPython", "ArrowEvalPython",
    )


def test_zipf_windows_vocab_not_corpus(spark, sf_smoke):
    """The ROW_NUMBER rank runs over the VOCAB aggregate (HashAggregate
    below the Window), never raw token rows, and the final OLS is a
    1-row closed-form aggregate."""
    df = q.QUERIES["zipf_fit_stats"](spark, sf_smoke)
    plan = explain_str(df)
    w = plan.find("Window")
    assert w != -1, plan
    assert "HashAggregate" in plan[w:], plan
    assert_plan_lacks(df, "CartesianProduct", "BatchEvalPython", "ArrowEvalPython")


def test_tpch_q11_single_scan_broadcast_total(spark, sf_smoke):
    """Q11's global-share HAVING must fold the total from the per-part
    aggregate (lazy checkpoint read twice), not re-scan lineitem — the
    plan shows a 1-row broadcast guard join and exactly one parquet-or-
    checkpoint source feeding both sides."""
    df = q.QUERIES["tpch_q11_important_parts"](spark, sf_smoke)
    plan = explain_str(df)
    # the total rides back as a broadcast join (BNLJ cross or BHJ)
    assert "Broadcast" in plan, plan
    assert_plan_lacks(df, "CartesianProduct")


def test_tpch_q16_anti_join_and_distinct_count(spark, sf_smoke):
    df = q.QUERIES["tpch_q16_supplier_part_count"](spark, sf_smoke)
    plan = explain_str(df)
    assert "LeftAnti" in plan, plan
    assert_plan_lacks(df, "CartesianProduct", "BroadcastNestedLoopJoin")


def test_tpch_q20_semi_join_chain(spark, sf_smoke):
    df = q.QUERIES["tpch_q20_excess_suppliers"](spark, sf_smoke)
    plan = explain_str(df)
    assert plan.count("LeftSemi") >= 2, plan
    assert_plan_lacks(df, "CartesianProduct", "BroadcastNestedLoopJoin")


def test_snapshot_diff_full_outer_no_broadcast_no_cartesian(spark, sf_smoke):
    # a full-outer join cannot broadcast: the scale-safe plan is ONE
    # co-partitionable sort-merge join on the key
    df = q.QUERIES["snapshot_diff_accounting"](spark, sf_smoke)
    assert_plan_contains(df, "SortMergeJoin", "FullOuter")
    assert_plan_lacks(df, "CartesianProduct", "BroadcastHashJoin")


def test_embedding_evals_broadcast_query_set_no_cartesian(spark, sf_smoke):
    for name in (
        "truncated_dim_recall_at_k",
        "knn_label_accuracy",
        "contrastive_pair_mining",
        "cluster_balanced_sample_counts",
    ):
        df = q.QUERIES[name](spark, sf_smoke)
        assert_plan_lacks(df, "CartesianProduct")


def test_key_skew_report_broadcasts_topn_single_key_shuffle(spark, sf_smoke):
    df = q.QUERIES["join_key_skew_report"](spark, sf_smoke)
    # the top-N side joins the 1-row summary via broadcast, never a shuffle
    # join; TakeOrdered picks the top keys without a global sort
    assert_plan_contains(df, "TakeOrderedAndProject", "BroadcastNestedLoopJoin")
    assert_plan_lacks(df, "CartesianProduct", "SortMergeJoin")


def test_length_bucket_padding_stays_codegen(spark, sf_smoke):
    df = q.QUERIES["length_bucket_padding_stats"](spark, sf_smoke)
    plan = explain_str(df)
    # one scan + partial/final aggregate, no Python, no joins
    assert plan.count("HashAggregate") >= 2, plan
    for op in ("BatchEvalPython", "ArrowEvalPython", "SortMergeJoin"):
        assert op not in plan, plan


def test_scd2_point_in_time_join_is_keyed_not_bnlj(spark, sf_smoke):
    # the interval predicate must ride as a residual on the KEY equi-join;
    # a BroadcastNestedLoopJoin/CartesianProduct here would explode at scale
    df = q.QUERIES["scd2_point_in_time_revenue"](spark, sf_smoke)
    plan = explain_str(df)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert_plan_lacks(df, "CartesianProduct", "BroadcastNestedLoopJoin")


def test_mv_retraction_fold_no_raw_rescan_shape(spark, sf_smoke):
    # the fold joins two AGGREGATE-sized relations; the plan must show the
    # full-outer fold join and no cartesian
    df = q.QUERIES["mv_retraction_refresh_accounting"](spark, sf_smoke)
    assert_plan_contains(df, "FullOuter")
    assert_plan_lacks(df, "CartesianProduct")

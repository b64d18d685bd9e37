"""Physical-plan quality gates (SURVEY §4): these tests pin the
*shape* of the plan, not just its output — a correct result computed
through a bad plan (full-column scan, shuffled small-dim join,
driver-side collect) is a regression at 100 TB even when values match.
"""

from __future__ import annotations

import inspect
import re

import pytest

from pyspark.sql import functions as F

from wrds2pg_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_parquet_pushdown_and_pruning(spark):
    plan = formatted_plan(spark, "scan_parquet")
    # predicate reaches the parquet reader
    assert re.search(r"PushedFilters: \[.*l_returnflag.*\]", plan)
    # column pruning: only the 4 projected columns in ReadSchema
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and sorted(c.split(":")[0] for c in m.group(1).split(",")) == [
        "l_linenumber", "l_orderkey", "l_quantity", "l_returnflag"
    ]


def test_ingest_composite_limit_and_filter_pushdown(spark):
    plan = formatted_plan(spark, "ingest_q1_composite")
    assert "PushedFilters" in plan
    # aggregation is partial (map-side combine) before the shuffle
    assert plan.count("HashAggregate") >= 2


def test_join_inner_broadcasts_small_dim(spark):
    plan = plan_of(spark, "join_inner")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_join_semi_anti_broadcast(spark):
    for name in ("join_semi", "join_anti"):
        plan = plan_of(spark, name)
        assert "Broadcast" in plan, name


def test_sort_topk_is_take_ordered(spark):
    # orderBy().limit() must compile to TakeOrderedAndProject —
    # a global Sort before a limit would be a full-shuffle sort
    plan = plan_of(spark, "sort_topk")
    assert "TakeOrderedAndProject" in plan


def test_similarity_topk_no_shuffle_of_corpus(spark):
    # brute-force top-k = narrow map + TakeOrdered; any Exchange other
    # than the final single-partition gather means the corpus shuffled
    plan = plan_of(spark, "similarity_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_window_rank_single_shuffle(spark):
    plan = plan_of(spark, "window_rank")
    assert plan.count("Exchange hashpartitioning") == 1


def test_minhash_no_cartesian(spark):
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q3_broadcast_and_topk(spark):
    # filtered customer dim broadcasts; the final top-10 must be
    # TakeOrderedAndProject, not a global sort of the aggregate
    plan = plan_of(spark, "tpch_q3_shape")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q5_no_cartesian_all_dims_broadcast(spark):
    plan = plan_of(spark, "tpch_q5_shape")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # supplier/nation/region all ride broadcast joins
    assert plan.count("BroadcastHashJoin") >= 3


def test_subquery_scalar_broadcasts_aggregate(spark):
    # the 1-row global aggregate must broadcast into the filter, never
    # trigger a shuffle join of the fact table against it
    plan = plan_of(spark, "subquery_scalar")
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q10_broadcast_topk(spark):
    plan = plan_of(spark, "tpch_q10_shape")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q18_semi_join_on_having_keys(spark):
    # the HAVING key set must come back as a (broadcast) SEMI join —
    # an inner join against the aggregate would duplicate fact rows
    plan = plan_of(spark, "tpch_q18_shape")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_no_collect_in_operator_paths():
    """No driver-side materialization in any operator/query path
    (BASELINE 100-TB discipline): collect/toPandas/toLocalIterator may
    appear only in tests and the bench/driver harness.  (Builders do
    trigger one parquet footer-read job per table via spark.read —
    schema inference, not data movement.)"""
    import glob
    import os

    # compat.sql_to_pandas IS the reference's explicit "give me a
    # pandas frame" API (A28) — driver-side by contract, not an
    # operator path.
    allowed = {("compat.py", ".toPandas()")}
    offenders = []
    root = os.path.join(os.path.dirname(__file__), "..", "wrds2pg_spark")
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        src = open(path).read()
        for pat in (
            ".collect()", ".toPandas()", ".toLocalIterator()",
            ".first()", ".head(", ".take(",
        ):
            if pat in src and (os.path.basename(path), pat) not in allowed:
                offenders.append((os.path.basename(path), pat))
    assert offenders == []


def test_bucketed_twins_exchange_free_facts(spark):
    """tpch_q5_bucketed / tpch_q18_bucketed read catalog tables
    bucketed+sorted by orderkey: with auto-broadcast off (the fact-
    fact path a 100-TB join takes), the lineitem<->orders join must
    be an SMJ with NO exchange and NO sort on either fact side, and
    q18's HAVING aggregate must also satisfy its distribution from
    the buckets.  Only tiny agg/dim exchanges may remain."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q5 = plan_of(spark, "tpch_q5_bucketed")
        q18 = plan_of(spark, "tpch_q18_bucketed")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    for name, plan in (("q5", q5), ("q18", q18)):
        assert "SortMergeJoin" in plan, name
        # the orderkey SMJ reads pre-sorted single-file buckets: any
        # Sort above a scan means the bucket sort wasn't trusted
        assert "Exchange hashpartitioning(l_orderkey" not in plan, name
        assert "Exchange hashpartitioning(o_orderkey" not in plan, name


def test_ivfpq_index_prunes_partitions_and_reads_codes_only(spark):
    """The IVF-PQ serving scan must prune to the probe cells at
    listing time (PartitionFilters on the hive cell column) and read
    ONLY (vec_id, pq_code) — never an embedding column: the whole
    point of the index is that raw floats stay unread at query
    time."""
    plan = formatted_plan(spark, "similarity_ivfpq_indexed")
    assert re.search(r"PartitionFilters: \[cell#\d+ IN \(\d+,\d+\)\]", plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "embedding" not in m.group(1)
    assert "pq_code" in m.group(1)


def test_pagerank_shuffle_mode_matches_broadcast(spark):
    """graph_pagerank(mode='shuffle') is the billions-of-nodes swap
    the broadcast path's docstring promises: state rides shuffle-hash
    joins instead of a broadcast.  Integer-quantized ranks make the
    two modes bit-identical on any partitioning."""
    from wrds2pg_spark.queries import graph_pagerank

    bc = graph_pagerank(spark, SF, mode="broadcast")
    sh = graph_pagerank(spark, SF, mode="shuffle")
    plan = sh._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    rows_bc = sorted((r["node"], r["pagerank"]) for r in bc.collect())
    rows_sh = sorted((r["node"], r["pagerank"]) for r in sh.collect())
    assert rows_bc == rows_sh
    with pytest.raises(ValueError):
        graph_pagerank(spark, SF, mode="nope")


def test_block_cap_stays_broadcast_and_windowless(spark):
    """The hub-block caps (skew.cap_block_rows) must not change the
    hot path's shape: the allowed-list join is a BROADCAST left join
    (hub lists are tiny by definition) and no Window/row_number sort
    ever touches the payload rows (a row_number cap measured 3x
    slower — it shuffles the vectors)."""
    for key in ("dedup_embedding_cosine", "dedup_embedding_lsh",
                "graph_jaccard_neighbors"):
        plan = plan_of(spark, key)
        # graph_jaccard's degree window lives below its localCheckpoint
        # (round 5: degrees ride the pair table instead of re-shuffling
        # it), so no Window may appear in the query plan for any key —
        # the caps themselves contribute none.
        assert "Window" not in plan, key
        assert "BroadcastHashJoin" in plan, key
        assert "CartesianProduct" not in plan, key


def test_tpch_q14_broadcasts_part(spark):
    # part is a dim: it must broadcast so lineitem never shuffles, and
    # both conditional sums ride a single aggregate (partial+final).
    plan = plan_of(spark, "tpch_q14_shape")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # only one shuffle: the 1-row final agg (BroadcastExchange aside)
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 1


def test_tpch_q12_single_fact_shuffle(spark):
    # fact-fact join: exactly one shuffle pair on orderkey, then a
    # 3-group aggregate — no extra exchanges after the join.
    plan = plan_of(spark, "tpch_q12_shape")
    assert "HashAggregate" in plan


def test_subquery_correlated_broadcasts_nation_avgs(spark):
    # the decorrelated per-nation aggregate (~25 rows) broadcasts back;
    # the customer fact side must not shuffle for the join.
    plan = plan_of(spark, "subquery_correlated")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_window_range_frame_single_shuffle(spark):
    plan = plan_of(spark, "window_range_frame")
    assert plan.count("Exchange") == 1


def test_partition_pruned_scan(spark):
    """The hive-layout lake scan must prune on the partition column —
    the year predicate belongs in PartitionFilters (directory-level
    pruning before I/O), NOT in PushedFilters (row-level, after the
    file is opened)."""
    plan = formatted_plan(spark, "scan_partition_pruned")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "order_yr" in m.group(1), plan
    # and the agg on top still map-side combines
    assert plan.count("HashAggregate") >= 2


def test_gaps_islands_single_shuffle(spark):
    """distinct + row_number window + island agg must all reuse ONE
    user_id exchange (plus AQE reads) — no self-join, no second fact
    shuffle."""
    plan = plan_of(spark, "events_gaps_islands")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # user_id hash + final agg partial


def test_shard_shuffle_single_exchange(spark):
    plan = plan_of(spark, "shard_global_shuffle")
    assert plan.count("Exchange") == 1


def test_sql_direct_q6_pushdown(spark):
    """The spark.sql front door must produce the same pushed-down
    scan-agg as the DataFrame API: predicates in PushedFilters, two
    read columns + the filter columns only."""
    plan = formatted_plan(spark, "sql_q6_direct")
    assert re.search(r"PushedFilters: \[.*l_shipdate.*\]", plan) or \
        re.search(r"PushedFilters: \[.*l_discount.*\]", plan), plan
    assert "HashAggregate" in plan


def test_ann_index_partition_pruning(spark):
    """The materialized LSH index must prune to the probe buckets at
    directory-listing time: the bucket IN-filter belongs in
    PartitionFilters, and the scan lists only 9 of 256 buckets."""
    plan = formatted_plan(spark, "similarity_ann_indexed")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), plan


def test_ivf_index_partition_pruning(spark, tmp_path):
    """Same for the k-means IVF index: the nprobe cell filter prunes
    partitions, so a query scans ~nprobe/nlist of the corpus."""
    from wrds2pg_spark.operators.similarity import (
        build_ivf_index, ivf_topk_indexed,
    )
    from wrds2pg_spark.queries import _QVEC
    from wrds2pg_spark.sources.testdata import load_table

    idx = str(tmp_path / "ivf_idx")
    build_ivf_index(load_table(spark, SF, "embeddings"), idx, nlist=8)
    df = ivf_topk_indexed(spark, idx, _QVEC, k=10, nprobe=2)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    # probed cells may hold fewer than k vectors at tiny SF
    assert 1 <= df.count() <= 10


def test_q9_window_single_composite_exchange(spark):
    """Q9's partsupp-surrogate min is a WINDOW over (partkey, suppkey)
    — one composite-key exchange, not the round-4 agg + self-join's
    two — with the part-name filter still pushed below it."""
    plan = plan_of(spark, "tpch_q9_shape")
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning(l_partkey") == 1
    # part filter + supplier-nation dim: both broadcast
    assert plan.count("BroadcastHashJoin") >= 2


def test_q9_q11_bucketed_exchange_free_aggs(spark):
    """The partkey-bucketed twins: q9's composite window and q11's two
    aggregates must satisfy distribution (and q9 the window sort) from
    the bucket layout — no partkey exchange, no scan-side sort."""
    q9 = plan_of(spark, "tpch_q9_bucketed")
    assert "Window" in q9
    assert "Exchange hashpartitioning(l_partkey" not in q9
    q11 = plan_of(spark, "tpch_q11_bucketed")
    assert "Exchange hashpartitioning(l_partkey" not in q11
    assert "Exchange hashpartitioning(ps_partkey" not in q11
    # the only exchange is the per-part values into the global window
    assert q11.count("Exchange") == q11.count("Exchange SinglePartition")
    # q17's per-part average window rides the same bucket layout
    # (round 7): no partkey exchange, only the 1-row final aggregate
    q17 = plan_of(spark, "tpch_q17_bucketed")
    assert "Window" in q17
    assert "Exchange hashpartitioning(l_partkey" not in q17
    # shuffles: only the 1-row final agg (the part dim broadcasts)
    assert (q17.count("Exchange") - q17.count("BroadcastExchange")
            == q17.count("Exchange SinglePartition"))
    # q3/q12 (round 7): the orderkey fact-fact joins are sort-free
    # ShuffledHashJoins on the bucket layout — no orderkey exchange
    for key in ("tpch_q3_bucketed", "tpch_q12_bucketed"):
        pl = plan_of(spark, key)
        assert "ShuffledHashJoin" in pl, key
        assert "Exchange hashpartitioning(l_orderkey" not in pl, key
        assert "Exchange hashpartitioning(o_orderkey" not in pl, key
        assert "SortMergeJoin" not in pl, key


def test_q21_bucketed_no_fact_exchange(spark):
    """q21's fact join and BOTH aggregates (pair grain, then per-order
    with the sole-late-supplier extraction) ride the orderkey buckets;
    only the per-supplier rollup (and the supplier broadcast) may
    exchange.  Round 7: the per-order WINDOW is gone — the agg-agg
    cascade needs no sort — and the fact join is an exchange-free
    ShuffledHashJoin on the co-bucketed tables instead of a ~730k-row
    orders broadcast build."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "tpch_q21_bucketed")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Window" not in plan
    assert "ShuffledHashJoin" in plan


def test_profile_table_no_expand_no_sortagg(spark):
    """The union-of-branches profile must never regress to the
    Expand + SortAggregate multi-distinct plan (8.5 s vs 0.77 s at
    sf0.1) and each branch must read exactly one column."""
    plan = plan_of(spark, "profile_table")
    assert "Expand" not in plan
    # the per-value collapse must be hash aggregation (a SortAggregate
    # is acceptable only for the final one-row fold, whose min/max
    # string buffers force the sort-based fallback on a single row)
    assert plan.count("HashAggregate") >= 10
    fplan = formatted_plan(spark, "profile_table")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", fplan)
    assert schemas and all(len(s.split(",")) == 1 for s in schemas)


def test_jaccard_neighbors_shuffle_hash_join(spark):
    """The part-blocked self-join must stay a hash join (its output
    feeds a hash aggregate; SMJ's sorts are pure overhead) and the
    degree re-attach must broadcast."""
    plan = plan_of(spark, "graph_jaccard_neighbors")
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_jaccard_minhash_plan_shape(spark):
    """Round 9: the MinHash twin's two joins must both be hash joins
    — the part-signature attach is a shuffle-hash co-partition on p
    (never a forced broadcast: the part dim scales with the corpus;
    never SMJ: both joins feed hash aggregates), and nothing in the
    key may plan a cartesian."""
    plan = plan_of(spark, "graph_jaccard_minhash")
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_maxsim_no_shuffle(spark):
    """MaxSim is a narrow map + TakeOrdered over the scan: no
    Exchange of the corpus, no UDF — everything codegen."""
    plan = plan_of(spark, "similarity_maxsim")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cdc_apply_map_side_combine(spark):
    """Last-wins must stay a TWO-PHASE aggregate (partial before the
    exchange), never a window sort over the whole changelog.  The
    struct-max buffer is not hash-mutable, so Spark lowers it to
    SortAggregate — acceptable: the sort is per-partition on the
    group key and the exchange still carries one row per key per
    partition, which is the invariant that matters at scale."""
    plan = plan_of(spark, "cdc_apply_changelog")
    assert "Window" not in plan
    assert "partial_max" in plan          # map-side combine
    assert plan.count("SortAggregate") == 2  # partial + final, no extra


def test_m4_map_side_combine_no_window(spark):
    """Same contract as CDC apply: two-phase struct-min/max aggregate
    with map-side combine, no Window operator."""
    plan = plan_of(spark, "ts_downsample_m4")
    assert "Window" not in plan
    assert "partial_min" in plan
    assert plan.count("SortAggregate") == 2


def test_pagerank_broadcast_state_no_cartesian(spark):
    plan = plan_of(spark, "graph_pagerank")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_outdeg_rides_edges_no_per_iteration_degree_join(spark):
    """Round-10 gate: out-degree is stamped on the checkpointed edge
    list (a window sharing the edge build's src exchange), so no
    iteration re-attaches a degree aggregate.  The budget counts
    SHUFFLE exchanges only (the `(n) Exchange` operator; the plan also
    carries 2 BroadcastExchange for the rank-mass scalars) — the
    queries.py note's "13 Exchange -> 5" counts both flavors of the
    same plans; see plans/r10/graph_pagerank_{before,after}."""
    plan = formatted_plan(spark, "graph_pagerank")
    n_shuffle = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_shuffle <= 4, f"{n_shuffle} shuffle exchanges"
    # the edge list (with stamped degree) must come from the one
    # checkpointed build: a final plan that re-derived it would carry
    # a parquet scan — require zero file scans outright (r10 advice:
    # the earlier two-clause disjunct was reducible to its second arm)
    assert "Scan parquet" not in plan, "edge list re-derived from files"


def _forced_broadcast_violations(src, banned_tables, allow,
                                 param_roots=False):
    """AST lint over module source ``src``: find F.broadcast(x) where x
    derives from an SF-scaling table without collapsing through a
    GLOBAL aggregate.

    Taint roots: load_table(.., "<banned>"), _bucketed_fact(..,
    "<banned>", ..), _lineitem_by_partkey(..), and with
    ``param_roots`` every ``DataFrame``-annotated parameter (a shared
    body that receives its fact frames from both twins).  Taint
    propagates through assignments; an expression containing .agg(
    with no .groupBy( collapses to O(1) rows and clears the taint.
    """
    import ast

    tree = ast.parse(src)

    def call_name(node):
        f = node.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")

    def has_global_agg(expr):
        names = {call_name(n) for n in ast.walk(expr)
                 if isinstance(n, ast.Call)}
        return "agg" in names and "groupBy" not in names

    violations = []
    for fn in [n for n in tree.body if isinstance(n, ast.FunctionDef)]:
        tainted: set[str] = set()
        if param_roots:
            for a in fn.args.args + fn.args.kwonlyargs:
                ann = a.annotation
                if (isinstance(ann, ast.Name) and ann.id == "DataFrame") or (
                        isinstance(ann, ast.Constant)
                        and ann.value == "DataFrame"):
                    tainted.add(a.arg)

        def roots(expr):
            out = set()
            for node in ast.walk(expr):
                if isinstance(node, ast.Call):
                    cn = call_name(node)
                    if cn in ("load_table", "_bucketed_fact"):
                        for a in node.args:
                            if (isinstance(a, ast.Constant)
                                    and a.value in banned_tables):
                                out.add(a.value)
                    elif cn == "_lineitem_by_partkey":
                        out.add("lineitem")
                elif isinstance(node, ast.Name) and node.id in tainted:
                    out.add(node.id)
            return out

        for stmt in ast.walk(fn):
            if isinstance(stmt, ast.Assign) and len(stmt.targets) == 1 \
                    and isinstance(stmt.targets[0], ast.Name):
                if roots(stmt.value) and not has_global_agg(stmt.value):
                    tainted.add(stmt.targets[0].id)

        for node in ast.walk(fn):
            if isinstance(node, ast.Call) and call_name(node) == "broadcast" \
                    and node.args:
                arg = node.args[0]
                r = roots(arg)
                if r and not has_global_agg(arg):
                    var = r & tainted
                    if not all((fn.name, v) in allow for v in (var or {"?"})):
                        violations.append((fn.name, sorted(r)))
    return violations


def test_no_forced_broadcast_of_scaling_tables():
    """Round-6 gate (r5 verdict, What's-wrong #1): F.broadcast is a
    HARD hint — forcing it on a frame derived from an SF-scaling
    table bakes a scales-with-the-lake broadcast into the plan that
    no stats or AQE can undo.  Scaling roots: customer / orders /
    lineitem / events / documents / embeddings.  part and supplier
    are classic star dims whose broadcasts the docstrings justify
    individually; GLOBAL aggregates (1-row frames) are exempt.
    DataFrame parameters count as scaling roots here: the TPC-H twins
    hand their fact frames to one shared body."""
    import wrds2pg_spark.queries as qmod

    banned = {"customer", "orders", "lineitem", "events",
              "documents", "embeddings"}
    allow = {
        # groupBy over the 5-value o_orderpriority vocabulary:
        # bounded item set, not SF-scaling
        ("basket_priority_lift", "freq"),
        ("basket_priority_lift", "fa"),
        ("basket_priority_lift", "fb"),
        # groupBy(c_nationkey): bounded by the 25-nation vocabulary
        ("subquery_correlated", "nat_avg"),
    }
    v = _forced_broadcast_violations(
        inspect.getsource(qmod), banned, allow, param_roots=True)
    assert v == [], f"forced broadcast of SF-scaling frames: {v}"


def test_forced_broadcast_lint_flags_dataframe_parameter():
    """Negative control: a shared body that force-broadcasts the fact
    frame it receives is flagged once parameters are roots (and slips
    through without them, which is why the queries.py check sets it)."""
    src = (
        "def body(spark: SparkSession, li: DataFrame) -> DataFrame:\n"
        "    return spark.range(1).join(F.broadcast(li), 'id')\n"
    )
    banned = {"lineitem"}
    assert _forced_broadcast_violations(
        src, banned, set(), param_roots=True) == [("body", ["li"])]
    assert _forced_broadcast_violations(src, banned, set()) == []


def test_no_forced_broadcast_in_curation_corpus_operators():
    """Same gate over every other operator module (round 6: 'no
    forced broadcast of any fact-derived table ANYWHERE').  Each
    allowlisted frame is an aggregate whose cardinality is bounded by
    a vocabulary, not by SF."""
    import wrds2pg_spark.corpus as cor
    import wrds2pg_spark.curation as cur
    import wrds2pg_spark.finance as fin
    import wrds2pg_spark.operators.dedup as dd
    import wrds2pg_spark.operators.multimodal as mm
    import wrds2pg_spark.operators.similarity as sim
    import wrds2pg_spark.operators.skew as sk
    import wrds2pg_spark.streaming.events as se

    banned = {"customer", "orders", "lineitem", "events",
              "documents", "embeddings"}
    allow = {
        # per-source mixture rates: source vocabulary (3-4 values)
        ("mixture_temperature_sample", "rates"),
        # induced vocabulary: LIMIT 100 by construction, never SF
        ("vocab_oov_coverage", "vocab"),
        # per-dimension sums: bounded by the embedding dim (64)
        ("embedding_covariance_exact", "si"),
        ("embedding_covariance_exact", "sj"),
        # per-event_type totals/stats: bounded event-type vocabulary
        ("events_markov_transitions", "tot"),
        ("anomaly_zscore", "stats"),
        ("anomaly_mad", "med"),
        ("anomaly_mad", "mad"),
        # per-priority percentile bounds: 5-value vocabulary
        ("winsorize_outliers", "bounds"),
        # held-out benchmark suite: small by construction (an eval
        # set), and DISTINCT-collapsed before the probe
        ("decontaminate_ngram", "bench"),
        # per-event_type means: bounded 5-value vocabulary
        ("stats_event_study_car", "mu"),
        # zipf two-pass rank offsets: per-octave-band totals —
        # cardinality <= 64 bands (floor(log2(count)) of a long),
        # never SF; broadcasting them is the point of the O(bands^2)
        # offset fold (round-8 zipf rewrite)
        ("text_zipf_slope", "btot"),
        ("text_zipf_slope", "offs"),
    }
    for mod in (cur, cor, fin, dd, mm, sim, sk, se):
        v = _forced_broadcast_violations(
            inspect.getsource(mod), banned, allow)
        assert v == [], f"{mod.__name__}: forced SF-scaling broadcast: {v}"


@pytest.mark.parametrize("key", ["tpch_q11_bucketed", "tpch_q11_shape"])
def test_q11_threshold_fallback_branch(spark, key):
    """Both q11 keys switch plans on the part-count bound (round 6):
    default = empty-frame window (one exchange); max_window_parts=0
    forces the at-scale branch (localCheckpoint + 1-row broadcast
    threshold, no Window operator).  Both branches must return
    identical rows — the switch is a plan choice, never a semantics
    choice."""
    fn = REGISTRY[key].fn
    dfw = fn(spark, SF)
    assert "Window" in dfw._jdf.queryExecution().executedPlan().toString()
    dfb = fn(spark, SF, max_window_parts=0)
    plan_b = dfb._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan_b
    assert "BroadcastHashJoin" in plan_b or "BroadcastNestedLoopJoin" in plan_b
    assert sorted(map(tuple, dfw.collect())) == sorted(
        map(tuple, dfb.collect()))


def test_chunk_overlap_generator_fused_no_shuffle(spark):
    """text_chunk_overlap is a generator fused with the scan (same
    plan family as explode_unnest): Generate over sequence+slice,
    zero exchanges, zero Python boundaries."""
    plan = plan_of(spark, "text_chunk_overlap")
    assert "Generate" in plan
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_incremental_embedding_probe_prunes_index(spark):
    """dedup_incremental_embedding semi-joins the index on its
    PARTITION column against the (broadcast) arrival bucket set —
    the scan carries a dynamic-pruning PartitionFilter so only
    buckets arrivals hit are read — and the cross-cosine kernel pays
    exactly ONE bucket exchange (each vector ships once per bucket,
    never once per candidate pair)."""
    df = REGISTRY["dedup_incremental_embedding"].fn(spark, SF)
    df.write.mode("overwrite").format("noop").save()  # AQE final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    assert "BroadcastHashJoin" in plan      # the semi probe
    assert plan.count("Exchange hashpartitioning(bucket") == 1


def test_lateral_topn_decorrelates_to_window(spark):
    """The LATERAL ORDER BY+LIMIT subquery must decorrelate into a
    rank window (one keyed exchange) — never a per-outer-row
    re-execution or a cartesian."""
    plan = plan_of(spark, "join_lateral_topn")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_scan_prunes_cells(spark):
    """scan_zorder_pruned: the 2-D rectangle maps to exactly 12 of
    256 Morton cells, the isin lands in PartitionFilters (listing-
    time prune), and both exact predicates still reach the parquet
    reader as PushedFilters (cells are a superset)."""
    plan = formatted_plan(spark, "scan_zorder_pruned")
    m = re.search(r"PartitionFilters: \[zcell#\d+ INSET ([^\]]*)\]", plan)
    assert m, plan
    assert len(m.group(1).split(",")) == 12
    m2 = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m2 and "o_orderdate" in m2.group(1)
    assert "o_totalprice" in m2.group(1)


def test_dpp_prunes_fact_partitions(spark):
    """join_dpp_pruned: the dim predicate is on a non-join column, so
    the fact scan's PartitionFilters must carry a dynamicpruning
    expression on order_yr (runtime directory pruning that reuses the
    dim broadcast), and the join must be the broadcast plan DPP's
    reuseBroadcastOnly mode requires.  Checks the EXECUTED plan — a
    localCheckpoint anywhere upstream would silently drop the dynamic
    filter (the checkpoint-kills-DPP trap)."""
    df = REGISTRY["join_dpp_pruned"].fn(spark, SF)
    df.write.mode("overwrite").format("noop").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"PartitionFilters: \[[^\]]*dynamicpruning", plan), plan
    assert "BroadcastHashJoin" in plan


def test_hll_partial_union_no_expand(spark):
    """agg_hll_partial_union keeps the exact and sketch sides as
    SEPARATE aggregation passes: an Expand node would mean Catalyst's
    multi-distinct rewrite got reintroduced (33.6 s at sf1, see
    agg_approx_error_audit's docstring)."""
    plan = plan_of(spark, "agg_hll_partial_union")
    assert "Expand" not in plan
    assert "hll_union_agg" in plan or "HllUnionAgg" in plan.lower() or \
        "hllunionagg" in plan.lower()


def test_theta_setops_scalar_cross_only(spark):
    """agg_theta_setops combines two 1-row scalar sides — the cross
    joins must be broadcast nested-loops over SINGLE-ROW inputs
    (the registered crossJoin-of-scalars shape), never a cartesian
    of data tables, and the exact side must not Expand."""
    plan = plan_of(spark, "agg_theta_setops")
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan


def test_kll_rollup_merges_partials(spark):
    """agg_kll_quantile_rollup: the year-level quantile comes from
    kll_merge_agg over the fine-grain partials (sketch merge, not a
    fact rescan), and the rank audit attaches the ~10-row estimate
    table by broadcast — chosen by AQE at runtime (no forced hint on
    a fact-derived frame), so the gate reads the EXECUTED plan."""
    df = REGISTRY["agg_kll_quantile_rollup"].fn(spark, SF)
    df.write.mode("overwrite").format("noop").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "kll_merge_agg" in plan.lower()
    assert "BroadcastHashJoin" in plan
    assert "Expand" not in plan


def test_bloom_filter_join_prunes_fact_rows(spark):
    """join_bloom_filtered: the filtered dim side must grow a
    bloom_filter_agg and the fact side a might_contain predicate
    BELOW its exchange (row-level runtime pruning before the
    shuffle), inside an isolated newSession so the pinned thresholds
    never leak into other keys' plans."""
    df = REGISTRY["join_bloom_filtered"].fn(spark, SF)
    df.write.mode("overwrite").format("noop").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan
    # isolation: the calling session's confs are untouched
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"


def test_udtf_lateral_is_shuffle_free_generate(spark):
    """udtf_word_runs: the LATERAL table function must plan as a
    Generate/PythonUDTF over the scan — zero exchanges (the UDTF
    evaluates per input row where the row lives), Arrow-batched.
    Round 10: the doc filter must sit BELOW the UDTF (Catalyst never
    pushes predicates through ArrowEvalPythonUDTF, so the outer-WHERE
    form ran Python over the whole corpus and threw 99% away — 0.92
    vs 0.22 s at sf0.1); top-down plan order is therefore
    UDTF-before-filter."""
    plan = plan_of(spark, "udtf_word_runs")
    assert "UDTF" in plan or "Generate" in plan
    assert "Exchange" not in plan
    assert "% 100" in plan
    assert plan.index("UDTF") < plan.index("% 100")


def test_point_in_time_is_single_exchange_asof(spark):
    """join_point_in_time rides the as-of union+window machinery: ONE
    hash exchange on the by-key for probes+history together, never an
    interval theta-join (no CartesianProduct / BroadcastNestedLoop),
    and the SCD2 history build reuses the same user_id partitioning."""
    plan = plan_of(spark, "join_point_in_time")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # history + union


def test_stats_ols_single_aggregation_pass(spark):
    """stats_ols_by_group: ONE map-side-combined aggregate over the
    fact scan — a single hash exchange carrying 6 numbers per group,
    no window, no join, no second fact pass."""
    plan = plan_of(spark, "stats_ols_by_group")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_stats_rolling_beta_one_exchange_one_sort(spark):
    """stats_rolling_beta chains two windows (row index, then the
    5-moment trailing frame) over the SAME partitioning+ordering:
    exactly one series-key exchange, and no second sort for the
    second window (its required ordering is satisfied by the
    first's)."""
    plan = plan_of(spark, "stats_rolling_beta")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort ") <= 1, plan


def test_stats_fama_macbeth_broadcast_attach_no_forced_hint(spark):
    """stats_fama_macbeth: the characteristic attach must be a plain
    equi-join Catalyst is free to re-plan (broadcast at bench scale
    via stats/AQE — asserted; shuffle join at real scale), and the
    second pass must reduce to a 1-row aggregate, not a window."""
    plan = plan_of(spark, "stats_fama_macbeth")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert plan.count("Exchange SinglePartition") == 1


def test_reservoir_sample_window_group_limit(spark):
    """sample_reservoir_group: the rank<=k filter must compile to
    WindowGroupLimit Partial (below the exchange) + Final — each
    input partition keeps only k rows per group BEFORE the shuffle,
    the distributed-reservoir merge derived by the optimizer."""
    plan = plan_of(spark, "sample_reservoir_group")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_schema_evolution_union_schema(spark):
    """scan_schema_evolution: the merged scan must expose the union
    schema (o_orderpriority present) while reading both generations
    of files — and the aggregate stays map-side partial."""
    plan = formatted_plan(spark, "scan_schema_evolution")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "o_orderpriority" in m.group(1)
    assert plan.count("HashAggregate") >= 2


def test_rfm_windows_share_one_segment_exchange(spark):
    """stats_rfm_segments: the three quintile windows must share ONE
    segment hash exchange (three in-partition sorts off one shuffle),
    on top of the per-customer aggregate's exchange — and no window
    may be global/single-partition (the q11-fallback anti-pattern the
    docstring rules out)."""
    plan = plan_of(spark, "stats_rfm_segments")
    assert plan.count("Window ") == 3
    assert plan.count("Sort ") == 3
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Exchange SinglePartition" not in plan.split("Window")[0]


def test_q11_shape_single_fact_scan(spark):
    """tpch_q11_shape (round 6 rewrite): the global threshold must
    NOT re-derive the fact subtree — exactly one lineitem scan in the
    executed plan (the crossJoin(broadcast(thr)) form measured 2
    scans and 0 ReusedExchange under AQE), and the default branch
    carries the threshold in an empty-frame window."""
    df = REGISTRY["tpch_q11_shape"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan


@pytest.mark.parametrize("name,table,max_scans", [
    # the round-6 exchange-reuse sweep: shared subtrees must not
    # re-scan the fact once per consumer (BASELINE.md r6; the fix is
    # a window, a lazy localCheckpoint, or a fuse — the gate protects
    # whichever form against regressing to multi-scan)
    ("tpch_q15_shape", "lineitem", 1),
    ("tpch_q17_shape", "lineitem", 1),
    ("tpch_q18_shape", "lineitem", 1),
    ("agg_median_mode", "orders", 1),
    ("basket_priority_lift", "orders", 1),
    ("ts_resample_ffill", "events", 1),
    ("ts_interpolate_linear", "events", 1),
    ("anomaly_mad", "events", 2),          # median agg + dev build
    ("mixture_temperature_sample", "documents", 2),  # rates + apply
    ("tfidf_top_terms", "documents", 2),   # tokenize + pruned count
    ("text_unigram_logprob", "documents", 2),  # dg twice, total windowed
    # round-11 bigram/BPE audit (VERDICT item 4): every consumer of
    # the tokenize/gram kernel reads its checkpointed instance frame,
    # so the FINAL plan carries zero documents scans — the one scan
    # lives in the checkpoint job.  A re-derivation regressing past
    # the checkpoint would surface here as a parquet scan.
    ("text_bigram_logprob", "documents", 0),
    ("quality_ccnet_buckets", "documents", 0),
    ("vocab_bpe_merges", "documents", 0),
    ("vocab_bpe_compression", "documents", 0),
    # round-10: cell assignment checkpointed — the 16x64 argmax tree
    # evaluates once and the corpus scans once (was 3 scans + a
    # 126 KB double-codegen plan)
    ("dedup_semantic_cells", "embeddings", 1),
])
def test_scan_budget(spark, name, table, max_scans):
    """Same-table scan budget for the keys the round-6 sweep fixed:
    counts Location lines in the formatted plan (lazy checkpoints
    materialize during explain, which is fine — the budget is about
    the executed shape)."""
    plan = formatted_plan(spark, name)
    n = len(re.findall(rf"Location:[^\n]*/{table}\.parquet", plan))
    assert n <= max_scans, f"{name}: {n} scans of {table} (max {max_scans})"


def test_no_single_partition_window_in_corpus_keys(spark):
    """Round-8 gate (VERDICT r7 items 1+5): NO registered corpus key
    may funnel data through a single-partition window — AQE can never
    split a window partition, so an unpartitioned Window over a
    token/vocabulary-grain stream is the unsplittable-skew class the
    r6 (tfidf), r7 (zipf) and r8 (unigram/bigram scalar totals)
    rewrites eliminated.  The gate walks every Window node in the
    executed plan and asserts its input exchange is not
    SinglePartition; global scalar totals must ride the
    with_broadcast_scalars doctrine (functions/numeric.py) instead."""
    corpus_keys = [
        n for n, spec in REGISTRY.items()
        if spec.fn.__module__ == "wrds2pg_spark.corpus"
    ]
    assert corpus_keys, "corpus registry scan came up empty"
    for name in corpus_keys:
        plan = plan_of(spark, name)
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if re.search(r"\bWindow \[", ln):
                ctx = "\n".join(lines[i + 1:i + 4])
                assert "Exchange SinglePartition" not in ctx, (
                    f"{name}: single-partition window\n{ln}\n{ctx}")


def test_quality_model_score_fused_no_python_no_exchange(spark):
    """quality_model_score is the whole model — features, dot
    product, sigmoid, threshold — as ONE codegen projection fused
    with the corpus scan: no Python boundary, no exchange of any
    kind (round-10 directive gate)."""
    plan = plan_of(spark, "quality_model_score")
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert "Scan" in plan


def test_quality_model_report_aggregates_groups_not_docs(spark):
    """quality_model_report's window runs over the ALREADY-aggregated
    (source, keep) rows — the plan must aggregate BELOW the window
    (HashAggregate before Window bottom-up), and no Python boundary
    exists anywhere."""
    plan = plan_of(spark, "quality_model_report")
    assert "Python" not in plan
    assert plan.index("Window") < plan.index("HashAggregate")  # top-down


def test_semantic_dedup_one_cell_exchange_no_cartesian(spark):
    """dedup_semantic_cells: cell assignment is a row-local codegen
    map (the anchored literal-dot tree), the pairwise kernel pays
    exactly ONE cell-keyed exchange (FlatMapGroupsInPandas), and the
    verdict join is keyed — never a cartesian, never a forced
    broadcast of the corpus."""
    plan = plan_of(spark, "dedup_semantic_cells")
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning(cell") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rag_probe_prunes_index_partitions(spark):
    """pipeline_rag_index's probe must prune at file-listing time:
    the index scan carries the nprobe cells as PartitionFilters (the
    materialized-ANN doctrine), reads no other directories, and the
    serving plan has no Python boundary and no corpus exchange (the
    top-k is TakeOrderedAndProject over the pruned scan)."""
    plan = formatted_plan(spark, "pipeline_rag_index")
    m = re.search(r"PartitionFilters: \[[^\]]*cell#\d+ IN? ?\(?[^\]]*\]",
                  plan)
    assert m, plan
    assert "TakeOrderedAndProject" in plan
    simple = plan_of(spark, "pipeline_rag_index")
    assert "Exchange" not in simple
    assert "Python" not in simple


def test_token_budget_window_group_limit_pushed_map_side(spark):
    """mixture_token_budget's rank predicate must trigger the
    WindowGroupLimit rewrite on BOTH sides of the exchange — the
    map-side pre-prune is what bounds a 100-TB source's sort state to
    budget rows per task (the docstring's scale claim)."""
    plan = plan_of(spark, "mixture_token_budget")
    segs = plan.split("Exchange")
    # at least one WindowGroupLimit below the shuffle (map-side, in
    # the last Exchange segment that still scans parquet) and one
    # above (final per-source prune)
    assert plan.count("WindowGroupLimit") >= 2, plan
    below = [s for s in segs[1:] if "Scan parquet" in s]
    assert below and any("WindowGroupLimit" in s for s in below), plan


def test_curation_funnel_no_body_shuffle_and_broadcast_join(spark):
    """The dedup groupBy must shuffle md5+features, never document
    bodies (no `text` column in any Exchange), and the per-source
    funnel joins the tiny raw-count side via broadcast."""
    df = REGISTRY["pipeline_curation_funnel"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for seg in plan.split("Exchange")[1:]:
        head = seg.split("+-", 1)[0]
        assert "text#" not in head, head


def test_curation_second_pass_compiles_no_class(spark):
    """Every generated class of a curation pass stays in Spark's codegen
    cache (``session.CODEGEN_CACHE_ENTRIES``), so a second pass over the
    same keys compiles nothing.  At Spark's default of 100 entries the
    second pass recompiled 116 classes."""
    keys = ("dedup_minhash_lsh", "dedup_simhash",
            "multimodal_image_features", "udf_pandas_scalar",
            "quality_ccnet_buckets")
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())

    def compiled_in_pass() -> int:
        before = compiles.getCount()
        for name in keys:
            (REGISTRY[name].fn(spark, SF)
             .write.mode("overwrite").format("noop").save())
        return compiles.getCount() - before

    first = compiled_in_pass()
    assert compiled_in_pass() == 0, f"first pass compiled {first}"

"""Physical-plan quality gates: pushdown, pruning, broadcast — the
properties that decide whether a plan survives 100× scale."""

from __future__ import annotations

import re

from orionld_to_hive_spark.operators import cubes, parity, sketches, temporal, tpch, tpch2
from orionld_to_hive_spark.plans.explain import (
    count_shuffles,
    executed_plan,
    formatted,
    has_broadcast_join,
    has_pushed_filter,
    read_schema_columns,
)


def test_q1_filter_is_pushed_to_scan(spark, sf_smoke):
    df = parity.q1_time_filter(spark, sf_smoke)
    # the range predicate must appear in PushedFilters as a raw long
    # comparison (the reference's own Q1 full-scanned; ours must not)
    assert has_pushed_filter(df, "GreaterThanOrEqual(ts"), (
        [l for l in __import__("orionld_to_hive_spark.plans.explain",
         fromlist=["formatted"]).formatted(df).splitlines()
         if "Pushed" in l]
    )


def test_q1_reads_only_projected_columns(spark, sf_smoke):
    df = parity.q1_time_filter(spark, sf_smoke)
    cols = read_schema_columns(df)
    assert set(cols) == {"event_id", "value", "ts"}, cols


def _executed_ops(df) -> list[str]:
    df.collect()  # AQE fixes the final plan at runtime; materialize first
    return re.findall(r"^\(\d+\) (\S+(?: parquet)?)", formatted(df), re.M)


def test_q3_single_scan(spark, sf_smoke):
    # the five tag branches are one filtered scan, not a five-way union
    ops = _executed_ops(parity.q3_union_cube(spark, sf_smoke))
    assert ops.count("Scan parquet") == 1, ops
    assert "Union" not in ops, ops


def test_q4_single_scan_no_join(spark, sf_smoke):
    # the join of the click and view aggregates is conditional
    # aggregation over one scan: no second scan and no join node
    ops = _executed_ops(parity.q4_join_hourly(spark, sf_smoke))
    assert ops.count("Scan parquet") == 1, ops
    assert not [o for o in ops if "Join" in o], ops


def test_tpch_q3_broadcasts_dimension(spark, sf_smoke):
    df = tpch.tpch_q3_shipping(spark, sf_smoke)
    assert has_broadcast_join(df)


def test_tpch_q3_headline_join_is_shuffle_hash(spark, sf_smoke):
    # The r5 re-plan's defining property: the lineitem-side join builds
    # a per-partition hash table from the filtered orders⋈cust side
    # (shuffle_hash hint). Without it the static planner broadcasts the
    # filtered-lineitem SCAN (smallest estimate, largest actual) and AQE
    # never flips the build side of an already-broadcast join — the
    # 1.49x regression documented in tpch.py. Guard the hint's survival
    # into the physical plan.
    df = tpch.tpch_q3_shipping(spark, sf_smoke)
    assert "ShuffledHashJoin" in formatted(df)


def test_tpch_q1_single_shuffle(spark, sf_smoke):
    # one groupBy = exactly one hash exchange (partial agg before it)
    df = tpch.tpch_q1_pricing(spark, sf_smoke)
    assert count_shuffles(df) <= 2  # agg + final orderBy range exchange


def test_tpch_q1_prunes_columns(spark, sf_smoke):
    df = tpch.tpch_q1_pricing(spark, sf_smoke)
    cols = set(read_schema_columns(df))
    # must NOT read the 4 unused lineitem columns
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert {"l_quantity", "l_extendedprice", "l_discount", "l_tax"} <= cols


def test_asof_join_has_no_join_node(spark, sf_smoke):
    # UNION-tag as-of: window forward-fill, zero join operators, and only
    # the two key-hash exchanges (click dedup agg + window sort)
    df = temporal.asof_click_before_purchase(spark, sf_smoke)
    plan = formatted(df)
    assert "Join" not in plan, plan
    assert count_shuffles(df) == 2


def test_range_join_broadcasts_interval_dim(spark, sf_smoke):
    # band predicate ⇒ BroadcastNestedLoopJoin with the tiny interval dim
    # broadcast; the fact side must reach the join without an exchange
    df = temporal.range_join_daily_windows(spark, sf_smoke)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastExchange" in plan


def test_rollup_expands_partials_not_facts(spark, sf_smoke):
    # pre-aggregate-before-Expand rewrite: the Expand operator must sit
    # ABOVE the base hash aggregate (replicating ≤ #groups partial rows),
    # never directly on the scan; shuffles = base agg + rollup agg + sort
    df = cubes.rollup_pricing(spark, sf_smoke)
    plan = formatted(df)
    import re

    ops = re.findall(r"^\(\d+\) (\S+)", plan, re.M)
    assert "Expand" in ops
    # formatted plans list operators leaves-first: the scan-side
    # HashAggregate must appear BEFORE the Expand that consumes it
    assert ops.index("HashAggregate") < ops.index("Expand"), ops
    assert count_shuffles(df) <= 3


def test_unpivot_expand_is_map_side(spark, sf_smoke):
    df = cubes.unpivot_measure_totals(spark, sf_smoke)
    assert count_shuffles(df) <= 2  # melt itself must add no exchange


def test_topk_uses_take_ordered(spark, sf_smoke):
    # top-k must be a per-partition heap + k-row driver merge, not a
    # full range-partitioned sort
    df = sketches.freq_topk_users(spark, sf_smoke)
    assert "TakeOrderedAndProject" in executed_plan(df)


def test_tumbling_window_prunes_columns(spark, sf_smoke):
    df = temporal.tumbling_window_agg(spark, sf_smoke)
    assert set(read_schema_columns(df)) == {"ts", "event_type", "value"}


def test_having_joinback_broadcasts_survivors(spark, sf_smoke):
    # HAVING survivors are a tiny fraction of orders — both join-backs
    # must be broadcast; shuffles = per-order agg + final sort only
    from orionld_to_hive_spark.operators import tpch

    df = tpch.having_large_orders(spark, sf_smoke)
    assert has_broadcast_join(df)
    assert count_shuffles(df) <= 2


def test_trailing_hour_range_frame_single_shuffle(spark, sf_smoke):
    # the RANGE frame must reuse the one (user_id) window exchange
    from orionld_to_hive_spark.operators import windows

    df = windows.trailing_hour_stats(spark, sf_smoke)
    assert count_shuffles(df) == 1


def test_multi_distinct_is_one_expand_pass(spark, sf_smoke):
    # two COUNT(DISTINCT) + COUNT(*) ⇒ ONE Expand-based pass, not
    # self-joined single-distinct aggregates
    from orionld_to_hive_spark.operators import sqlsurface

    df = sqlsurface.multi_distinct_agg(spark, sf_smoke)
    plan = formatted(df)
    assert "Join" not in plan, plan
    import re

    ops = re.findall(r"^\(\d+\) (\S+)", plan, re.M)
    assert ops.count("Expand") == 1


def test_word_freq_combines_before_shuffle(spark, sf_smoke):
    # explode → partial agg must combine map-side: a HashAggregate sits
    # below the first exchange, and top-k is TakeOrderedAndProject
    from orionld_to_hive_spark.operators import sqlsurface

    df = sqlsurface.word_freq_explode(spark, sf_smoke)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    import re

    ops = re.findall(r"^\(\d+\) (\S+)", formatted(df), re.M)
    first_exchange = ops.index("Exchange")
    assert "HashAggregate" in ops[:first_exchange], ops


def test_conditional_agg_single_pass(spark, sf_smoke):
    # every FILTER-style measure folds into one aggregate: one scan,
    # agg exchange + final sort at most
    from orionld_to_hive_spark.operators import stats

    df = stats.conditional_agg_per_type(spark, sf_smoke)
    import re

    ops = re.findall(r"^\(\d+\) (Scan parquet)", formatted(df), re.M)
    assert len(ops) == 1, ops
    assert count_shuffles(df) <= 2


def test_partitioned_write_prunes_partitions(spark, sf_smoke, tmp_path):
    # partition-by-room design (SURVEY §7): a room predicate must prune
    # at planning time — PartitionFilters, zero data files read from
    # other partitions — replacing the reference's six separate tables
    from pyspark.sql import functions as F

    from orionld_to_hive_spark.sources.warehouse import load_table, write_partitioned

    ev = load_table(spark, sf_smoke, "events")
    path = str(tmp_path / "events_by_type")
    write_partitioned(ev, path, partition_cols=("event_type",), mode="overwrite")

    df = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = formatted(df)
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters"
    )[1].split("\n")[0], plan
    # and the pruned scan must actually read only the one partition
    clicks = df.select("event_id").collect()
    one_part = spark.read.parquet(path + "/event_type=click").count()
    assert len(clicks) == one_part


def test_tpch_q6_all_predicates_pushed(spark, sf_smoke):
    # Q6 is the canonical pushdown probe: every one of the three
    # selective predicates must reach the parquet scan so row groups
    # whose min/max miss the band are skipped, not decoded.
    df = tpch.tpch_q6_forecast(spark, sf_smoke)
    assert has_pushed_filter(df, "GreaterThanOrEqual(l_shipdate")
    assert has_pushed_filter(df, "LessThan(l_shipdate")
    assert has_pushed_filter(df, "GreaterThanOrEqual(l_discount,0.03)")
    assert has_pushed_filter(df, "LessThan(l_quantity,24")
    cols = set(read_schema_columns(df))
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_tpch_q19_common_conjuncts_survive_disjunction(spark, sf_smoke):
    # The OR-of-ANDs must not defeat pushdown of the quantity band that
    # every branch shares — at 100 TB that band is the scan's only
    # row-group skip; part stays broadcast.
    df = tpch.tpch_q19_disjunctive(spark, sf_smoke)
    assert has_pushed_filter(df, "GreaterThanOrEqual(l_quantity,1")
    assert has_pushed_filter(df, "LessThanOrEqual(l_quantity,30")
    assert has_broadcast_join(df)


def test_tpch_q15_single_fact_scan(spark, sf_smoke):
    # MAX-of-view must not re-scan the fact table: the window-max
    # formulation reads lineitem exactly once; the unpartitioned window
    # runs over the |suppliers|-row aggregate, never the fact rows.
    df = tpch.tpch_q15_top_supplier(spark, sf_smoke)
    plan = formatted(df)
    assert plan.count("lineitem.parquet") == 1, plan


def test_tpch_q21_single_fact_scan_no_self_join(spark, sf_smoke):
    # The textbook Q21 is a triple self-join (l1/l2/l3) — three fact
    # scans. The windowed formulation must read lineitem exactly ONCE;
    # the per-order supplier counts come from windows over the already
    # aggregated (order, supplier) pairs.
    df = tpch2.tpch_q21_waiting_suppliers(spark, sf_smoke)
    plan = formatted(df)
    assert plan.count("lineitem.parquet") == 1, plan


def test_tpch_q4_exists_is_hash_semi_join(spark, sf_smoke):
    # EXISTS must plan as a semi join keyed on l_orderkey (the extra
    # date conjunct rides along), never a nested loop over the fact.
    df = tpch2.tpch_q4_priority(spark, sf_smoke)
    plan = formatted(df)
    assert "LeftSemi" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_tpch_q17_threshold_is_windowed_single_scan(spark, sf_smoke):
    # The correlated avg-quantity subquery must decorrelate into a
    # window over the joined (brand-pruned) slice — one lineitem scan,
    # part broadcast.
    df = tpch2.tpch_q17_small_qty(spark, sf_smoke)
    plan = formatted(df)
    assert plan.count("lineitem.parquet") == 1, plan
    assert has_broadcast_join(df)


def test_winsorize_bounds_are_broadcast(spark, sf_smoke):
    # pass-one quantile bounds (one row per group) must broadcast back
    # onto the fact scan — a shuffle join here would be a plan bug.
    from orionld_to_hive_spark.operators import analytics

    df = analytics.winsorize_report(spark, sf_smoke)
    assert has_broadcast_join(df)


def test_tfidf_docfreq_is_broadcast_and_single_corpus_scan_per_stage(
    spark, sf_smoke
):
    # the vocabulary-sized document-frequency relation joins back via
    # broadcast; the corpus is scanned for tf and df (aggregation
    # lineage), never a third time for the join itself.
    from orionld_to_hive_spark.operators import text

    df = text.tfidf_top_terms(spark, sf_smoke)
    assert has_broadcast_join(df)


def test_join_strategy_hints_are_honored(spark, sf_smoke):
    # strategy control surface: the same equi-join planned three ways.
    # At scale this is how a known-skewed or known-sorted join is
    # steered when the size estimator guesses wrong.
    from orionld_to_hive_spark.sources.warehouse import load_table

    li = load_table(spark, sf_smoke, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_smoke, "orders").select("o_orderkey")

    smj = li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
    assert "SortMergeJoin" in smj._jdf.queryExecution().executedPlan().toString()

    shj = li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
    assert "ShuffledHashJoin" in shj._jdf.queryExecution().executedPlan().toString()

    bhj = li.join(orders.hint("broadcast"), li.l_orderkey == orders.o_orderkey)
    assert has_broadcast_join(bhj)


def test_doc_repetition_no_interpreted_lambdas(spark, sf_smoke):
    # r2 regression gate: the 2-gram build must stay in codegen
    # (arrays_zip of slices), not higher-order transform/aggregate
    # lambdas — the interpreted fold cost 15× at sf0.1.
    from orionld_to_hive_spark.operators import text

    df = text.doc_repetition_report(spark, sf_smoke)
    plan = formatted(df)
    assert "lambdafunction" not in plan.lower(), plan[:2000]
    assert count_shuffles(df) <= 3  # (doc,gram) agg + (doc) agg + orderBy


def test_quantization_reuses_window_exchange(spark, sf_smoke):
    # explode -> per-vec window max -> same-key aggregate: the groupBy
    # must ride the window's (vec_id) exchange, not add its own.
    from orionld_to_hive_spark.operators import similarity

    df = similarity.embedding_quantization_report(spark, sf_smoke)
    assert count_shuffles(df) <= 2, formatted(df)[:2000]  # window + orderBy
    assert "lambdafunction" not in formatted(df).lower()


def test_curation_scorer_and_chunking_are_shuffle_free(spark, sf_smoke):
    from orionld_to_hive_spark.operators import curation

    assert count_shuffles(curation.quality_classifier_score(spark, sf_smoke)) == 0
    assert count_shuffles(curation.doc_chunks(spark, sf_smoke)) == 0


def test_dwell_profile_final_agg_reuses_type_partitioning(spark, sf_smoke):
    # lag window (user) + histogram agg (type,gap) + cumsum window
    # (type) + final agg (type, rides the cumsum exchange) + orderBy.
    from orionld_to_hive_spark.operators import analytics

    df = analytics.dwell_time_profile(spark, sf_smoke)
    assert count_shuffles(df) <= 4, formatted(df)[:2000]


def test_no_unpartitioned_window_exec(spark, sf_smoke):
    # A Window with no partition spec funnels its ENTIRE input frame
    # through one task — fatal on vocabulary- or key-cardinality frames
    # at 100 TB (VERDICT r2 items 1-2). Global scalars must instead be
    # 1-row aggregates broadcast back via crossJoin. Gate every query
    # whose frame scales with data size; these previously used
    # Window.partitionBy().
    from orionld_to_hive_spark.operators import curation, pipeline, skew, text, tpch2

    for fn in (
        text.corpus_drift_report,
        text.unigram_logprob_score,
        skew.skew_diagnostics_report,
        curation.budget_select_report,
        pipeline.pipeline_curation_report,
        tpch2.tpch_q11_important_parts,
    ):
        plan = executed_plan(fn(spark, sf_smoke))
        assert "Window " not in plan, (fn.__name__, plan[:1500])


def test_pagerank_scalars_are_broadcast_not_windowed(spark, sf_smoke):
    # PageRank's dangling mass and per-iteration totals are global
    # scalars; they must ride 1-row agg broadcasts, never an
    # unpartitioned WindowExec over the rank frame. (The bigram LM's
    # lead() window is partitioned by doc_id — fine — so only the
    # window-free pagerank gets the strict no-Window gate.) r5: the
    # iteration moved into pagerank_iterate_distributed (the
    # unbounded-graph path); the gate follows it there, and the bounded
    # query's own plan must also stay window-free.
    from pyspark.sql import functions as F

    from orionld_to_hive_spark.operators import graph

    plan = executed_plan(graph.graph_nation_trade_pagerank(spark, sf_smoke))
    assert "Window " not in plan, plan[:1500]

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 0.5), (1, 2, 0.5)], "src INT, dst INT, p DOUBLE"
    )
    nodes = spark.createDataFrame([(0,), (1,), (2,)], "node INT")
    it_plan = executed_plan(
        graph.pagerank_iterate_distributed(edges, nodes, iters=2)
    )
    assert "Window " not in it_plan, it_plan[:1500]


def test_bloom_and_countmin_probe_sides_broadcast(spark, sf_smoke):
    # The sketch tables (≤ 4096 counter rows / ≤ m bit positions) are
    # the broadcast side; the big probe stream must not shuffle to them.
    from orionld_to_hive_spark.operators import sketches

    for fn in (sketches.countmin_freq_estimate, sketches.bloom_membership_report):
        df = fn(spark, sf_smoke)
        df.collect()
        assert has_broadcast_join(df), fn.__name__


def test_graph_edge_derivation_broadcasts_dims(spark, sf_smoke):
    from orionld_to_hive_spark.operators import graph

    df = graph.graph_degree_distribution(spark, sf_smoke)
    df.collect()
    assert has_broadcast_join(df)


def test_cooc_cap_filter_precedes_self_join(spark, sf_smoke):
    # The co-occurrence projection must cap posting lists (rn <= cap)
    # BEFORE the pair self-join — without it a hub part emits items²
    # pairs. The cap filter must survive into the physical plan.
    import re

    from orionld_to_hive_spark.operators import graph

    plan = formatted(graph.graph_common_part_pairs(spark, sf_smoke))
    assert re.search(r"rn#\d+L? <= %d" % graph._COOC_CAP, plan), plan[:2000]


def test_pagerank_checkpoint_truncates_lineage(spark, sf_smoke):
    # 5 iterations of join+agg would stack a deep lineage; the
    # localCheckpoint per iteration of the DISTRIBUTED path must make
    # the final plan read from checkpointed state (r4 measurement: lazy
    # lineage costs 3.3→4.6 s). r5: the bounded nation query solves
    # driver-side instead, so its returned plan must contain NO fact
    # scan at all — the edge derivation already ran at build time.
    from orionld_to_hive_spark.operators import graph

    df = graph.graph_nation_trade_pagerank(spark, sf_smoke)
    plan = formatted(df)
    assert "lineitem.parquet" not in plan, plan[:2000]

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 0.5), (1, 2, 0.5)], "src INT, dst INT, p DOUBLE"
    )
    nodes = spark.createDataFrame([(0,), (1,), (2,)], "node INT")
    it_plan = formatted(
        graph.pagerank_iterate_distributed(edges, nodes, iters=3)
    )
    assert it_plan.count("Scan ExistingRDD") >= 1, it_plan[:2000]


def test_interpolate_windows_are_partitioned(spark, sf_smoke):
    # the forward/backward fill windows must be keyed (event_type) —
    # an unpartitioned WindowExec would funnel the spine through one
    # task. Formatted Window args render as [funcs], [partition], [order];
    # an empty partition spec shows as ", [], [".
    from orionld_to_hive_spark.operators import temporal

    plan = formatted(temporal.interpolate_hourly_values(spark, sf_smoke))
    win_lines = [
        line
        for line in plan.splitlines()
        if line.strip().startswith("Arguments") and "windowspecdefinition" in line
    ]
    assert win_lines, plan[:2000]  # gate must actually see the window
    for line in win_lines:
        assert "windowspecdefinition(event_type" in line, line


# ---------------------------------------------------------------------------
# r5 (VERDICT item 6): the r4 de-hinting must not creep back. For EVERY
# query in the three fact-heavy modules, walk the analyzed logical plan:
# a broadcast ResolvedHint whose subtree scans a TPC-H fact relation is
# only tolerable if the hinted side is an aggregate of it (bounded
# cardinality by its grouping key — e.g. pagerank's ≤25-row nation
# out-weights); a raw fact-derived side (the r3 `weak` pattern) fails.
# AQE-chosen broadcasts carry no ResolvedHint and are unaffected.
_FACT_COL_MARKERS = (
    "l_orderkey", "l_partkey", "o_orderkey", "o_custkey",
    "c_custkey", "s_suppkey", "ps_partkey", "ps_suppkey", "p_partkey",
)


def _node_depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _hinted_broadcast_subtrees(df) -> list[str]:
    plan = df._jdf.queryExecution().analyzed().toString()
    lines = plan.splitlines()
    subtrees = []
    for i, ln in enumerate(lines):
        if "ResolvedHint" not in ln or "broadcast" not in ln.lower():
            continue
        depth = _node_depth(ln)
        sub = []
        for nxt in lines[i + 1:]:
            if _node_depth(nxt) <= depth:
                break
            sub.append(nxt)
        subtrees.append("\n".join(sub))
    return subtrees


def test_no_raw_fact_side_broadcast_hints_in_fact_modules(spark, sf_smoke):
    from orionld_to_hive_spark.operators import graph, tpch2

    violations = []
    for mod in (tpch, tpch2, graph):
        for name, fn in mod.QUERIES.items():
            df = fn(spark, sf_smoke)
            for sub in _hinted_broadcast_subtrees(df):
                touches_fact = any(m in sub for m in _FACT_COL_MARKERS)
                if touches_fact and "Aggregate" not in sub:
                    violations.append(f"{mod.__name__}:{name}")
    assert not violations, (
        "broadcast hint on a raw fact-derived side (no bounding "
        f"aggregate between hint and fact scan): {sorted(set(violations))}"
    )


def test_fact_hint_gate_detects_violation(spark, sf_smoke):
    # falsifiability: a deliberately hinted raw orders-derived side must
    # be caught by the same walker the gate uses.
    from pyspark.sql import functions as F

    from orionld_to_hive_spark.sources.warehouse import load_table

    orders = load_table(spark, sf_smoke, "orders")
    cust = load_table(spark, sf_smoke, "customer")
    bad = cust.join(F.broadcast(orders.filter(F.col("o_orderkey") > 0)),
                    F.col("c_custkey") == F.col("o_custkey"))
    subs = _hinted_broadcast_subtrees(bad)
    assert any(
        any(m in s for m in _FACT_COL_MARKERS) and "Aggregate" not in s
        for s in subs
    ), subs


def test_delete_where_scan_prunes_partitions(spark, tmp_path):
    # the DML writers' 100 TB claim: when the DELETE predicate
    # constrains the partition column, the touched-partition discovery
    # scan must prune at planning time — the table-sized scan is the
    # difference between O(matching partitions) and O(table)
    from pyspark.sql import functions as F

    from orionld_to_hive_spark.sources.warehouse import write_partitioned

    df = spark.createDataFrame(
        [(i, "abc"[i % 3], float(i)) for i in range(30)],
        "id LONG, day STRING, value DOUBLE",
    )
    path = str(tmp_path / "tbl")
    write_partitioned(df, path, partition_cols=("day",))

    # the discovery scan filters on the RAW condition — a
    # coalesce(cond, false) wrapper (the first draft) is unpushable
    # and turns discovery into a full-table scan
    cond = (F.col("day") == "a") & (F.col("value") < 5.0)
    probe = spark.read.parquet(path).filter(cond)
    plan = formatted(probe)
    assert "PartitionFilters" in plan and "day" in plan.split(
        "PartitionFilters"
    )[1].split("\n")[0], plan

    from orionld_to_hive_spark.sources.merge import delete_where

    assert delete_where(spark, path, cond, ("day",)) == 1
    left = spark.read.parquet(path)
    assert left.filter("day = 'a' AND value < 5.0").count() == 0
    assert left.count() == 30 - 2  # ids 0 and 3 matched


def test_unigram_tokenize_single_pruned_scan(spark, sf_smoke):
    # the tokenizer's 100 TB shape: ONE documents scan reading ONLY
    # text (the Viterbi fan-out and both aggregates run off the
    # distinct-word frame, never a second corpus pass), and the word
    # count is map-side combined before its exchange
    from orionld_to_hive_spark.operators.unigram import unigram_tokenize_report

    import re

    df = unigram_tokenize_report(spark, sf_smoke)
    plan = formatted(df)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
    assert read_schema_columns(df) == ["text"], read_schema_columns(df)
    # partial aggregate feeds the lowest exchange (map-side combine):
    # the node numbered one below the first Exchange in scan-up order
    # must be a HashAggregate
    lowest_exchange = min(int(n) for n in re.findall(r"\((\d+)\) Exchange", plan))
    assert f"({lowest_exchange - 1}) HashAggregate" in plan, plan


def test_gif_pipeline_spreads_before_codec_stages(spark, sf_smoke):
    # the codec stage is CPU-bound Python: the plan must place the
    # core-spreading exchange BEFORE the (r14-fused, single)
    # mapInPandas stage and read only (doc_id, text) from the corpus
    from orionld_to_hive_spark.operators.gif import multimodal_gif_frames

    import re

    df = multimodal_gif_frames(spark, sf_smoke)
    plan = formatted(df)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
    assert sorted(read_schema_columns(df)) == ["doc_id", "text"]
    tree = plan[: plan.index("(1) Scan")]
    # the tree prints top-down, so the LAST exchange before the scan
    # is the spreading one and the fused codec stage sits above it
    assert tree.rindex("Exchange") > tree.rindex("MapInPandas"), tree
    # r14 second pass: synth + decode fused into ONE Python crossing
    assert tree.count("MapInPandas") == 1, tree


def test_semdedup_pair_join_is_keyed_not_cartesian(spark, sf_smoke):
    # the within-cluster pair relation must be an equi-join on cid
    # (n²/K bounded by cluster size) — never a cartesian product; the
    # only cross joins allowed are the K-bounded broadcast centroid
    # scorings of the Lloyd fit
    from orionld_to_hive_spark.operators.similarity import semdedup_prune_report

    df = semdedup_prune_report(spark, sf_smoke)
    plan = formatted(df)
    assert "CartesianProduct" not in plan, plan
    # the cid self-join is present as a real join, and every
    # BroadcastNestedLoopJoin (the crossJoin physical form) carries
    # the K-bounded centroid side, which arrives via LocalTableScan
    assert "Join" in plan


def test_triage_queries_are_single_scan_no_shuffle_before_sort(spark, sf_smoke):
    """The r11 metadata-triage queries (mp3/warc) are one documents
    scan → core-spread round-robin exchange (r12: the single-split
    corpus would otherwise pin the Arrow stage to one task) → Arrow
    stage → global sort: exactly two exchanges, no joins, column-
    pruned scan."""
    from orionld_to_hive_spark.operators.mp3 import multimodal_mp3_meta
    from orionld_to_hive_spark.operators.warc import multimodal_warc_meta

    for fn in (multimodal_mp3_meta, multimodal_warc_meta):
        df = fn(spark, sf_smoke)
        plan = formatted(df)
        assert "Join" not in plan, plan
        assert count_shuffles(df) <= 2, plan
        assert "roundrobin" in executed_plan(df).lower(), plan
        cols = read_schema_columns(df)
        assert set(cols) <= {"doc_id", "text"}, cols


def test_ivf_multiprobe_centroid_sides_are_broadcast(spark, sf_smoke):
    """The IVF-multiprobe chain may cross-join only K-bounded centroid
    frames (broadcast), never the corpus: no CartesianProduct, and the
    final candidate expansion is a real equi-join on cid."""
    from orionld_to_hive_spark.operators.similarity import (
        ann_ivf_multiprobe_topk,
    )

    df = ann_ivf_multiprobe_topk(spark, sf_smoke)
    plan = formatted(df)
    assert "CartesianProduct" not in plan, plan
    assert has_broadcast_join(df), plan


def test_robots_gate_plan_is_jvm_only_and_shuffle_free(spark, sf_smoke):
    # r14 second pass: the HOF robots evaluator must stay entirely
    # JVM-side (no Python eval nodes) and carry ZERO Exchange nodes —
    # parse, segmentation, group selection and longest-match all run
    # inside one projection; the only Generate is the declared
    # per-path explode. (The r13 join/window form asserted
    # WindowGroupLimit + broadcast joins here; that shape now lives in
    # _distributed_gate_joins as the equivalence twin.)
    from orionld_to_hive_spark.operators.robots import robots_gate_report

    df = robots_gate_report(spark, sf_smoke)
    plan = executed_plan(df)
    assert "PythonEval" not in plan and "ArrowEval" not in plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_sitemap_plan_is_jvm_only(spark, sf_smoke):
    # XML synthesis + XPath extraction both run inside the JVM: the
    # plan must contain zero Python evaluation nodes and read only
    # doc_id from the scan.
    from orionld_to_hive_spark.operators.sitemap import sitemap_url_extract

    df = sitemap_url_extract(spark, sf_smoke)
    plan = executed_plan(df)
    assert "PythonEval" not in plan and "ArrowEval" not in plan
    assert read_schema_columns(df) == ["doc_id"]


def test_walker_stages_are_core_spread(spark, sf_smoke):
    # Every Python walker query must fan its mapInPandas stage out
    # across defaultParallelism (the single-split corpus would pin it
    # to one task otherwise): the plan carries a round-robin exchange
    # below the Python node.
    from orionld_to_hive_spark.operators.pdf import multimodal_pdf_meta
    from orionld_to_hive_spark.operators.zip import zip_manifest

    for q in (multimodal_pdf_meta, zip_manifest):
        plan = executed_plan(q(spark, sf_smoke))
        assert "MapInPandas" in plan, plan[:500]
        assert "roundrobin" in plan.lower(), plan[:500]

"""Physical-plan audits: the 100 TB design assertions, checked on .explain
output so regressions in plan shape fail CI, not a production run.

What must hold (SURVEY.md §4, session.py design notes):
- predicate pushdown reaches the parquet scan (PushedFilters non-empty);
- column pruning reaches the scan (ReadSchema ≠ full table);
- dimension joins are broadcast hash joins, never sort-merge;
- aggregations have a partial (map-side) phase before the shuffle;
- the Phabricator parity pipelines contain ZERO Python evaluation
  (no BatchEvalPython / ArrowEvalPython / mapInPandas nodes) — §2.10's
  zero-UDF constraint, the whole-stage-codegen guarantee.
"""

from __future__ import annotations

import pytest

from phabricator_etl_spark.plans import phab_pipelines as P
from phabricator_etl_spark.plans.relational import (
    p_filters_compound,
    q1_pricing_summary,
    q3_shipping_priority,
)
from phabricator_etl_spark.sources import phab_fixtures


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.fixture(scope="module")
def tables(spark):
    """The eight tables of the generated world, wired as the runner wires
    them on a first load."""
    src = phab_fixtures.generate(spark, seed=7)
    return P.build_all(src, P.dim_principals(src), P.stack_components(src))


def test_filter_pushdown_reaches_scan(spark, sf_smoke):
    plan = _plan(p_filters_compound(spark, sf_smoke))
    assert "PushedFilters: [" in plan, "filters must push into the parquet scan"
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("IsNotNull" in ln or "EqualTo" in ln or "GreaterThan" in ln for ln in pushed), (
        f"expected real pushed predicates, got: {pushed}"
    )


def test_column_pruning_reaches_scan(spark, sf_smoke):
    plan = _plan(q1_pricing_summary(spark, sf_smoke))
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, "no parquet scan found"
    # q1 touches 6 of 11 lineitem columns; the scan must not read the rest
    assert "l_orderkey" not in scan_lines[0], f"column pruning failed: {scan_lines[0]}"
    assert "l_shipdate" in scan_lines[0]


def test_dimension_join_is_broadcast(spark, sf_smoke):
    plan = _plan(q3_shipping_priority(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan, "filtered customer dim must broadcast"


def test_aggregation_is_partial(spark, sf_smoke):
    plan = _plan(q1_pricing_summary(spark, sf_smoke))
    assert plan.count("HashAggregate") >= 2, (
        "expected partial (map-side) + final aggregate pair around the shuffle"
    )


def test_q1_uses_whole_stage_codegen(spark, sf_smoke):
    df = q1_pricing_summary(spark, sf_smoke)
    df.collect()  # AQE finalizes the physical plan only on execution
    simple = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen'd subtrees in the compact form
    import re

    assert re.search(r"\*\(\d+\)\s*HashAggregate", simple), (
        "aggregation must run inside a whole-stage-codegen subtree"
    )


@pytest.mark.parametrize("table", ["revisions", "diffs", "comments", "transactions",
                                   "review_requests", "review_groups", "project_transactions",
                                   "changesets"])
def test_phab_pipelines_have_no_python_nodes(tables, table):
    plan = _plan(tables[table])
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonUDF"):
        assert marker not in plan, (
            f"{table}: {marker} found — parity pipelines must be pure JVM (SURVEY §2.10)"
        )


def test_bucketed_join_is_colocated(spark, sf_smoke):
    """Bucketed tables must join without an Exchange before the join: the
    scans read buckets directly (Bucketed: true) and only the post-join
    aggregation shuffles (SURVEY §4.4's co-located join lever)."""
    from phabricator_etl_spark.plans.scale_techniques import bucketed_colocated_join

    plan = _plan(bucketed_colocated_join(spark, sf_smoke))
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    # no Exchange may appear below the join: in the formatted plan the join
    # inputs are the numbered operators before the SortMergeJoin node
    lines = plan.splitlines()
    join_idx = next(i for i, ln in enumerate(lines) if "SortMergeJoin" in ln and ln.lstrip().startswith("+-"))
    tree_above_join = "\n".join(lines[join_idx:join_idx + 8])
    assert "Exchange" not in tree_above_join, tree_above_join


def test_phab_dimension_joins_broadcast(tables):
    plan = _plan(tables["review_requests"])
    assert "BroadcastHashJoin" in plan, "user/project dims must broadcast"


def _nodes(plan) -> list:
    """Every node of a physical plan, with the adaptive wrapper and the
    query stages opened; a reused exchange is a leaf, so each exchange is
    listed once."""
    nodes, todo = [], [plan]
    while todo:
        node = todo.pop()
        nodes.append(node)
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        elif name != "ReusedExchange":
            todo += [node.children().apply(i) for i in range(node.children().size())]
    return nodes


def _executed_nodes(df) -> list:
    """The nodes of ``df``'s executed plan: it is run first, so AQE's final
    plan."""
    df.collect()
    return _nodes(df._jdf.queryExecution().executedPlan())


def _output_names(node) -> list[str]:
    out = node.output()
    return [out.apply(i).name() for i in range(out.size())]


def test_comment_exchange_carries_no_text(tables):
    """build_comments takes the text's length and the suggestion flag before
    its arms meet, so the exchange on the comment id moves neither the
    content nor the attributes column."""
    by_id = [
        n for n in _executed_nodes(tables["comments"])
        if n.nodeName() == "Exchange" and n.outputPartitioning().toString().startswith("hashpartitioning(id#")
    ]
    assert by_id, "no exchange on the comment id"
    for n in by_id:
        assert not {"content", "attributes"} & set(_output_names(n)), _output_names(n)


@pytest.mark.parametrize("table", ["transactions", "project_transactions"])
def test_fact_rows_do_one_principal_lookup(spark, table):
    """Over a pinned principal dim, one broadcast of the dim resolves every
    principal a transaction row names: its author, reviewers, owning
    project and member delta."""
    src = phab_fixtures.generate(spark, seed=7)
    principals = P.dim_principals(src).localCheckpoint(eager=True)
    pin = principals._jdf.queryExecution().analyzed().rdd().id()
    build = {"transactions": P.build_transactions, "project_transactions": P.build_project_transactions}[table]

    def reads_pin(node) -> bool:
        return any(
            n.getClass().getSimpleName() == "RDDScanExec" and n.rdd().id() == pin
            for n in _nodes(node)
        )

    broadcasts = [n for n in _executed_nodes(build(src, principals)) if n.nodeName() == "BroadcastExchange"]
    assert sum(map(reads_pin, broadcasts)) == 1, [b.toString() for b in broadcasts]


def test_sql_exists_decorrelates_to_semi_join(spark, sf_smoke):
    """Text-SQL EXISTS must become a (broadcast|shuffled) semi-join — no
    per-row subquery node may survive (Catalyst decorrelation)."""
    from phabricator_etl_spark.plans.sql_interface import SQL_EXISTS, register_views

    register_views(spark, sf_smoke)
    plan = _plan(spark.sql(SQL_EXISTS))
    assert "LeftSemi" in plan or "SemiJoin" in plan, plan[:2000]


def test_q6_filters_push_into_scan(spark, sf_smoke):
    from phabricator_etl_spark.plans.tpch_extra import q6_forecast_revenue

    plan = _plan(q6_forecast_revenue(spark, sf_smoke))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "GreaterThanOrEqual" in pushed[0] and "LessThan" in pushed[0], pushed


def test_q19_part_side_broadcasts(spark, sf_smoke):
    from phabricator_etl_spark.plans.tpch_extra import q19_disjunctive

    plan = _plan(q19_disjunctive(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan


def test_range_join_is_equi_join_not_nested_loop(spark, sf_smoke):
    """The banded range join must plan as a hash/sort-merge EQUI-join on
    (user, bucket) — never BroadcastNestedLoopJoin, which is what a naive
    inequality join degenerates to."""
    from phabricator_etl_spark.plans.sampling_stats import range_join_attribution

    plan = _plan(range_join_attribution(spark, sf_smoke))
    assert "NestedLoop" not in plan, "range join must not be a nested-loop theta join"
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_deterministic_sample_pushes_no_shuffle(spark, sf_smoke):
    """Hash sampling is a pure scan-side filter: the only shuffle in the plan
    is the final aggregation's."""
    from phabricator_etl_spark.plans.sampling_stats import sample_hash_bernoulli

    plan = _plan(sample_hash_bernoulli(spark, sf_smoke))
    # allowed: the aggregation's partial->final Exchange and the presentation
    # orderBy's range Exchange; anything more means the sampling predicate
    # itself shuffled
    # In the tree section, nothing below the partial (deepest) HashAggregate
    # may exchange: the sampling predicate evaluates scan-side.
    tree = []
    for ln in plan.splitlines():
        if ln.strip() == "" or ln.startswith("(1)"):
            break
        tree.append(ln)
    n_exchanges = sum("Exchange" in ln for ln in tree)
    assert n_exchanges <= 2, f"expected agg+sort exchanges only, got:\n{plan}"
    last_agg = max(i for i, ln in enumerate(tree) if "HashAggregate" in ln)
    below = "\n".join(tree[last_agg + 1 :])
    assert "Exchange" not in below, f"exchange below the partial aggregate:\n{below}"


def test_shuffle_hash_hint_forces_shj(spark, sf_smoke):
    """The SHUFFLE_HASH hint must override both auto-broadcast and the
    sort-merge default — the mid-size-dimension strategy lever."""
    from phabricator_etl_spark.plans.scale_techniques import shuffle_hash_hint_join

    plan = _plan(shuffle_hash_hint_join(spark, sf_smoke))
    assert "ShuffledHashJoin" in plan, plan[:800]


def test_sorted_file_skipping_prunes_scan(spark, sf_smoke):
    """The sorted-stage read must carry the shipdate filter into the parquet
    scan (PushedFilters) so row-group stats can act on it."""
    from phabricator_etl_spark.plans.scale_techniques import sorted_file_skipping

    plan = _plan(sorted_file_skipping(spark, sf_smoke))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters", 1)[1][:300]


def test_decontaminate_eval_side_broadcasts(spark, sf_smoke):
    """The eval shingle set must be the broadcast side — the corpus must
    never shuffle for the contamination join."""
    from phabricator_etl_spark.operators.corpus import corpus_decontaminate

    plan = _plan(corpus_decontaminate(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan, plan[:800]


def test_bloom_prefilter_is_scan_stage_filter(spark, sf_smoke):
    # The bloom bit tests must sit in a Filter BELOW the confirm join (the
    # point of the operator); a joined bitmap let Catalyst run the confirm
    # join first (observed), so the plan shape is the regression guard.
    from phabricator_etl_spark.operators.sketches import join_bloom_prefilter

    plan = _plan(join_bloom_prefilter(spark, sf_smoke))
    assert "element_at" in plan
    join_pos = plan.index("LeftSemi")
    # the Filter carrying the bloom probes appears in the operator list
    # before (deeper than) the semi join's own subtree start
    filt_pos = plan.index("element_at")
    assert filt_pos > join_pos, "bloom filter should be inside the join's left subtree detail"
    # and no cross join remains anywhere
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_shortlist_shuffles_codes_not_vectors(spark, sf_smoke):
    # The ADC stage must operate on the 4 int codes; the raw embedding
    # array may appear only in scan/encode stages, never in the window
    # (shortlist) exchange.
    from phabricator_etl_spark.operators.quantization import ann_pq_adc

    plan = _plan(ann_pq_adc(spark, sf_smoke))
    # the rank window over adc scores exists
    assert "row_number" in plan
    # exactly ONE MapInPandas node: the encode pass (ADC scoring is pure
    # codegen element_at lookups, not Python)
    import re

    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1


def test_e2e_funnel_single_corpus_scan_flags_not_filters(spark, sf_smoke):
    from phabricator_etl_spark.operators.pipeline_e2e import corpus_e2e_funnel

    plan = _plan(corpus_e2e_funnel(spark, sf_smoke))
    # eval-shingle probe is a broadcast join, not a shuffled one
    assert "BroadcastHashJoin" in plan
    # no Python nodes anywhere in the composed chain
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan


def test_funnel_uses_single_user_exchange(spark, sf_smoke):
    from phabricator_etl_spark.plans.event_analytics import funnel_view_click_purchase

    plan = _plan(funnel_view_click_purchase(spark, sf_smoke))
    # one hash Exchange on user_id for the three stacked windows + final
    # single-partition collapse; no join nodes at all
    assert "Join" not in plan
    assert plan.count("Window") >= 3


def test_triangle_edges_are_equi_joins(spark, sf_smoke):
    from phabricator_etl_spark.operators.triangles import _canonical_edges

    plan = _plan(_canonical_edges(spark, sf_smoke))
    # residue-class rewrite: the modular predicate must arrive as an
    # equi-join (hash or sort-merge), never a nested-loop with filter
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

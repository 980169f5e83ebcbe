"""Round-4 plan-hygiene asserts.

Two repo-wide scale guards added after the round-3 review:

1. every explicit ``F.broadcast(...)`` hint must sit on a PROVABLY
   BOUNDED table (dims, 1-row aggregates, k-row candidate sets) — a
   forced broadcast of a data-derived table is the one class of plan bug
   that turns into an executor OOM only at full scale, invisible to
   row-count correctness;
2. the Gini query (total order over base-table cardinality) must not
   plan an unpartitioned window — its global rank comes from the
   chunked-offset construction instead.

A third guard keeps one fixpoint driver: a loop that checkpoints or
releases by hand outside ``plans/iterate.py`` must be argued in
``APPROVED_LOOP_CHECKPOINTS``.

A fourth keeps the operator layer's signatures to what callers vary: a
defaulted column-name option must name, in ``APPROVED_COLUMN_OPTIONS``,
the caller that sets it to another column.
"""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F

from i2mapreduce_spark.catalog import load_tables

PKG = pathlib.Path(__file__).resolve().parents[1] / "i2mapreduce_spark"


#: the nodes whose body runs once per element
_LOOPS = (ast.For, ast.AsyncFor, ast.While, ast.ListComp, ast.SetComp,
          ast.DictComp, ast.GeneratorExp)


def _sites(match, in_loops_only: bool = False) -> set[tuple[str, str]]:
    """(module-relative-path, enclosing def) for every AST node of the
    non-test source that ``match`` accepts, via AST (no false hits from
    docstrings).  Methods are named ``Class.method``.  With
    ``in_loops_only`` only nodes inside a ``for``/``while`` loop or a
    list, set, dict or generator comprehension of that def count, so a
    loop cannot dodge the guard by becoming a comprehension."""
    sites = set()
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        rel = str(py.relative_to(PKG.parent))

        def walk(node, fn_name, in_loop):
            for child in ast.iter_child_nodes(node):
                name, loop = fn_name, in_loop
                if isinstance(child, ast.ClassDef):
                    name = child.name
                elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    name = (
                        f"{fn_name}.{child.name}"
                        if isinstance(node, ast.ClassDef) else child.name
                    )
                    loop = False
                elif isinstance(child, _LOOPS):
                    loop = True
                if (in_loop or not in_loops_only) and match(child):
                    sites.add((rel, fn_name))
                walk(child, name, loop)

        walk(tree, "<module>", False)
    return sites


def _is_f_broadcast(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "broadcast"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


#: every approved forced-broadcast site, with why the build side is
#: bounded.  Adding a NEW F.broadcast hint fails this test until the
#: bound is argued here — that is the point.
APPROVED_BROADCASTS = {
    # 1-row global aggregates
    ("i2mapreduce_spark/operators/algorithms.py", "_l1_normalize"),  # sum total
    ("i2mapreduce_spark/queries/llmops.py", "q_text_tfidf_top_terms"),  # corpus size
    ("i2mapreduce_spark/queries/llmops.py", "q_text_collocations_pmi"),  # 2 totals
    ("i2mapreduce_spark/queries/mapred_q.py", "q_mr_heavy_hitters"),  # total + <=k*parts candidates
    ("i2mapreduce_spark/queries/quality.py", "q_dq_drift_psi"),  # 1-row min/max range
    ("i2mapreduce_spark/queries/quality.py", "q_dq_iqr_outliers"),  # per-event-type quantile fences: cardinality = #distinct event types (enum-like, 6 at any SF)
    ("i2mapreduce_spark/queries/tpch_q.py", "q_agg_part_concentration"),  # 1-row global total
    ("i2mapreduce_spark/queries/iterative.py", "q_iter_markov_walk"),  # 1-row frontier
    # fixed-size dimension tables (nation=25, region=5, supplier dim)
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_having"),  # nation dim
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_rollup"),
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_skew_kurt"),  # 3-row per-flag stats
    ("i2mapreduce_spark/queries/joins.py", "q_join_broadcast"),  # region dim (the declared surface)
    ("i2mapreduce_spark/queries/joins.py", "q_join_multiway"),  # nation+region dims
    ("i2mapreduce_spark/queries/joins.py", "q_join_skew_salted"),  # SALT_BUCKETS-row range
    ("i2mapreduce_spark/queries/joins.py", "q_join_prefilter_bitmap"),  # <=4096 buckets + supplier dim
    ("i2mapreduce_spark/queries/tpch_q.py", "q_agg_local_supplier_volume"),  # region-filtered nation dim (<=25)
    ("i2mapreduce_spark/queries/tpch_q.py", "q_agg_market_share"),  # nation dim (25)
    ("i2mapreduce_spark/queries/tpch_q.py", "q_join_top_supplier"),  # 1-row global max
    ("i2mapreduce_spark/queries/tpch_q.py", "q_join_nation_trade_volume"),  # 2-nation dim slices
    ("i2mapreduce_spark/queries/tpch_q.py", "q_agg_returned_revenue"),  # nation dim (25)
    ("i2mapreduce_spark/queries/tpch_q.py", "q_join_untapped_customers"),  # 1-row global avg
    ("i2mapreduce_spark/queries/tpch_q.py", "q_join_min_cost_supplier"),  # nation dim (25) only; part/supplier hints dropped in r6
    ("i2mapreduce_spark/queries/tpch_q.py", "q_agg_product_profit"),  # nation dim (25) only
    ("i2mapreduce_spark/queries/tpch_q.py", "q_join_potential_promotion"),  # nation dim (25) only
    ("i2mapreduce_spark/queries/windows_q.py", "q_window_percent_of_total"),  # nation+region dims
    # k-bounded candidate / block tables
    # (similarity.py's block-pair broadcast removed r11: the single-frame
    #  exploded feed has no join, hence no hint — see _block_pair_grouped)
    ("i2mapreduce_spark/queries/llmops.py", "q_sim_mmr_rerank"),  # fixed MMR_N_QUERIES=20-row query block
    ("i2mapreduce_spark/queries/llmops.py", "q_text_ngram_coverage"),  # 1-row global bigram total
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_ks_test"),  # 1-row (n1, n2) totals
    ("i2mapreduce_spark/queries/timeseries.py", "q_ts_burst_days"),  # per-event-type moment rows: cardinality = #distinct event types (enum-like, ~6 at any SF)
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_decile_lift"),  # 1-row (n, total) aggregate
    ("i2mapreduce_spark/queries/pipelines.py", "q_pipeline_curriculum"),  # 1-row corpus count
    ("i2mapreduce_spark/queries/llmops.py", "q_text_js_divergence"),  # 1-row (na, nb) totals
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_rfm_segments"),  # 1-row max-date/count/total aggregates
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_pareto_concentration"),  # 1-row (n,total) + 1-row top-decile aggregates
    ("i2mapreduce_spark/queries/llmops.py", "q_text_bpe_merge_pairs"),  # 1-row global pair-count total
    ("i2mapreduce_spark/queries/quality.py", "q_dq_k_anonymity"),  # 1-row class-size total
    ("i2mapreduce_spark/queries/pipelines.py", "q_pipeline_target_encode"),  # 1-row (n_g, pos_g) global label moments
    ("i2mapreduce_spark/queries/iterative.py", "q_iter_als_topitems"),  # LIMIT ALS_ITEMS=64 item spine (bounded by construction)
    ("i2mapreduce_spark/streaming/incremental.py", "MRBGStore._splice"),  # driver-collected delta keys, <= MRBG_DELTA_COLLECT_MAX_DEFAULT rows (larger deltas take the unhinted path)
    ("i2mapreduce_spark/queries/quality.py", "q_dq_freshness"),  # 1-row global max-timestamp
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_survival_km"),  # 1-row dataset edge + 1-row customer total
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_bootstrap_ci"),  # 1-row point estimate
    ("i2mapreduce_spark/queries/timeseries.py", "q_ts_runs_test"),  # 1-row x2-cent median
    ("i2mapreduce_spark/queries/timeseries.py", "q_ts_theil_sen"),  # 1-row (n_pairs, n_days) totals
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_winsorized_mean"),  # 1-row count + 1-row (lo, hi) boundary pair
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_cuped_adjustment"),  # 1-row pooled moment aggregate
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_cvar_expected_shortfall"),  # 1-row count
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_abc_classification"),  # 1-row global total
    ("i2mapreduce_spark/queries/scalar_fns.py", "q_fn_holiday_observed"),  # 21-row literal holiday spine (7 years x 3 holidays)
    ("i2mapreduce_spark/queries/projection.py", "q_sample_neyman_allocation"),  # 1-row weight total
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_eb_beta_binomial"),  # 1-row (alpha, beta) prior
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_hhi_concentration"),  # nation dim (25)
    ("i2mapreduce_spark/queries/projection.py", "q_sample_balanced_downsample"),  # 1-row min class count
    ("i2mapreduce_spark/queries/windows_q.py", "q_window_control_chart"),  # 1-row frozen baseline moments
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_gini_by_segment"),  # 1-row global minimum
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_calibration_table"),  # 1-row row count
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_precision_at_k"),  # 1-row total positives
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_jackknife_se"),  # 1-row totals (twice)
    ("i2mapreduce_spark/queries/llmops.py", "q_text_bpe_apply"),  # BPE_MERGES=20-entry merge list
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_brier_score"),  # 1-row row count
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_ece"),  # 1-row row count
    ("i2mapreduce_spark/queries/pipelines.py", "q_pipeline_interleave_order"),  # source-enum sizes + 1-row total
    ("i2mapreduce_spark/queries/windows_q.py", "q_window_longest_streak"),  # 1-row final-day scalar
    ("i2mapreduce_spark/queries/quality.py", "q_dq_catalog_census"),  # 1-row grand total
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_durbin_watson"),  # 1-row OLS moments
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_revenue_bridge"),  # 1-row absolute-delta total
    ("i2mapreduce_spark/queries/windows_q.py", "q_window_underwater_duration"),  # 1-row final-day scalar
    ("i2mapreduce_spark/queries/llmops.py", "q_text_oov_rate"),  # 1-row split cut-off
    ("i2mapreduce_spark/queries/aggregates.py", "q_agg_cr4_concentration"),  # nation dim (25)
    ("i2mapreduce_spark/queries/joins.py", "q_join_basket_overlap"),  # nation dim + 25-row size tables
    ("i2mapreduce_spark/queries/quality.py", "q_dq_shard_balance"),  # 1-row (total, k) aggregate
    # eval-suite-sized by nature (benchmark contamination set, KBs-MBs)
    ("i2mapreduce_spark/queries/pipelines.py", "q_pipeline_decontaminate"),
}


#: names whose use inside a loop means the loop manages its own round
#: checkpoints (as a call or as a `.transform(...)` argument)
_CHECKPOINT_NAMES = {"checkpoint_without_stats", "localCheckpoint", "release_checkpoint"}


def _names_checkpoint(node) -> bool:
    return (
        getattr(node, "id", None) in _CHECKPOINT_NAMES
        or getattr(node, "attr", None) in _CHECKPOINT_NAMES
    )


#: the loops that still checkpoint or release by hand, with why they
#: are not `iterate()` rounds over one state frame.  Every other loop
#: runs on plans/iterate.py, which owns the checkpoint-and-release
#: rule; a new hand-rolled loop fails this test until argued here.
APPROVED_LOOP_CHECKPOINTS = {
    ("i2mapreduce_spark/queries/llmops.py", "q_text_greedy_generate"),  # every step frame stays live in the growing union chain: nothing is superseded
    ("i2mapreduce_spark/queries/sorts.py", "q_sort_quickselect_kth"),  # two collects per round feed a driver-side pivot and branch; the rank k shifts with the side kept
    ("i2mapreduce_spark/streaming/incremental.py", "MRBGStore._splice"),  # one delta per call of the distributed splice; the loop releases its two superseded pins (edges, key set)
}


def test_loop_checkpoints_only_in_approved_loops():
    found = {
        site for site in _sites(_names_checkpoint, in_loops_only=True)
        if site[0] != "i2mapreduce_spark/plans/iterate.py"
    }
    new = found - APPROVED_LOOP_CHECKPOINTS
    gone = APPROVED_LOOP_CHECKPOINTS - found
    assert not new, (
        "hand-rolled loop checkpoint(s): run the loop on "
        f"plans.iterate.iterate() or argue it here: {sorted(new)}"
    )
    assert not gone, f"stale allowlist entries: {sorted(gone)}"


def test_every_forced_broadcast_is_on_a_bounded_table():
    found = _sites(_is_f_broadcast)
    new = found - APPROVED_BROADCASTS
    gone = APPROVED_BROADCASTS - found
    assert not new, (
        "unreviewed F.broadcast hint(s) — argue the build-side bound in "
        f"APPROVED_BROADCASTS or drop the hint: {sorted(new)}"
    )
    assert not gone, f"stale whitelist entries: {sorted(gone)}"


#: the operator layer, whose column-name options are checked below
_OPERATOR_LAYER = tuple(
    f"i2mapreduce_spark/{d}/" for d in ("operators", "streaming", "sources", "functions")
)


def _defaulted_col_params(node) -> set[str]:
    """Names of the defaulted ``*_col`` parameters of a def's arguments."""
    if not isinstance(node, ast.arguments):
        return set()
    pos = node.posonlyargs + node.args
    defaulted = pos[len(pos) - len(node.defaults):] + [
        a for a, d in zip(node.kwonlyargs, node.kw_defaults) if d is not None
    ]
    return {a.arg for a in defaulted if a.arg.endswith("_col")}


#: every defaulted column-name option of the operator layer, with the
#: caller that sets it to another column.  A column no caller renames is
#: the catalog's own name and a literal in the operator; a new option
#: fails this test until a caller that varies it is named here.
APPROVED_COLUMN_OPTIONS = {
    ("i2mapreduce_spark/operators/algorithms.py", "gimv", "weight_col"),  # queries/iterative.py 'w' (default None: unweighted)
    ("i2mapreduce_spark/operators/ranking.py", "global_row_number", "out_col"),  # queries/pipelines.py 'g', aggregates.py 'rk', mapred_q.py 'rnk'
    ("i2mapreduce_spark/operators/ranking.py", "global_running_max_excl", "out_col"),  # tests/test_advice_r7.py 'pre'
    ("i2mapreduce_spark/streaming/incremental.py", "fold_delta", "count_col"),  # queries/streaming_q.py 'n_events'
    ("i2mapreduce_spark/streaming/incremental.py", "fold_delta_ops", "count_col"),  # queries/streaming_q.py 'n_events'
}


def test_operator_column_options_are_varied_by_a_caller():
    # first walk: collect the option names (the match records and
    # returns None, so it adds no site); then one walk per name
    names: set[str] = set()
    _sites(lambda node: names.update(_defaulted_col_params(node)))
    found = {
        (rel, fn, name)
        for name in names
        for rel, fn in _sites(lambda node, name=name: name in _defaulted_col_params(node))
        if rel.startswith(_OPERATOR_LAYER)
    }
    new = found - APPROVED_COLUMN_OPTIONS
    gone = APPROVED_COLUMN_OPTIONS - found
    assert not new, (
        "defaulted column-name option(s) no approved caller varies — use "
        f"the catalog's column as a literal or name the caller: {sorted(new)}"
    )
    assert not gone, f"stale allowlist entries: {sorted(gone)}"


def test_gini_rank_is_distributed(spark, sf_dir):
    """agg_gini must not fall back to a single-partition global window:
    every Window node in its plan carries a partition spec (_pid), and
    the range-partitioned rank machinery is present."""
    from i2mapreduce_spark.queries.aggregates import q_agg_gini

    load_tables(spark, sf_dir)
    df = q_agg_gini(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    for line in plan.splitlines():
        # formatted explain prints window args as
        #   Arguments: [fns], [partition spec], [order spec]
        if "row_number()" in line and "Arguments" in line:
            assert "_pid" in line, f"unpartitioned rank window: {line}"


def test_global_row_number_matches_global_window(spark, sf_dir):
    """The chunked-offset rank is bit-identical to row_number() over a
    global ORDER BY for a unique total order."""
    from pyspark.sql import Window

    from i2mapreduce_spark.operators.ranking import global_row_number

    load_tables(spark, sf_dir)
    rev = (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("x"))
    )
    got = (
        global_row_number(rev, ["x", "o_custkey"], out_col="i")
        .orderBy("i")
        .select("o_custkey", "i")
        .collect()
    )
    want = (
        rev.select(
            "o_custkey",
            F.row_number().over(Window.orderBy("x", "o_custkey")).alias("i"),
        )
        .orderBy("i")
        .collect()
    )
    assert got == want

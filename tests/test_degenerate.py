"""Degenerate-input contract (r8): every operator stays WELL-DEFINED on
empty and single-row tables.

At 100 TB an empty date partition, a tenant with no events, or an
incremental delta with no changes is routine; r8's first sweep of the
full registry over zero-row tables crashed 36 keys (seed
``collect()[0]`` -> IndexError/TypeError, ``1.0/n_nodes`` ->
ZeroDivisionError, ``np.stack([])`` -> ValueError, ANSI DIVIDE_BY_ZERO,
``element_at`` on an empty array, partitioned-sink read-back without an
explicit schema) and the one-row fixture 25 more (n=1 statistics with
zero variance).  This file pins one representative per failure class on
BOTH fixtures; the FULL 469-key x 2-fixture gate is
``tools/sweep_degenerate.sh`` (469/469 green on each, 2026-08-16).

Fixtures are regenerated into tmp by tools/make_fixture.py, the same
script the sweep uses; its sf0/sfmin slices keep the parquet physical
types (including events.ts INT64 TIMESTAMP(NANOS)) of the source.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from i2mapreduce_spark.oracle import compare, oracle_connect
from i2mapreduce_spark.queries import build_registry

from conftest import SF_SMALL

_MAKE_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "make_fixture.py",
)
FIXTURES = ["sf0", "sfmin", "sf001nulls", "sf001nullfk", "sf001uni", "sf001big", "sf001dup"]


def _make_fixture(fixture: str, src: str, out: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, _MAKE_FIXTURE, fixture, src, out],
        capture_output=True, text=True,
    )


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    """fixture name -> directory built from SF_SMALL, once per module."""
    built: dict = {}

    def get(fixture: str) -> str:
        if fixture not in built:
            out = str(tmp_path_factory.mktemp(fixture))
            res = _make_fixture(fixture, SF_SMALL, out)
            assert res.returncode == 0, res.stderr
            built[fixture] = out
        return built[fixture]

    return get


#: one key per r8 degenerate-crash class (see module docstring)
REPRESENTATIVE_KEYS = [
    "iter_sssp",                  # seed collect()[0] -> None guard
    "iter_pagerank",              # n_nodes == 0 -> 1/n guard
    "iter_connected_components",  # sum-over-empty NULL stalls a fixpoint
    "iter_kmeans",                # np.stack on zero seed rows
    "iter_triangle_count",        # sum-over-empty NULL vs count 0
    "sim_ann_ivf",                # centroid training on tiny samples
    "agg_kruskal_wallis",         # undefined statistic -> no row
    "dq_catalog_census",          # integer div by zero total
    "agg_hill_tail_index",        # element_at past an empty array
    "mr_multiple_outputs",        # partitioned sink read-back, no files
    "agg_rollup",                 # grouping-sets-over-empty semantics
    "agg_process_capability",     # n=1 sample variance (sfmin class)
    "udf_grouped_map",            # pandas sd NaN on 1-row group
]


@pytest.fixture(scope="module", params=["sf0", "sfmin"])
def degenerate_dir(request, fixture_dir):
    return fixture_dir(request.param)


#: one key per r8 NULL-injection divergence class (SWEEP_DEGENERATE.md)
NULL_KEYS = [
    "agg_auc_roc",                  # NULL sort-order (rank statistics)
    "window_macd",                  # collect_list vs list() NULL series
    "dq_table_checksum",            # canonical NULL field encoding
    "fn_string",                    # concat NULL propagation parity
    "text_fingerprint",             # UDF kernel None guard
    "udtf_split_props",             # flatMap-of-nothing on NULL payload
    "join_similarity_prefix_filter",  # sequence(1, NULL->0) = [1, 0] trap
    "agg_percentiles",              # exact-cents quantile interpolation
]


@pytest.mark.parametrize("key", NULL_KEYS)
def test_null_injected_inputs_match_oracle(spark, fixture_dir, key):
    nulls_dir = fixture_dir("sf001nulls")
    queries, oracles = build_registry()
    df = queries[key](spark, nulls_dir)
    con = oracle_connect(nulls_dir)
    try:
        res = compare(key, df, con, oracles[key])
    finally:
        con.close()
    assert res.ok, str(res)


#: one key per r9 NULL-JOIN-KEY divergence class (SWEEP_DEGENERATE.md):
#: join keys have shape-dependent NULL semantics — equi/asof joins never
#: match NULL keys, window PARTITION BY and groupBy group them together
NULLFK_KEYS = [
    "join_asof",            # window-as-join must NOT let NULL match NULL
    "join_bloom_prefilter", # NULL key in the collected runtime filter
    "source_weblog_parse",  # NULL FK -> NULL concat -> unparseable line
    "stream_attribution",   # NULL group key IS legit (window semantics)
    "iter_als_topitems",    # NULL keys are not entities (rows-only)
    "join_null_safe",       # <=> must keep matching NULL keys
    "join_not_in_null_trap",  # NOT IN over a now-NULLable key column
    # r10 extension classes (NULL l_orderkey / nationkeys / composite):
    "mr_total_order_sort",  # total order over a NULL key is engine-
                            # divergent -> complete-case the sort key
    "window_heikin_ashi",   # row_number open/close picks over NULL keys
    "iter_apriori_pairs",   # groupBy would pool a giant NULL basket;
                            # the oracle's self-join shape excludes it
    "dq_uniqueness",        # variadic countDistinct drops half-NULL
                            # tuples; STRUCT = row-value semantics
    "join_multiway",        # customer->nation dim join, NULL c_nationkey
]


@pytest.mark.parametrize("key", NULLFK_KEYS)
def test_null_join_key_inputs_match_oracle(spark, fixture_dir, key):
    nullfk_dir = fixture_dir("sf001nullfk")
    queries, oracles = build_registry()
    df = queries[key](spark, nullfk_dir)
    if key in oracles:
        con = oracle_connect(nullfk_dir)
        try:
            res = compare(key, df, con, oracles[key])
        finally:
            con.close()
        assert res.ok, str(res)
    else:
        assert df.count() >= 0  # rows-only: well-defined, no crash


#: unicode byte/char-confusion classes (SWEEP_DEGENERATE.md): the
#: multimodal payload is UTF-8 BYTES, the text keys are code points
UNICODE_KEYS = [
    "multimodal_extract",       # hex-byte oracle vs np.frombuffer kernel
    "multimodal_frame_sample",  # hex frames (byte slice may split a char)
    "multimodal_tile_grid",     # octet_length(encode()), not text::BLOB
    "text_fingerprint",         # md5 over utf-8 tokens (both engines)
    "fn_string",                # substr/length are code-point on both
]


@pytest.mark.parametrize("key", UNICODE_KEYS)
def test_unicode_inputs_match_oracle(spark, fixture_dir, key):
    unicode_dir = fixture_dir("sf001uni")
    queries, oracles = build_registry()
    df = queries[key](spark, unicode_dir)
    con = oracle_connect(unicode_dir)
    try:
        res = compare(key, df, con, oracles[key])
    finally:
        con.close()
    assert res.ok, str(res)


@pytest.fixture(scope="module")
def onesided_dir(tmp_path_factory):
    """r8-advice fixture: inputs that push the two test statistics into
    their zero-variance corner.

    - orders: 5 one-order days with daily cents {1,1,1,2,3} — median
      cents = 1, so the three median days DROP from the runs test and
      the survivors {2,3} are BOTH above the median (n1=2, n2=0): the
      old ``n1+n2>1`` guard passed this, var=0, and Spark ANSI threw
      DIVIDE_BY_ZERO while DuckDB returned a NULL-z row.
    - events: both user-id parities present but ZERO purchases, so the
      pooled proportion is 0 and the old plain '/' z-quotient divided
      by sqrt(0) under ANSI while DuckDB yielded NULL.
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    out = str(tmp_path_factory.mktemp("onesided"))
    for f in os.listdir(SF_SMALL):
        tbl = pq.read_table(os.path.join(SF_SMALL, f))
        if f == "orders.parquet":
            df = tbl.slice(0, 5).to_pandas()
            df["o_orderdate"] = pd.to_datetime(
                ["1995-01-0%d" % d for d in range(1, 6)]
            )
            df["o_totalprice"] = np.array([0.01, 0.01, 0.01, 0.02, 0.03])
            tbl = pa.Table.from_pandas(df, schema=tbl.schema, preserve_index=False)
        elif f == "events.parquet":
            df = tbl.to_pandas()
            df["event_type"] = "view"  # both variants, zero conversions
            tbl = pa.Table.from_pandas(df, schema=tbl.schema, preserve_index=False)
        pq.write_table(tbl, os.path.join(out, f))
    return out


@pytest.mark.parametrize(
    "key", ["ts_runs_test", "agg_two_proportion_ztest"]
)
def test_zero_variance_statistics_match_oracle(spark, onesided_dir, key):
    queries, oracles = build_registry()
    df = queries[key](spark, onesided_dir)
    con = oracle_connect(onesided_dir)
    try:
        res = compare(key, df, con, oracles[key])
    finally:
        con.close()
    assert res.ok, str(res)
    if key == "ts_runs_test":
        # one-sided survivors -> n2=0 -> no verdict row on BOTH engines
        assert df.count() == 0
    else:
        # both arms observed, pooled p = 0 -> one row, NULL z, no reject
        rows = df.collect()
        assert len(rows) == 1 and rows[0]["z_stat"] is None
        assert rows[0]["reject_05"] is False


@pytest.mark.parametrize("key", REPRESENTATIVE_KEYS)
def test_degenerate_inputs_are_well_defined(spark, degenerate_dir, key):
    queries, oracles = build_registry()
    df = queries[key](spark, degenerate_dir)
    if key in oracles:
        con = oracle_connect(degenerate_dir)
        try:
            res = compare(key, df, con, oracles[key])
        finally:
            con.close()
        assert res.ok, str(res)
    else:
        assert df.count() >= 0  # rows-only: well-defined, no crash


@pytest.mark.parametrize("fixture", FIXTURES)
def test_fixture_keeps_every_table_and_schema(fixture_dir, fixture):
    out = fixture_dir(fixture)
    tables = sorted(os.listdir(SF_SMALL))
    assert len(tables) == 10 and sorted(os.listdir(out)) == tables
    for f in tables:
        src = pq.read_table(os.path.join(SF_SMALL, f))
        got = pq.read_table(os.path.join(out, f))
        assert got.schema.equals(src.schema), f
        if fixture == "sf0":
            want = 0
        elif fixture == "sfmin":
            want = 1
        elif fixture == "sf001dup" and f in ("documents.parquet", "embeddings.parquet"):
            want = 10 * src.num_rows
        else:
            want = src.num_rows
        assert got.num_rows == want, f


def test_dup_fixture_fails_loudly_on_empty_source(fixture_dir, tmp_path):
    # max(id) over an empty table has no stride: writing NULL ids would
    # pass silently, so the script must exit non-zero instead
    res = _make_fixture("sf001dup", fixture_dir("sf0"), str(tmp_path))
    assert res.returncode != 0
    assert "empty" in res.stderr

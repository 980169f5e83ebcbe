"""Generative property tests (hypothesis): core operators checked
against pure-python reference implementations on randomized small
inputs.  The fixture-based tests pin behavior on realistic data; these
hunt the adversarial shapes fixtures never produce (empty groups,
all-equal keys, touching intervals, delete-everything sequences).
Examples are kept small and few — each one round-trips through Spark."""

from __future__ import annotations

import itertools

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

#: (user, start) event lists: few users, clustered starts force overlaps
events_strategy = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 40)),
    min_size=1,
    max_size=25,
)


def _merge_reference(spans):
    """Python interval-union per user over [s, s+5) spans."""
    out = {}
    for user in {u for u, _ in spans}:
        ivs = sorted((s, s + 5) for u, s in spans if u == user)
        merged = [list(ivs[0])]
        for s, e in ivs[1:]:
            if s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        out[user] = [tuple(m) for m in merged]
    return out


@settings(**SETTINGS)
@given(events_strategy)
def test_interval_merge_matches_python_reference(spark, spans):
    rows = [(u, i, s, s + 5) for i, (u, s) in enumerate(spans)]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, s long, e long"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = df.withColumn(
        "ni", F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0)
    )
    islands = flagged.withColumn(
        "island", F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    got = {
        u: sorted((r["min(s)"], r["max(e)"]) for r in grp)
        for u, grp in itertools.groupby(
            sorted(
                islands.groupBy("user_id", "island")
                .agg(F.min("s"), F.max("e"))
                .collect(),
                key=lambda r: (r.user_id, r.island),
            ),
            key=lambda r: r.user_id,
        )
    }
    want = {u: sorted(v) for u, v in _merge_reference(spans).items()}
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(-100, 100)),
        min_size=1,
        max_size=30,
    )
)
def test_salted_reduce_equals_plain_on_random_data(spark, kvs):
    from i2mapreduce_spark.mapred import reduce_by_key, salted_reduce_by_key

    df = spark.createDataFrame(kvs, "k int, v long")
    salted = salted_reduce_by_key(
        df, ["k"], 4, n=(F.count("*"), F.sum("n")), total=(F.sum("v"), F.sum("total"))
    )
    plain = reduce_by_key(df, ["k"], n=F.count("*"), total=F.sum("v"))
    got = {(r.k, r.n, r.total) for r in salted.collect()}
    want = {(r.k, r.n, r.total) for r in plain.collect()}
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=20,
    )
)
def test_connected_components_matches_union_find(spark, raw_edges):
    from i2mapreduce_spark.operators.algorithms import connected_components

    sym = list({(a, b) for a, b in raw_edges} | {(b, a) for a, b in raw_edges})
    edges = spark.createDataFrame(sym, "src long, dst long")
    got = {
        (r.node, r.label) for r in connected_components(edges, iters=16).collect()
    }

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in sym:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in parent}
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(1, 50)),
        min_size=1,
        max_size=20,
    ),
    st.sets(st.integers(0, 19)),
)
def test_fold_delta_ops_equals_from_scratch(spark, inserts, delete_idx):
    """Signed (K,V,±) folding: insert everything, retract a random
    subset — the state must equal a from-scratch aggregate over the
    survivors, and fully-retracted keys must vanish."""
    from i2mapreduce_spark.streaming.incremental import fold_delta_ops

    rows = [(i, k, v) for i, (k, v) in enumerate(inserts)]
    df = spark.createDataFrame(rows, "id int, k int, v long")
    dels = df.filter(F.col("id").isin([i for i in delete_idx if i < len(rows)]))
    state = fold_delta_ops(
        None, df.withColumn("op", F.lit("+")), ["k"], {"total": "v"}, count_col="n"
    ).localCheckpoint(eager=True)
    state = fold_delta_ops(
        state, dels.withColumn("op", F.lit("-")), ["k"], {"total": "v"}, count_col="n"
    )
    got = {(r.k, r.n, r.total) for r in state.collect()}
    surviving = [
        (k, v) for i, (k, v) in enumerate(inserts) if i not in delete_idx
    ]
    agg = {}
    for k, v in surviving:
        n, t = agg.get(k, (0, 0))
        agg[k] = (n + 1, t + v)
    want = {(k, n, t) for k, (n, t) in agg.items()}
    assert got == want


#: positive integer cents series for the fixed-point EMA fold
cents_strategy = st.lists(st.integers(1, 10**12), min_size=2, max_size=40)


@given(xs=cents_strategy)
@settings(**SETTINGS)
def test_fixed_point_ema_fold_is_engine_identical(spark, xs):
    """The half-up integer EMA fold (r6b_ops._ema_fix) must produce the
    SAME integer in Spark `aggregate`, DuckDB `list_reduce`, and a pure
    python loop — on arbitrary magnitudes, not just fixture data.  This
    is the foundation under window_macd and window_keltner; a drift of
    even 1 here would flap their hashes."""
    import duckdb

    from i2mapreduce_spark.queries.windows_q import MACD_FAST, _ema_fix

    span = MACD_FAST
    acc = xs[0]
    for x in xs[1:]:
        acc = (2 * (2 * x + (span - 1) * acc) + (span + 1)) // (
            2 * (span + 1)
        )
    lit = "array(" + ", ".join(f"{x}L" for x in xs) + ")"
    got_spark = spark.sql(
        f"SELECT {_ema_fix('xs', span, 'spark')} AS v FROM "
        f"(SELECT {lit} AS xs)"
    ).collect()[0]["v"]
    # BIGINT elements, as every production oracle feeds the fold (a bare
    # python-list literal types small values INT32, and the fold's
    # 2*(2x + (s-1)acc) intermediate overflows INT32 — hypothesis found
    # the harness mismatch with xs=[1, 536870904])
    dlit = "[" + ", ".join(f"CAST({x} AS BIGINT)" for x in xs) + "]"
    got_duck = duckdb.sql(
        f"SELECT {_ema_fix('xs', span, 'duckdb')} AS v FROM "
        f"(SELECT {dlit} AS xs)"
    ).fetchone()[0]
    assert got_spark == got_duck == acc

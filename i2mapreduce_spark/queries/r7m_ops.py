"""Round-6 additions, batch 39: a geometric-mean UDAF (Arrow grouped
agg with an order-pinned log fold), distributed QUICKSELECT (exact k-th
element WITHOUT ranking or sorting the table — the selection algorithm
as a physical plan), BPE merge APPLICATION (the tokenize side of
text_bpe_merge_pairs, greedy non-overlapping), and the delete-d
jackknife standard error (the resampling family's second member next
to the Poisson bootstrap).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load_tables
from ..plans.iterate import checkpoint_without_stats

#: quickselect: which order statistic (fraction per-mille) and caps
QS_PM = 500          # the median
QS_SAMPLE = 101      # pivot sample size per round
QS_MAX_ROUNDS = 24  # safety cap: raises when exhausted

#: BPE apply: number of merge rules
BPE_MERGES = 20

#: jackknife buckets
JK_B = 20


def q_udaf_geometric_mean(spark, sf_dir):
    """Geometric mean per priority as a PANDAS (Arrow) GROUPED-AGG UDAF
    — the custom-aggregate extension point, exercised with the mean
    that plain SQL lacks.  Cross-engine determinism: the UDAF sorts the
    group's values and folds log() SEQUENTIALLY (a numpy .sum would
    pairwise-reduce in a different order than any SQL fold), and python
    and DuckDB share the platform libm, so the oracle's ordered
    list_reduce of ln() reproduces the identical double stream."""
    import math

    import pandas as pd

    load_tables(spark, sf_dir)

    def gmean(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = 0.0
        vals = sorted(float(t) for t in pdf["v"])
        for x in vals:
            acc += math.log(x)
        return pd.DataFrame(
            {
                "o_orderpriority": [pdf["o_orderpriority"].iloc[0]],
                "n": [len(vals)],
                "geometric_mean": [round(math.exp(acc / len(vals)), 6)],
            }
        )

    o = spark.table("orders").select(
        "o_orderpriority", F.col("o_totalprice").cast("double").alias("v")
    )
    return o.groupBy("o_orderpriority").applyInPandas(
        gmean,
        schema="o_orderpriority string, n long, geometric_mean double",
    )


def q_sort_quickselect_kth(spark, sf_dir):
    """Distributed QUICKSELECT: the exact median order value found by
    iterative pivot partitioning — each round samples a bounded
    md5-ordered pivot set, takes its python median as the pivot, counts
    the three-way split with ONE aggregate, and recurses into the side
    holding rank k.  No global sort, no total rank: the surviving
    partition shrinks geometrically, so at 100 TB this is O(rounds)
    scans of ever-smaller slices where a rank-based median would
    shuffle everything once (global_row_number keys do that; this key
    is the SELECTION alternative).  Deterministic: pivots come from the
    md5 order, and the oracle is the plain row_number k-th element."""
    load_tables(spark, sf_dir)
    # complete-case: unpriced orders have no value to select (and a NULL
    # pivot sample would break the three-way split) — both sides rank
    # only priced orders
    o = spark.table("orders").filter(F.col("o_totalprice").isNotNull()).select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c"),
        "o_orderkey",
    )
    n = o.count()
    k = (QS_PM * n + 999) // 1000  # ceil, 1-based rank
    if n == 0:
        # empty input: rank k=0 selects nothing; the oracle's scalar
        # subquery over the empty ranked set is NULL — match it
        return spark.createDataFrame(
            [(0, 0, None)], "n long, k long, kth_value double"
        )
    cur = o
    for _ in range(QS_MAX_ROUNDS):
        sample = [
            r["c"]
            for r in cur.orderBy(
                F.md5(F.col("o_orderkey").cast("string"))
            )
            .limit(QS_SAMPLE)
            .collect()
        ]
        sample.sort()
        pivot = sample[len(sample) // 2]
        split = cur.agg(
            F.sum((F.col("c") < pivot).cast("long")).alias("lt"),
            F.sum((F.col("c") == pivot).cast("long")).alias("eq"),
        ).collect()[0]
        lt, eq = split["lt"] or 0, split["eq"] or 0
        if k <= lt:
            cur = cur.filter(F.col("c") < pivot).transform(checkpoint_without_stats)
        elif k <= lt + eq:
            kth = pivot
            break
        else:
            cur = cur.filter(F.col("c") > pivot).transform(checkpoint_without_stats)
            k -= lt + eq
    else:
        raise RuntimeError(
            f"sort_quickselect_kth: QS_MAX_ROUNDS={QS_MAX_ROUNDS} exhausted "
            "before the pivot landed on rank k"
        )
    return spark.createDataFrame(
        [(n, (QS_PM * n + 999) // 1000, kth / 100.0)],
        "n long, k long, kth_value double",
    )


def q_text_bpe_apply(spark, sf_dir):
    """APPLY the learned BPE merges: take the corpus's top-20 word
    bigrams (the text_bpe_merge_pairs vocabulary) and greedily merge
    NON-OVERLAPPING occurrences left-to-right in every document — the
    tokenizer-application pass, reporting each doc's token count before
    and after and the compression per-mille.

    The greedy count is PURELY RELATIONAL: a maximal run of L
    consecutive matching bigrams yields exactly ceil(L/2) greedy
    merges, so runs come from the classic (position - rank) gaps-and-
    islands grouping and the count is an integer sum — no fold at all.
    (A list_reduce formulation measurably returned DIFFERENT values
    under DuckDB 1.0's batched execution than under row-filtered
    execution; folds with CASE accumulators are not batch-safe there.)"""
    load_tables(spark, sf_dir)
    from pyspark.sql import Window

    d = spark.table("documents")
    big = (
        d.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(text, ' ')) - 1), "
                    "i -> concat_ws(' ', slice(split(text, ' '), i, 2)))"
                )
            ).alias("p")
        )
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    merges = (
        big.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.col("c").desc(), "p")),
        )
        .filter(F.col("rk") <= BPE_MERGES)
        .groupBy()
        .agg(F.array_sort(F.collect_list("p")).alias("m"))
    )
    j = d.crossJoin(F.broadcast(merges))
    sizes = j.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    hits = j.select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(transform(sequence(1, size(split(text, ' ')) - 1), "
                "i -> CASE WHEN array_contains(m, "
                "concat_ws(' ', slice(split(text, ' '), i, 2))) "
                "THEN i ELSE -1 END), p -> p > 0)"
            )
        ).alias("i"),
    )
    wd = Window.partitionBy("doc_id").orderBy("i")
    runs = (
        hits.withColumn("rn", F.row_number().over(wd))
        .groupBy("doc_id", (F.col("i") - F.col("rn")).alias("grp"))
        .agg(F.count(F.lit(1)).alias("len"))
    )
    merged = runs.groupBy("doc_id").agg(
        F.sum(F.expr("(len + 1) div 2")).alias("n_merges")
    )
    return (
        sizes.join(merged, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_merges", F.lit(0)).alias("n_merges"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_merges",
            (F.col("n_tokens") - F.col("n_merges")).alias("tokens_after"),
            F.expr(
                "(2 * 1000 * (n_tokens - n_merges) + n_tokens) "
                "div (2 * n_tokens)"
            ).alias("kept_pm"),
        )
    )


def q_agg_jackknife_se(spark, sf_dir):
    """Delete-d JACKKNIFE standard error of mean order value over 20
    md5-hash buckets: each leave-one-bucket-out mean is an exact
    rational of integer totals, QUANTIZED to half-up x10^6 before the
    20-value variance (quantize-then-moment, the r6 discipline), so the
    SE is one fixed-shape double of exact integers — the resampling
    companion to agg_bootstrap_ci with deterministic group assignment
    instead of deterministic weights."""
    load_tables(spark, sf_dir)
    o = spark.table("orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c"),
        (
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4),
                16,
                10,
            ).cast("long")
            % JK_B
        ).alias("b"),
    )
    per = o.groupBy("b").agg(
        F.count(F.lit(1)).alias("nb"), F.sum("c").alias("tb")
    )
    tot = per.agg(
        F.sum("nb").alias("n"), F.sum("tb").alias("t")
    )
    # r10 extreme-magnitude sweep: the x1e6 leave-one-out means pass
    # 1e19 (so the product AND the div's long result overflow int64),
    # and their SQUARES pass even DECIMAL(38)/HUGEINT.  Variance is
    # translation-invariant, so each m6 is centered on the exact global
    # floor-mean K = (1e6*t) div n before the moments — deviations
    # carry the spread, not the magnitude, and their squares stay well
    # inside 38 digits at any cent scale.  All divides use the exact
    # (N - N % D) / D floor spelling (Spark `div` returns long).
    m6 = per.crossJoin(F.broadcast(tot)).select(
        # zero-remainder guard matches DuckDB (x // 0 is NULL): a block
        # holding EVERY row leaves no leave-one-out sample
        F.expr(
            "CASE WHEN n = nb THEN CAST(NULL AS DECIMAL(38,0)) "
            "ELSE CAST("
            "((2 * 1000000 * CAST(t - tb AS DECIMAL(38,0)) + (n - nb)) "
            " - (2 * 1000000 * CAST(t - tb AS DECIMAL(38,0)) + (n - nb)) "
            "   % (2 * (n - nb))) / (2 * (n - nb)) AS DECIMAL(38,0)) END"
        ).alias("m6"),
        F.expr(
            "CAST((1000000 * CAST(t AS DECIMAL(38,0)) "
            " - (1000000 * CAST(t AS DECIMAL(38,0))) % n) / n AS DECIMAL(38,0))"
        ).alias("k0"),
    )
    a = m6.agg(
        F.count(F.lit(1)).alias("bk"),
        F.sum(F.col("m6") - F.col("k0")).alias("s1"),
        F.sum((F.col("m6") - F.col("k0")) * (F.col("m6") - F.col("k0"))).alias("s2"),
    )
    var = (
        (
            F.col("bk").cast("double") * F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double")
        )
        / (F.col("bk").cast("double") * F.col("bk").cast("double"))
    )
    se = F.sqrt((F.col("bk") - 1.0) * var) / 1e6
    return a.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_orders"),
        F.col("bk").alias("n_buckets"),
        F.round(F.col("t").cast("double") / F.col("n") / 100.0, 6).alias(
            "mean_value"
        ),
        F.round(se / 100.0, 6).alias("jackknife_se"),
    )


QUERIES = {
    "udaf_geometric_mean": q_udaf_geometric_mean,
    "sort_quickselect_kth": q_sort_quickselect_kth,
    "text_bpe_apply": q_text_bpe_apply,
    "agg_jackknife_se": q_agg_jackknife_se,
}

ORACLES = {
    "udaf_geometric_mean": (
        "WITH v AS (SELECT o_orderpriority, "
        "CAST(o_totalprice AS DOUBLE) AS v FROM orders), "
        "g AS (SELECT o_orderpriority, count(*) AS n, "
        "list(v ORDER BY v) AS a FROM v GROUP BY 1) "
        "SELECT o_orderpriority, CAST(n AS BIGINT) AS n, "
        "round(exp(list_reduce(list_prepend(0.0, "
        "list_transform(a, x -> ln(x))), (acc, w) -> acc + w) / n), 6) "
        "AS geometric_mean FROM g"
    ),
    "sort_quickselect_kth": (
        "WITH o AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) "
        "* 100 AS BIGINT) AS c, o_orderkey FROM orders "
        "WHERE o_totalprice IS NOT NULL), "
        "n AS (SELECT count(*) AS n FROM o), "
        "r AS (SELECT c, row_number() OVER (ORDER BY c, o_orderkey) "
        "AS rk FROM o) "
        "SELECT CAST(n AS BIGINT) AS n, "
        f"CAST(({QS_PM} * n + 999) // 1000 AS BIGINT) AS k, "
        "(SELECT c FROM r, n "
        f"WHERE rk = ({QS_PM} * n + 999) // 1000) / 100.0 AS kth_value "
        "FROM n"
    ),
    "text_bpe_apply": (
        "WITH big AS (SELECT p, count(*) AS c FROM (SELECT "
        "array_to_string(ws[i:i+1], ' ') AS p FROM "
        "(SELECT string_split(text, ' ') AS ws FROM documents), "
        "unnest(range(1, len(ws))) AS t(i)) GROUP BY 1), "
        "mg AS (SELECT list(p ORDER BY p) AS m FROM (SELECT p, "
        "row_number() OVER (ORDER BY c DESC, p) AS rk FROM big) "
        f"WHERE rk <= {BPE_MERGES}), "
        "sizes AS (SELECT doc_id, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens "
        "FROM documents), "
        "hits AS (SELECT doc_id, CAST(i AS BIGINT) AS i FROM "
        "(SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
        "mg, unnest(range(1, len(ws))) AS t(i) "
        "WHERE list_contains(m, array_to_string(ws[i:i+1], ' '))), "
        "runs AS (SELECT doc_id, i - row_number() OVER "
        "(PARTITION BY doc_id ORDER BY i) AS grp, count(*) OVER () AS _x, "
        "i FROM hits), "
        "rl AS (SELECT doc_id, grp, count(*) AS len FROM runs "
        "GROUP BY 1, 2), "
        "mg2 AS (SELECT doc_id, CAST(sum((len + 1) // 2) AS BIGINT) "
        "AS n_merges FROM rl GROUP BY 1) "
        "SELECT s.doc_id, n_tokens, "
        "CAST(coalesce(n_merges, 0) AS BIGINT) AS n_merges, "
        "CAST(n_tokens - coalesce(n_merges, 0) AS BIGINT) AS tokens_after, "
        "CAST((2 * 1000 * (n_tokens - coalesce(n_merges, 0)) + n_tokens) "
        "// (2 * n_tokens) AS BIGINT) AS kept_pm "
        "FROM sizes s LEFT JOIN mg2 ON s.doc_id = mg2.doc_id"
    ),
    "agg_jackknife_se": (
        "WITH o AS (SELECT "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c, "
        "('0x' || substr(md5(o_orderkey::VARCHAR), 1, 4))::BIGINT "
        f"% {JK_B} AS b FROM orders), "
        "per AS (SELECT b, count(*) AS nb, sum(c) AS tb FROM o "
        "GROUP BY 1), "
        "tot AS (SELECT sum(nb) AS n, sum(tb) AS t FROM per), "
        "m6 AS (SELECT (2 * 1000000 * (t - tb)::HUGEINT + (n - nb)) "
        "// (2 * (n - nb)) AS m6, "
        "(1000000 * t::HUGEINT) // n AS k0 FROM per, tot), "
        "a AS (SELECT count(*) AS bk, sum(m6 - k0) AS s1, "
        "sum((m6 - k0) * (m6 - k0)) AS s2 FROM m6) "
        "SELECT CAST(n AS BIGINT) AS n_orders, "
        "CAST(bk AS BIGINT) AS n_buckets, "
        "round(CAST(t AS DOUBLE) / n / 100.0, 6) AS mean_value, "
        "round(sqrt((bk - 1.0) * ((CAST(bk AS DOUBLE) "
        "* CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) "
        "* CAST(s1 AS DOUBLE)) / (CAST(bk AS DOUBLE) "
        "* CAST(bk AS DOUBLE)))) / 1e6 / 100.0, 6) AS jackknife_se "
        "FROM a, tot"
    ),
}

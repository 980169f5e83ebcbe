"""Group L (cont.) — corpus-construction pipeline operators (round 3):
benchmark decontamination, leakage-safe train/val/test splitting, domain
mixture weighting, and Gopher-style repetition signals.

These are the controls a production training-data build runs between
"raw corpus" and "training mix": remove eval-set contamination, split at
the near-duplicate-cluster level so no eval document has a train-set
twin, compute per-domain sampling weights toward a target mixture, and
flag template/spam repetition.  All are hash-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..catalog import load_tables
from ..operators import algorithms, dedup

#: benchmark membership: ~6% of docs, deterministic (doc_id % 17 == 0)
DECON_BENCH_MOD = 17
#: n-gram size for contamination overlap (5-grams: only true near-dups
#: of benchmark docs collide; 3-grams over this vocab hit 80% of docs)
DECON_NGRAM = 5
#: near-dup threshold reused for cluster-level splitting
SPLIT_JACCARD = 0.5
#: split fractions out of 100 hash buckets: train <96, val 96-97, test 98-99
SPLIT_VAL_LO = 96
SPLIT_TEST_LO = 98

def _md5_bucket(col, n: int):
    """Deterministic cross-engine hash bucket: 16-bit slice of md5 mod n.
    Spark twin of :func:`_md5_bucket_sql` — change BOTH together (the
    leakage-safe split and the shard assigner both key layout on this)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 29, 4), 16, 10)
        .cast("long") % n
    )


def _md5_bucket_sql(expr: str, n: int) -> str:
    """DuckDB twin of :func:`_md5_bucket` (same slice, same modulus)."""
    return f"('0x' || substr(md5({expr}::VARCHAR), 29, 4))::BIGINT % {n}"


_TOK5_CTE = (
    "tok AS (SELECT doc_id, lang, "
    "unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w, "
    "generate_subscripts(list_filter(string_split(text, ' '), x -> x <> ''), 1) AS p "
    "FROM documents)"
)
_SHINGLE5_CTE = (
    "sh AS (SELECT DISTINCT a.doc_id, "
    "a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w || ' ' || e.w AS shingle "
    "FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.p = a.p + 1 "
    "JOIN tok c ON a.doc_id = c.doc_id AND c.p = a.p + 2 "
    "JOIN tok d ON a.doc_id = d.doc_id AND d.p = a.p + 3 "
    "JOIN tok e ON a.doc_id = e.doc_id AND e.p = a.p + 4)"
)


def q_pipeline_decontaminate(spark, sf_dir):
    """Benchmark decontamination: a training document is CONTAMINATED if
    it shares any 5-token shingle with the benchmark set (docs with
    doc_id % 17 == 0 stand in for the eval suite).  Output: per-language
    audit — total docs, benchmark docs, contaminated, clean survivors.

    Plan: one shingle explode feeds both sides; the benchmark side is a
    filter of it (computed once, tiny — 6% of docs), so the overlap join
    broadcasts the benchmark shingle set.  At 100 TB the eval suite is
    KBs–MBs of shingles against TBs of corpus: the canonical broadcast
    semi-join; nothing quadratic, nothing driver-side."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    sh = dedup.shingles(d, n=DECON_NGRAM)
    bench_sh = sh.filter(F.col("doc_id") % DECON_BENCH_MOD == 0).select("shingle").distinct()
    contaminated = (
        sh.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
        .join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    flagged = d.join(contaminated.withColumn("bad", F.lit(1)), "doc_id", "left")
    is_bench = (F.col("doc_id") % DECON_BENCH_MOD == 0).cast("int")
    is_contam = ((F.col("doc_id") % DECON_BENCH_MOD != 0) & F.col("bad").isNotNull()).cast("int")
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum(is_bench).alias("n_benchmark"),
        F.sum(is_contam).alias("n_contaminated"),
        F.sum(1 - is_bench - is_contam).alias("n_clean"),
    )


def q_pipeline_split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/val/test split: split assignment is made per
    NEAR-DUPLICATE CLUSTER, not per document, so a val/test doc can never
    have a train-set near-twin (the classic eval-leak).  Clusters =
    connected components over exact-Jaccard >= 0.5 pairs; singletons are
    their own cluster.  Bucket = 16-bit slice of md5(cluster_rep) mod 100
    -> train < 96, val 96-97, test 98-99.  Output: (split, lang, n_docs).

    Plan: the pair graph is sparse (near-dups are rare), so the CC runs
    on a tiny edge set; the split hash is a pure expression; the join
    back to documents is a plain equi-join with NO broadcast hint — on a
    real web crawl 30-50% of docs sit in a near-dup cluster, so the
    label table is corpus-sized and a forced broadcast would OOM the
    build side.  AQE still picks a broadcast at small scale on its own."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    pairs = dedup.jaccard_pairs(dedup.shingles(d, n=3), SPLIT_JACCARD)
    edges = pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst")).unionAll(
        pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst"))
    )
    labels = algorithms.connected_components(edges)  # (node, label)
    with_cluster = d.join(
        labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).withColumn("cluster", F.coalesce(F.col("label"), F.col("doc_id")))
    bucket = _md5_bucket(F.col("cluster"), 100)
    split = (
        F.when(bucket < SPLIT_VAL_LO, "train")
        .when(bucket < SPLIT_TEST_LO, "val")
        .otherwise("test")
    )
    return (
        with_cluster.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


def q_pipeline_mixture_weights(spark, sf_dir):
    """Domain-mixture sampling weights: given the corpus's actual
    language shares, the per-language sampling weight that would produce
    a UNIFORM language mixture (weight = target_share / actual_share).
    The exact computation behind "upsample low-resource languages to X%"
    in a training-mix config.  Output: (lang, n_docs, share, weight).

    Plan: one aggregation, then two global-window scalars over the
    5-row aggregate (post-agg, so the single-partition window is free)."""
    load_tables(spark, sf_dir)
    counts = spark.table("documents").groupBy("lang").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy()
    share = F.col("n_docs") / F.sum("n_docs").over(w)
    target = F.lit(1.0) / F.count("*").over(w)
    return counts.select(
        "lang",
        "n_docs",
        F.round(share, 6).alias("share"),
        F.round(target / share, 6).alias("weight"),
    )


def q_text_repetition_ratio(spark, sf_dir):
    """Gopher-style repetition signals per document: top-word fraction
    (count of the most frequent word / total tokens) and duplicate-
    trigram fraction (trigram positions whose trigram occurs more than
    once in the doc / total trigram positions).  High values mark
    template/spam/keyword-stuffed docs that repetition filters drop.

    Plan: one token explode feeds the word counts; the trigram stream is
    two leads over the same explode (no self-join); both aggregate per
    doc_id — shuffle is O(tokens), all JVM-side."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    pos = d.select("doc_id", F.posexplode(toks).alias("p", "w"))
    wc = pos.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    top = wc.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_tokens")
    )
    wseq = Window.partitionBy("doc_id").orderBy("p")
    tri = pos.select(
        "doc_id",
        F.concat_ws(
            " ", "w", F.lead("w", 1).over(wseq), F.lead("w", 2).over(wseq)
        ).alias("tg"),
        F.lead("w", 2).over(wseq).alias("_ok"),
    ).filter(F.col("_ok").isNotNull())
    tc = tri.groupBy("doc_id", "tg").agg(F.count("*").alias("c"))
    dup = tc.groupBy("doc_id").agg(
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("n_dup"),
        F.sum("c").alias("n_tri"),
    )
    return (
        top.join(dup, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("top_c").cast("double") / F.col("n_tokens"), 4).alias(
                "top_word_frac"
            ),
            F.round(F.col("n_dup").cast("double") / F.col("n_tri"), 4).alias(
                "dup_trigram_frac"
            ),
        )
    )


#: context-window token budget for sequence packing
PACK_BUDGET = 512


def q_pipeline_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing: per source, documents are concatenated
    in doc_id order into one token stream and split into fixed
    512-token context windows; each document is assigned to the bin
    where its first token lands.  Output: per (source, bin) — docs
    packed, tokens packed, and the doc_id span.  This is the exact
    "concat-and-chunk" packing a pretraining tokenizer shard runs.

    Plan: token counts are a native expression; the running offset is a
    cumulative window PER SOURCE (hash-partitioned — each source packs
    independently and in parallel, which is also how shards pack at
    100 TB: the stream is only ordered within a shard).  Integer
    arithmetic end-to-end, so the hash check is exact."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = d.select("source", "doc_id", n_tok.alias("n_tok"))
    binned = toks.withColumn(
        "bin",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / PACK_BUDGET).cast("bigint"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def q_pipeline_dataset_card(spark, sf_dir):
    """Dataset-card statistics — the one-row summary a corpus release
    publishes: document/token/vocabulary counts, language-distribution
    entropy (bits), exact-duplicate rate, and mean document length.
    One fused DAG over a single explode of the corpus plus two cheap
    per-document aggregates; every number is exact, so the row
    hash-checks.

    Plan: token stats ride one explode; the dup rate is a count of
    distinct md5s (16-byte keys shuffle, never bodies); the language
    entropy is arithmetic over a 5-row aggregate."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    toks = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("w"),
    )
    tok_stats = toks.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("w").alias("vocab_size"),
    )
    doc_stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
        F.round(F.avg(F.length("text")), 2).alias("mean_chars"),
    )
    lang_n = d.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    tot = Window.partitionBy()
    p = F.col("c") / F.sum("c").over(tot)
    lang_entropy = (
        lang_n.select((-p * F.log2(p)).alias("t"))
        .agg(F.round(F.sum("t"), 6).alias("lang_entropy_bits"))
    )
    return (
        doc_stats.crossJoin(tok_stats)
        .crossJoin(lang_entropy)
        .select(
            "n_docs",
            "n_tokens",
            "vocab_size",
            # try_divide: the dup rate of an EMPTY corpus is undefined —
            # NULL on both engines (DuckDB x/0 is NULL; ANSI / would throw)
            F.round(
                1 - F.try_divide("n_unique_texts", "n_docs"), 6
            ).alias("exact_dup_rate"),
            "mean_chars",
            "lang_entropy_bits",
        )
    )


#: output shards for deterministic corpus sharding
N_SHARDS = 16


def q_pipeline_shard_assign(spark, sf_dir):
    """Deterministic corpus sharding — the step that splits a curated
    corpus into N fixed output shards for parallel tokenization, with
    the balance audit that decides whether the hash key is good enough:
    shard = 16-bit md5 slice of doc_id mod 16 (content-independent, so
    re-runs and incremental additions land docs in the same shard).
    Output per shard: docs, tokens, and each shard's token share in
    permille — the skew a tokenizer fleet actually cares about.

    100 TB: the shard id is one map-side expression; the audit is a
    16-group aggregate.  The real write is `.partitionBy(shard)` with
    exactly this expression — the audit and the layout share the key."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    shard = _md5_bucket(F.col("doc_id"), N_SHARDS)
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    per = (
        d.select(shard.alias("shard"), n_tok.alias("n_tok"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    tot = Window.partitionBy()  # 16-row post-agg window — free
    return per.select(
        "shard",
        "n_docs",
        "n_tokens",
        F.round(F.lit(1000.0) * F.col("n_tokens") / F.sum("n_tokens").over(tot), 3)
        .alias("token_permille"),
    )


#: quality-gate thresholds (chosen for non-degenerate attrition on the
#: fixture distribution: chars 48-553, tokens 10-99, TTR 0.28-1.0)
GATE_MIN_CHARS = 150
GATE_MIN_TOKENS = 25
GATE_LANGS = ("en", "fr", "de", "es")   # drops zh in the fixture
GATE_MIN_TTR = 0.35


def q_pipeline_quality_gate(spark, sf_dir):
    """Curation-funnel attrition audit — the report every corpus build
    publishes next to its filters: documents flow through a FIXED gate
    order (min chars -> min tokens -> allowed language -> min type/token
    ratio) and each stage reports how many survive ALL gates so far and
    how many it drops.  The numbers make filter regressions visible (a
    tokenizer change that silently halves stage-2 survivors) and are the
    provenance a dataset card cites.

    Plan: one token explode feeds both the count and the distinct count;
    flags are pure expressions; the funnel is a 5-row aggregate of flag
    conjunctions — one pass, no per-stage rescans.  The stats join is a
    LEFT join with token counts coalesced to 0: an empty/whitespace-only
    document produces no token rows, and an inner join would silently
    exclude it from the stage-0 input count — the exact degenerate doc
    the funnel exists to count as dropped."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    toks = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("w"),
    )
    stats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.countDistinct("w").alias("n_uniq"),
    )
    n_tok0 = F.coalesce(F.col("n_tok"), F.lit(0))
    n_uniq0 = F.coalesce(F.col("n_uniq"), F.lit(0))
    flagged = d.join(stats, "doc_id", "left").select(
        (F.col("n_chars") >= GATE_MIN_CHARS).cast("int").alias("f1"),
        (n_tok0 >= GATE_MIN_TOKENS).cast("int").alias("f2"),
        F.col("lang").isin(*GATE_LANGS).cast("int").alias("f3"),
        F.when(n_tok0 > 0, (n_uniq0 / n_tok0 >= GATE_MIN_TTR).cast("int"))
        .otherwise(F.lit(0))
        .alias("f4"),
    )
    p1 = F.col("f1")
    p2 = p1 * F.col("f2")
    p3 = p2 * F.col("f3")
    p4 = p3 * F.col("f4")
    agg = flagged.agg(
        F.count(F.lit(1)).alias("s0"),
        F.sum(p1).alias("s1"),
        F.sum(p2).alias("s2"),
        F.sum(p3).alias("s3"),
        F.sum(p4).alias("s4"),
    )
    stages = F.array(
        F.struct(F.lit(0).alias("stage"), F.lit("input").alias("gate"),
                 F.col("s0").alias("n_pass"), (F.col("s0") - F.col("s0")).alias("n_dropped")),
        F.struct(F.lit(1).alias("stage"), F.lit("min_chars").alias("gate"),
                 F.col("s1").alias("n_pass"), (F.col("s0") - F.col("s1")).alias("n_dropped")),
        F.struct(F.lit(2).alias("stage"), F.lit("min_tokens").alias("gate"),
                 F.col("s2").alias("n_pass"), (F.col("s1") - F.col("s2")).alias("n_dropped")),
        F.struct(F.lit(3).alias("stage"), F.lit("lang_allowed").alias("gate"),
                 F.col("s3").alias("n_pass"), (F.col("s2") - F.col("s3")).alias("n_dropped")),
        F.struct(F.lit(4).alias("stage"), F.lit("min_ttr").alias("gate"),
                 F.col("s4").alias("n_pass"), (F.col("s3") - F.col("s4")).alias("n_dropped")),
    )
    return agg.select(F.explode(stages).alias("s")).select(
        "s.stage", "s.gate", "s.n_pass", "s.n_dropped"
    )


N_EPOCHS = 2


def q_pipeline_epoch_shuffle(spark, sf_dir):
    """Per-epoch deterministic training-order shuffle — every LLM run
    needs a different document order each epoch, reproducible from the
    (epoch, doc_id) pair alone so any worker can recompute its slice:
    position = rank of md5(epoch:doc_id) within the epoch.

    Plan: the permutation is a TOTAL-ORDER rank, computed with the
    TeraSort-style distributed ranker (per-partition counts + offset
    map — no single-partition window).  Epoch is the leading sort key
    and epochs are equal-sized, so the in-epoch position falls out of
    the global rank by subtraction — one ranked pass covers every epoch
    at once."""
    load_tables(spark, sf_dir)
    from ..operators import ranking

    d = spark.table("documents").select("doc_id")
    n_docs = d.count()
    epochs = d.crossJoin(
        spark.range(N_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    ).withColumn(
        "h", F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id")))
    )
    ranked = ranking.global_row_number(
        epochs, ["epoch", "h", "doc_id"], out_col="g"
    )
    return ranked.select(
        "epoch",
        "doc_id",
        (F.col("g") - F.col("epoch").cast("long") * n_docs).alias("position"),
    )


QUERIES = {
    "pipeline_epoch_shuffle": q_pipeline_epoch_shuffle,
    "pipeline_quality_gate": q_pipeline_quality_gate,
    "pipeline_shard_assign": q_pipeline_shard_assign,
    "pipeline_dataset_card": q_pipeline_dataset_card,
    "pipeline_pack_sequences": q_pipeline_pack_sequences,
    "pipeline_decontaminate": q_pipeline_decontaminate,
    "pipeline_split_leakage_safe": q_pipeline_split_leakage_safe,
    "pipeline_mixture_weights": q_pipeline_mixture_weights,
    "text_repetition_ratio": q_text_repetition_ratio,
}

ORACLES = {
    "pipeline_epoch_shuffle": (
        "WITH ep AS (SELECT epoch, doc_id, "
        "md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h "
        "FROM documents, (SELECT 0 AS epoch"
        + "".join(f" UNION ALL SELECT {i}" for i in range(1, N_EPOCHS))
        + ") e) "
        "SELECT epoch, doc_id, "
        "row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) "
        "AS position FROM ep"
    ),
    "pipeline_quality_gate": (
        "WITH tok AS (SELECT doc_id, "
        "unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w "
        "FROM documents), "
        "st AS (SELECT doc_id, count(*) AS n_tok, "
        "count(DISTINCT w) AS n_uniq FROM tok GROUP BY doc_id), "
        "fl AS (SELECT "
        f"CASE WHEN d.n_chars >= {GATE_MIN_CHARS} THEN 1 ELSE 0 END AS f1, "
        f"CASE WHEN coalesce(st.n_tok, 0) >= {GATE_MIN_TOKENS} THEN 1 ELSE 0 END AS f2, "
        "CASE WHEN d.lang IN ('en', 'fr', 'de', 'es') THEN 1 ELSE 0 END AS f3, "
        "CASE WHEN coalesce(st.n_tok, 0) > 0 "
        f"AND CAST(st.n_uniq AS DOUBLE) / st.n_tok >= {GATE_MIN_TTR} "
        "THEN 1 ELSE 0 END AS f4 "
        "FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id), "
        "agg AS (SELECT count(*) AS s0, CAST(sum(f1) AS BIGINT) AS s1, "
        "CAST(sum(f1 * f2) AS BIGINT) AS s2, "
        "CAST(sum(f1 * f2 * f3) AS BIGINT) AS s3, "
        "CAST(sum(f1 * f2 * f3 * f4) AS BIGINT) AS s4 FROM fl) "
        "SELECT 0 AS stage, 'input' AS gate, s0 AS n_pass, s0 - s0 AS n_dropped FROM agg "
        "UNION ALL SELECT 1, 'min_chars', s1, s0 - s1 FROM agg "
        "UNION ALL SELECT 2, 'min_tokens', s2, s1 - s2 FROM agg "
        "UNION ALL SELECT 3, 'lang_allowed', s3, s2 - s3 FROM agg "
        "UNION ALL SELECT 4, 'min_ttr', s4, s3 - s4 FROM agg"
    ),
    "pipeline_shard_assign": (
        "WITH t AS (SELECT "
        f"{_md5_bucket_sql('doc_id', N_SHARDS)} AS shard, "
        "len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok "
        "FROM documents), "
        "per AS (SELECT shard, count(*) AS n_docs, "
        "CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM t GROUP BY shard) "
        "SELECT shard, n_docs, n_tokens, "
        "round(1000.0 * n_tokens / (SELECT sum(n_tokens) FROM per), 3) "
        "AS token_permille FROM per"
    ),
    "pipeline_dataset_card": (
        "WITH tok AS (SELECT doc_id, "
        "unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w "
        "FROM documents), "
        "ts AS (SELECT count(*) AS n_tokens, count(DISTINCT w) AS vocab_size FROM tok), "
        "ds AS (SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS nu, "
        "round(avg(length(text)), 2) AS mean_chars FROM documents), "
        "ln AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang), "
        "le AS (SELECT round(sum(-(CAST(c AS DOUBLE) / t) * log2(CAST(c AS DOUBLE) / t)), 6) "
        "AS lang_entropy_bits FROM ln, (SELECT sum(c) AS t FROM ln)) "
        "SELECT n_docs, n_tokens, vocab_size, "
        "round(1 - CAST(nu AS DOUBLE) / n_docs, 6) AS exact_dup_rate, "
        "mean_chars, lang_entropy_bits FROM ds, ts, le"
    ),
    "pipeline_pack_sequences": (
        "WITH t AS (SELECT source, doc_id, "
        "len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok "
        "FROM documents), "
        "b AS (SELECT source, doc_id, n_tok, "
        "CAST(floor(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / {PACK_BUDGET}.0) "
        "AS BIGINT) AS bin FROM t) "
        "SELECT source, bin, count(*) AS n_docs, "
        "CAST(sum(n_tok) AS BIGINT) AS n_tokens, "
        "min(doc_id) AS first_doc, max(doc_id) AS last_doc "
        "FROM b GROUP BY source, bin"
    ),
    "pipeline_decontaminate": (
        f"WITH {_TOK5_CTE}, {_SHINGLE5_CTE}, "
        f"bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {DECON_BENCH_MOD} = 0), "
        f"contam AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench b ON s.shingle = b.shingle "
        f"WHERE s.doc_id % {DECON_BENCH_MOD} <> 0) "
        "SELECT d.lang, count(*) AS n_total, "
        f"CAST(sum(CASE WHEN d.doc_id % {DECON_BENCH_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_benchmark, "
        "CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated, "
        f"CAST(sum(CASE WHEN d.doc_id % {DECON_BENCH_MOD} <> 0 AND c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean "
        "FROM documents d LEFT JOIN contam c ON d.doc_id = c.doc_id GROUP BY d.lang"
    ),
    "pipeline_split_leakage_safe": (
        "WITH RECURSIVE "
        "tok AS (SELECT doc_id, "
        "unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w, "
        "generate_subscripts(list_filter(string_split(text, ' '), x -> x <> ''), 1) AS p "
        "FROM documents), "
        "sh3 AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle "
        "FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.p = a.p + 1 "
        "JOIN tok c ON a.doc_id = c.doc_id AND c.p = a.p + 2), "
        "cnt AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i "
        "FROM sh3 a JOIN sh3 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
        "GROUP BY 1, 2), "
        "pairs AS (SELECT d1, d2 FROM inter "
        "JOIN cnt na ON d1 = na.doc_id JOIN cnt nb ON d2 = nb.doc_id "
        f"WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= {SPLIT_JACCARD}), "
        "edges AS (SELECT d1 AS src, d2 AS dst FROM pairs "
        "UNION ALL SELECT d2, d1 FROM pairs), "
        "nodes AS (SELECT DISTINCT src AS node FROM edges), "
        "walk(node, label) AS (SELECT node, node FROM nodes "
        "UNION SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node), "
        "lab AS (SELECT node, min(label) AS label FROM walk GROUP BY node), "
        "assign AS (SELECT d.doc_id, d.lang, "
        "coalesce(l.label, d.doc_id) AS cluster FROM documents d "
        "LEFT JOIN lab l ON d.doc_id = l.node), "
        "bucketed AS (SELECT lang, "
        f"{_md5_bucket_sql('cluster', 100)} AS b FROM assign) "
        f"SELECT CASE WHEN b < {SPLIT_VAL_LO} THEN 'train' "
        f"WHEN b < {SPLIT_TEST_LO} THEN 'val' ELSE 'test' END AS split, "
        "lang, count(*) AS n_docs FROM bucketed GROUP BY 1, 2"
    ),
    "pipeline_mixture_weights": (
        "WITH counts AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang), "
        "tot AS (SELECT sum(n_docs) AS t, count(*) AS k FROM counts) "
        "SELECT lang, n_docs, "
        "round(CAST(n_docs AS DOUBLE) / t, 6) AS share, "
        "round((1.0 / k) / (CAST(n_docs AS DOUBLE) / t), 6) AS weight "
        "FROM counts, tot"
    ),
    "text_repetition_ratio": (
        "WITH tok AS (SELECT doc_id, "
        "unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w, "
        "generate_subscripts(list_filter(string_split(text, ' '), x -> x <> ''), 1) AS p "
        "FROM documents), "
        "wc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w), "
        "top AS (SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_tokens FROM wc GROUP BY doc_id), "
        "tri AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS tg "
        "FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.p = a.p + 1 "
        "JOIN tok c ON a.doc_id = c.doc_id AND c.p = a.p + 2), "
        "tc AS (SELECT doc_id, tg, count(*) AS c FROM tri GROUP BY doc_id, tg), "
        "dup AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS n_dup, "
        "sum(c) AS n_tri FROM tc GROUP BY doc_id) "
        "SELECT t.doc_id, t.n_tokens, "
        "round(CAST(t.top_c AS DOUBLE) / t.n_tokens, 4) AS top_word_frac, "
        "round(CAST(d.n_dup AS DOUBLE) / d.n_tri, 4) AS dup_trigram_frac "
        "FROM top t JOIN dup d ON t.doc_id = d.doc_id"
    ),
}

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
from .aggregates import _md5_le, _md5_le_sql
from .quality import CKSUM_MOD

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


def q_pipeline_importance_sample(spark, sf_dir):
    """Deterministic importance sampling by a per-document acceptance
    probability (longer docs kept more often: p = min(n_chars, 1000)/
    1000) — the quality-weighted downsampling step of a corpus mixer,
    made engine-independent by the portable md5 coin: accept iff
    (md5_le16(doc_id) * 1000) < (p * 1000) * 65536, compared entirely in
    integers.  Unlike rand()-based sampling this is reproducible across
    engines, retries and repartitioning, and pushes down as a scan
    filter at 100 TB."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    coin = _md5_le(F.col("doc_id").cast("string"), 2)  # 0..65535
    p_millis = F.least(F.col("n_chars"), F.lit(1000))  # p * 1000
    return (
        d.filter(coin * 1000 < p_millis * 65536)
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# =================================================================
# Group L — curriculum staging + hapax profile
# =================================================================
CURR_STAGES = 4


def q_pipeline_curriculum(spark, sf_dir):
    """Curriculum staging: order the corpus by example difficulty
    (token count here — short to long, the standard length curriculum)
    and cut it into 4 equal-rank stages with the same integer quartile
    rule as decile lift; emit each stage's doc count, token mass and
    length range.  Ordering uses the distributed chunked-offset
    row_number — the corpus scales, the 4-row output does not."""
    from ..operators.ranking import global_row_number

    load_tables(spark, sf_dir)
    # complete-case: a missing document has no difficulty to rank (the
    # engines' default NULL sort orders differ) — excluded on both sides
    d = spark.table("documents").filter(F.col("text").isNotNull())
    toks = d.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda w: w != "")
        ).alias("tok_cnt"),
    )
    ranked = global_row_number(toks, ["tok_cnt", "doc_id"])
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    staged = ranked.crossJoin(F.broadcast(n)).select(
        F.expr(f"((i - 1) * {CURR_STAGES}) div n + 1").alias("stage"),
        "tok_cnt",
    )
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok_cnt").alias("total_tokens"),
        F.min("tok_cnt").alias("min_tokens"),
        F.max("tok_cnt").alias("max_tokens"),
    )


#: target-encoding smoothing pseudo-count (additive / Laplace-style):
#: enc(c) = (sum_c + m * global_mean) / (n_c + m) — an integer-exact
#: blend once revenues are cents and the global mean is a cents ratio
TE_SMOOTH_M = 20


def q_pipeline_target_encode(spark, sf_dir):
    """Smoothed target encoding of order priority against the
    late-shipment label — the categorical-feature transform used when
    one-hot is too wide: enc(c) = (positives_c + m·global_rate) /
    (n_c + m) with pseudo-count m=20, shrinking rare categories toward
    the global rate (the leak-control that makes target encoding safe).

    Exact arithmetic: label sums and counts are integers and the
    encoding is a TWO-STAGE half-up composition — first the global rate
    as a x10^6 integer (bounded ≤ 10^6), then
    (10^6·pos_c + m·rate_x1e6) div (n_c + m).  The single-rational form
    (N·pos_c + m·P)/(N·(n_c+m)) is algebraically cleaner but its
    numerator grows O(rows²) and leaves BIGINT near sf1 (review
    finding); the staged form's intermediates stay ≤ 10^6·rows.  Both
    engines evaluate the identical two stages, so the key is still
    hash-exact by construction.  Two aggs and one 1-row broadcast; the
    category spine is the priority enum (bounded at any SF)."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    o = spark.table("orders")
    lab = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.when(
            F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90), 1
        )
        .otherwise(0)
        .alias("late"),
    )
    per_cat = lab.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_c"),
        F.sum("late").alias("pos_c"),
    )
    glob = lab.agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("late").alias("pos_g")
    )
    return per_cat.crossJoin(F.broadcast(glob)).select(
        "o_orderpriority",
        "n_c",
        "pos_c",
        # stage 1: rate_x1e6 = half-up(1e6*pos_g/n_g)  (bounded <= 1e6)
        # stage 2: enc_x1e6 = half-up((1e6*pos_c + m*rate_x1e6)/(n_c+m))
        (
            F.expr(
                "(2 * (1000000 * pos_c + "
                f"{TE_SMOOTH_M} * ((2 * 1000000 * pos_g + n_g) div (2 * n_g)))"
                f" + (n_c + {TE_SMOOTH_M})) div (2 * (n_c + {TE_SMOOTH_M}))"
            )
            / 1000000.0
        ).alias("target_enc"),
        (
            F.expr("(2 * 1000000 * pos_g + n_g) div (2 * n_g)") / 1000000.0
        ).alias("global_rate"),
    )


def q_pipeline_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility table per (lang, source): docs, whitespace
    tokens, chars, tokens-per-1000-chars and mean chars-per-token — the
    budget telemetry that converts a corpus's bytes into a training
    token count (and flags languages whose tokenizer fragments text).
    One partial+final agg; all counts exact integers, ratios half-up
    fixed-point quotients of the group SUMS (never means of means)."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    per = d.select(
        "lang",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("toks"),
        F.col("n_chars").cast("long").alias("chars"),
    )
    g = per.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("tokens"),
        F.sum("chars").alias("chars"),
    )
    return g.select(
        "lang",
        "source",
        "n_docs",
        "tokens",
        "chars",
        F.expr("(2 * 1000 * tokens + chars) div (2 * chars)").alias(
            "toks_per_kchar"
        ),
        (
            F.expr("(2 * 1000 * chars + tokens) div (2 * tokens)") / 1000.0
        ).alias("chars_per_tok"),
    )


#: chunker geometry (words)
CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def q_pipeline_chunk_overlap(spark, sf_dir):
    """Overlapping sliding-window chunking — the RAG-ingestion splitter:
    each document becomes CHUNK_SIZE-word windows advancing by
    CHUNK_STRIDE (overlap = size - stride keeps sentences that straddle
    a boundary retrievable; dedup_paragraph's disjoint chunks cannot).
    Emits (doc_id, chunk_idx, start_word, n_words, chunk).  One
    generate + narrow maps, embarrassingly parallel over documents;
    chunk count is the closed form max(1, ceil((len-size)/stride)+1),
    evaluated with non-negative integer operands only."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    n_chunks = (
        f"CASE WHEN size(split(text, ' ')) <= {CHUNK_SIZE} THEN 1 "
        f"ELSE (size(split(text, ' ')) - {CHUNK_SIZE} + {CHUNK_STRIDE} - 1) "
        f"div {CHUNK_STRIDE} + 1 END"
    )
    ch = d.select(
        "doc_id",
        F.explode(F.expr(f"sequence(0, {n_chunks} - 1)")).alias("chunk_idx"),
        F.split("text", " ").alias("ws"),
    )
    return ch.select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * CHUNK_STRIDE + 1).alias("start_word"),
        F.expr(
            f"size(slice(ws, chunk_idx * {CHUNK_STRIDE} + 1, {CHUNK_SIZE}))"
        ).alias("n_words"),
        F.expr(
            f"concat_ws(' ', slice(ws, chunk_idx * {CHUNK_STRIDE} + 1, "
            f"{CHUNK_SIZE}))"
        ).alias("chunk"),
    )


#: token budget to allocate across documents.source groups
BUDGET_TOKENS = 100_000


def q_pipeline_token_budget(spark, sf_dir):
    """WATER-FILLING token-budget allocation across corpus sources: give
    every source an equal share of the training-token budget, but a
    source can't supply more than it has — its surplus redistributes
    among the rest (the classic max-min fair allocator; the scheduler
    that turns pipeline_mixture_weights into an executable plan).

    Closed form over the bounded source enum: sort sources by available
    tokens ascending, then alloc_i = min(avail_i, floor(remaining /
    sources_left)) with `remaining` folded over the prefix — evaluated
    per source as an O(k^2) ordered fold over ONE sorted array, all
    exact integers (the fold accumulator is a single BIGINT slot, safe
    under DuckDB's in-place fold)."""
    load_tables(spark, sf_dir)
    # complete-case: a missing document supplies no tokens to budget
    d = spark.table("documents").filter(F.col("text").isNotNull())
    per = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("avail")
    )
    from pyspark.sql import Window

    per = per.withColumn(
        "idx",
        F.row_number().over(Window.orderBy("avail", "source")).cast("long"),
    )
    packed = per.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("idx", "source", "avail"))).alias(
            "arr"
        ),
        F.count(F.lit(1)).alias("k"),
    )
    # spent before element idx: fold the allocation rule over the prefix
    spent = (
        "aggregate(slice(arr, 1, CAST(x.idx - 1 AS INT)), 0L, (acc, y) -> "
        f"acc + least(y.avail, ({BUDGET_TOKENS} - acc) div (k - y.idx + 1)))"
    )
    rows = packed.select("k", F.explode("arr").alias("x"), F.col("arr"))
    alloc = F.expr(
        f"least(x.avail, ({BUDGET_TOKENS} - {spent}) div (k - x.idx + 1))"
    )
    return rows.select(
        F.col("x")["source"].alias("source"),
        F.col("x")["avail"].alias("avail_tokens"),
        alloc.cast("long").alias("alloc_tokens"),
        (F.col("x")["avail"] <= alloc).alias("supply_capped"),
    )


#: manifest shards and checksum modulus (2^61 - 1)
MANIFEST_SHARDS = 16


def q_pipeline_shard_manifest(spark, sf_dir):
    """Per-shard DATA MANIFEST: for each of 16 hash shards of orders,
    the row count, key range and an order-insensitive 60-bit checksum
    (md5 row hash summed mod 2^61-1 in DECIMAL(38)/HUGEINT) — the
    artifact a dataset publisher signs so any consumer can verify a
    shard without re-reading the rest (dq_table_checksum's single
    fingerprint, sharded).  One partial+final agg keyed by the shard
    id; shard assignment is the same key mod the pipeline uses."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    # canonical NULL rendering: a checksum must COVER missing values, so
    # NULL price encodes as the empty field (a price string is never
    # empty otherwise).  concat_ws would silently DROP the field (and
    # its separator) where the oracle's || propagates NULL — coalesce
    # pins one rendering on both engines.
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.coalesce(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .cast("string"),
            F.lit(""),
        ),
        F.col("o_orderpriority"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )
    return (
        o.select((F.col("o_orderkey") % MANIFEST_SHARDS).alias("shard"),
                 "o_orderkey", h.alias("h"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.expr(f"CAST(sum(h) % {CKSUM_MOD} AS BIGINT)").alias(
                "checksum"
            ),
        )
    )


#: interleave: how many scheduled positions to emit
ILV_HEAD = 100


def q_pipeline_interleave_order(spark, sf_dir):
    """Deterministic WEIGHTED INTERLEAVING of corpus sources into one
    training stream: each document's schedule key is its within-source
    rank STRETCHED by the inverse of the source's document share, so
    sources appear in proportion everywhere in the stream (not in
    blocks) — the step that turns pipeline_mixture_weights into an
    actual example order a trainer can consume.

    Plan: per-source ranks from co-partitioned md5-ordered windows,
    source sizes from one bounded agg, schedule key = rank * N / n_src
    as an EXACT half-up integer, global order materialized for the
    first 100 positions via distributed sort+limit.  Everything
    deterministic and integer-exact."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    ws = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number().over(ws).cast("long").alias("r"),
    )
    sizes = ranked.groupBy("source").agg(F.max("r").alias("ns"))
    tot = sizes.agg(F.sum("ns").alias("n"))
    keyed = (
        ranked.join(F.broadcast(sizes), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "source",
            "r",
            F.expr("(2 * r * n + ns) div (2 * ns)").alias("sched"),
        )
    )
    return (
        keyed.orderBy("sched", "source", "doc_id")
        .limit(ILV_HEAD)
        .select("sched", "source", "doc_id", "r")
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
    "pipeline_importance_sample": q_pipeline_importance_sample,
    "pipeline_curriculum": q_pipeline_curriculum,
    "pipeline_target_encode": q_pipeline_target_encode,
    "pipeline_tokenizer_fertility": q_pipeline_tokenizer_fertility,
    "pipeline_chunk_overlap": q_pipeline_chunk_overlap,
    "pipeline_token_budget": q_pipeline_token_budget,
    "pipeline_shard_manifest": q_pipeline_shard_manifest,
    "pipeline_interleave_order": q_pipeline_interleave_order,
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
    "pipeline_importance_sample": (
        "SELECT count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS sampled_chars, "
        "min(doc_id) AS min_doc, max(doc_id) AS max_doc FROM documents "
        f"WHERE {_md5_le_sql('CAST(doc_id AS VARCHAR)', 2)} * 1000 "
        "< least(n_chars, 1000) * 65536"
    ),
    "pipeline_curriculum": (
        "WITH toks AS (SELECT doc_id, "
        "len(list_filter(string_split(text, ' '), w -> w <> '')) AS tok_cnt "
        "FROM documents WHERE text IS NOT NULL), "
        "ranked AS (SELECT tok_cnt, "
        "row_number() OVER (ORDER BY tok_cnt, doc_id) AS i FROM toks), "
        "n AS (SELECT count(*) AS n FROM ranked), "
        f"staged AS (SELECT ((i - 1) * {CURR_STAGES}) // n + 1 AS stage, "
        "tok_cnt FROM ranked, n) "
        "SELECT CAST(stage AS BIGINT) AS stage, count(*) AS n_docs, "
        "CAST(sum(tok_cnt) AS BIGINT) AS total_tokens, "
        "CAST(min(tok_cnt) AS BIGINT) AS min_tokens, "
        "CAST(max(tok_cnt) AS BIGINT) AS max_tokens FROM staged GROUP BY 1"
    ),
    "pipeline_target_encode": (
        "WITH lab AS (SELECT o_orderpriority, "
        "CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY "
        "THEN 1 ELSE 0 END AS late "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
        "per_cat AS (SELECT o_orderpriority, count(*) AS n_c, "
        "sum(late) AS pos_c FROM lab GROUP BY 1), "
        "gtot AS (SELECT count(*) AS n_g, sum(late) AS pos_g FROM lab) "
        "SELECT o_orderpriority, n_c, CAST(pos_c AS BIGINT) AS pos_c, "
        "((2 * (1000000 * pos_c + "
        f"{TE_SMOOTH_M} * ((2 * 1000000 * pos_g + n_g) // (2 * n_g))) "
        f"+ (n_c + {TE_SMOOTH_M})) // (2 * (n_c + {TE_SMOOTH_M}))) "
        "/ 1000000.0 AS target_enc, "
        "((2 * 1000000 * pos_g + n_g) // (2 * n_g)) / 1000000.0 "
        "AS global_rate FROM per_cat, gtot"
    ),
    "pipeline_tokenizer_fertility": (
        "WITH per AS (SELECT lang, source, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS toks, "
        "CAST(n_chars AS BIGINT) AS chars FROM documents), "
        "g AS (SELECT lang, source, count(*) AS n_docs, "
        "CAST(sum(toks) AS BIGINT) AS tokens, "
        "CAST(sum(chars) AS BIGINT) AS chars FROM per GROUP BY 1, 2) "
        "SELECT lang, source, n_docs, tokens, chars, "
        "(2 * 1000 * tokens + chars) // (2 * chars) AS toks_per_kchar, "
        "((2 * 1000 * chars + tokens) // (2 * tokens)) / 1000.0 "
        "AS chars_per_tok FROM g"
    ),
    "pipeline_chunk_overlap": (
        "WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws, "
        f"CASE WHEN len(string_split(text, ' ')) <= {CHUNK_SIZE} THEN 1 "
        f"ELSE (len(string_split(text, ' ')) - {CHUNK_SIZE} "
        f"+ {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE} + 1 END AS nc "
        "FROM documents), "
        "ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx, ws "
        "FROM d, unnest(range(nc)) AS t(i)) "
        "SELECT doc_id, chunk_idx, "
        f"CAST(chunk_idx * {CHUNK_STRIDE} + 1 AS INT) AS start_word, "
        f"CAST(len(ws[(chunk_idx * {CHUNK_STRIDE} + 1):"
        f"(chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE})]) AS INT) AS n_words, "
        f"array_to_string(ws[(chunk_idx * {CHUNK_STRIDE} + 1):"
        f"(chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE})], ' ') AS chunk "
        "FROM ch"
    ),
    # the prefix fold uses a UNIFORM struct list with a zero sentinel as
    # the init element (DuckDB 1.0 list_reduce has no explicit init and
    # rejects heterogeneous acc/element types); only the .sp slot
    # accumulates and it reads only itself -> in-place-fold safe
    "pipeline_token_budget": (
        "WITH per AS (SELECT source, "
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail "
        "FROM documents WHERE text IS NOT NULL GROUP BY 1), "
        "idxd AS (SELECT source, avail, CAST(row_number() OVER "
        "(ORDER BY avail, source) AS BIGINT) AS idx FROM per), "
        "packed AS (SELECT list({'idx': idx, 'source': source, "
        "'avail': avail} ORDER BY idx) AS arr, count(*) AS k FROM idxd), "
        "rows AS (SELECT k, unnest(arr) AS x, arr FROM packed), "
        "sp AS (SELECT k, x, list_reduce(list_prepend("
        "{'idx': CAST(0 AS BIGINT), 'avail': CAST(0 AS BIGINT), "
        "'sp': CAST(0 AS BIGINT)}, "
        "list_transform(arr[1:CAST(x.idx - 1 AS INT)], y -> "
        "{'idx': y.idx, 'avail': y.avail, 'sp': CAST(0 AS BIGINT)})), "
        "(acc, y) -> {'idx': y.idx, 'avail': y.avail, "
        f"'sp': acc.sp + least(y.avail, ({BUDGET_TOKENS} - acc.sp) "
        "// (k - y.idx + 1))}).sp AS spent FROM rows) "
        "SELECT x.source AS source, x.avail AS avail_tokens, "
        f"CAST(least(x.avail, ({BUDGET_TOKENS} - spent) "
        "// (k - x.idx + 1)) AS BIGINT) AS alloc_tokens, "
        f"x.avail <= least(x.avail, ({BUDGET_TOKENS} - spent) "
        "// (k - x.idx + 1)) AS supply_capped FROM sp"
    ),
    "pipeline_shard_manifest": (
        "WITH h AS (SELECT o_orderkey % "
        f"{MANIFEST_SHARDS} AS shard, o_orderkey, "
        "('0x' || substr(md5(o_orderkey::VARCHAR || '|' "
        "|| coalesce(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
        "AS BIGINT) AS VARCHAR), '') || '|' || o_orderpriority), 1, 15))"
        "::BIGINT AS h FROM orders) "
        "SELECT shard, CAST(count(*) AS BIGINT) AS n_rows, "
        "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key, "
        f"CAST(sum(h) % {CKSUM_MOD} AS BIGINT) AS checksum "
        "FROM h GROUP BY 1"
    ),
    "pipeline_interleave_order": (
        "WITH r AS (SELECT doc_id, source, "
        "CAST(row_number() OVER (PARTITION BY source "
        "ORDER BY md5(doc_id::VARCHAR), doc_id) AS BIGINT) AS r "
        "FROM documents), "
        "sz AS (SELECT source, max(r) AS ns FROM r GROUP BY 1), "
        "t AS (SELECT sum(ns) AS n FROM sz), "
        "k AS (SELECT doc_id, r.source, r, "
        "(2 * r * n + ns) // (2 * ns) AS sched "
        "FROM r JOIN sz ON r.source = sz.source, t) "
        "SELECT CAST(sched AS BIGINT) AS sched, source, doc_id, r "
        f"FROM k ORDER BY sched, source, doc_id LIMIT {ILV_HEAD}"
    ),
}

"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Correctness surfaces are exact and hash-checkable (md5 groupBy; shingle
join Jaccard).  MinHash-LSH and SimHash are the sub-quadratic scale paths:
candidate generation is probabilistic, the final score is always exact, so
precision never degrades — only recall, which tests measure.  Every
family scores through shingle_overlap / jaccard_for_candidates (or its
own exact hamming check) and collapses exact duplicates through
duplicate_groups, which similarity's ANN kernels share.

All token/shingle hashing uses Spark's xxhash64 (JVM-side, deterministic
across partitions/executors) — never Python hash() (salted per process).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

#: large Mersenne prime for minhash universal hashing
_MERSENNE = (1 << 61) - 1
#: MinHash layout: 12 bands x 4 rows over 48 hashes puts the banding
#: s-curve at ~(1/12)^(1/4) ~= 0.54, just above the 0.5 Jaccard threshold
MINHASH_HASHES = 48
MINHASH_BANDS = 12
MINHASH_SEED = 42


def exact_dedup_keys(df: DataFrame) -> DataFrame:
    """Exact dedup groups: md5(text) -> (keep_id = min id, n copies).

    100TB: a single hash-shuffle on a 16-byte key; the md5 is computed
    map-side so the shuffle never carries document bodies.
    """
    return (
        df.select(F.md5(F.col("text").cast("binary")).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n"))
    )


def tokens(df: DataFrame) -> DataFrame:
    """(doc_id, token array) with empty tokens dropped (cross-engine rule)."""
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    return df.select("doc_id", toks.alias("toks"))


def shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """Distinct n-token shingles per document, built with native array
    functions (no Python in the row path)."""
    t = tokens(df)
    idx = F.sequence(F.lit(0), F.size(F.col("toks")) - n)
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("toks"), i + j + 1) for j in range(n)]
        ),
    )
    return (
        t.filter(F.size("toks") >= n)
        .select("doc_id", F.explode(sh).alias("shingle"))
        .distinct()
    )


def shingle_overlap(shingle_df: DataFrame) -> DataFrame:
    """(d1, d2, i, n1, n2) for every pair d1 < d2 sharing a shingle: the
    intersection size and both shingle counts, from the co-shingle
    self-join.  An exact shingle score is one expression over these.

    100TB note: the self-join explodes on stop-shingles; the MinHash path
    never runs it (jaccard_for_candidates scores only its candidates).
    """
    a, b = shingle_df.alias("a"), shingle_df.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    return _with_shingle_counts(inter, shingle_df)


def _with_shingle_counts(inter: DataFrame, shingle_df: DataFrame) -> DataFrame:
    """(d1, d2, i) -> (d1, d2, i, n1, n2): join each side's shingle count."""
    cnt = shingle_df.groupBy("doc_id").agg(F.count("*").alias("n"))
    return (
        inter.join(cnt.alias("na"), F.col("d1") == F.col("na.doc_id"))
        .join(cnt.alias("nb"), F.col("d2") == F.col("nb.doc_id"))
        .select("d1", "d2", "i", F.col("na.n").alias("n1"),
                F.col("nb.n").alias("n2"))
    )


def jaccard_score():
    """Jaccard |A∩B| / |A∪B| over shingle_overlap's columns."""
    return F.col("i").cast("double") / (F.col("n1") + F.col("n2") - F.col("i"))


def _jaccard_at_least(overlap: DataFrame, threshold: float) -> DataFrame:
    jac = jaccard_score()
    return overlap.filter(jac >= threshold).select(
        "d1", "d2", F.round(jac, 4).alias("jac")
    )


def jaccard_pairs(shingle_df: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard >= threshold pairs via shingle-equality join.

    Output (d1, d2, jac) with jac rounded 4dp.  Quadratic in duplication
    by contract: this is the graded `dedup_near_jaccard` surface.
    """
    return _jaccard_at_least(shingle_overlap(shingle_df), threshold)


def near_jaccard_pairs(df: DataFrame, threshold: float,
                       expand_members: bool = True) -> DataFrame:
    """Document-level exact Jaccard >= threshold pairs over 3-shingles,
    with exact duplicates collapsed first.

    The collapse is EXACT here: byte-identical texts have identical
    shingle sets, so jaccard(member of G1, member of G2) == jaccard(rep1,
    rep2) and within-group pairs score exactly 1.0 — it changes
    intermediate volume (O(unique shingle join) instead of O(dups^2 x
    shared shingles)), never values; the uncollapsed form is
    jaccard_pairs(shingles(df)).  `expand_members=False` returns one row
    per GROUP pair with group sizes (O(unique^2) output) — the scale
    shape for duplicate-saturated corpora; see
    _pairs_with_duplicate_collapse.
    """
    return _pairs_with_duplicate_collapse(
        df,
        rep_fn=lambda reps: jaccard_pairs(shingles(reps), threshold),
        eligible_fn=lambda reps: shingles(reps).select("doc_id").distinct(),
        score_col="jac",
        within_score=F.lit(1.0),
        expand_members=expand_members,
    )


def jaccard_for_candidates(cand: DataFrame, shingle_df: DataFrame,
                           threshold: float) -> DataFrame:
    """Exact Jaccard computed ONLY for the given candidate pairs (d1, d2).

    Intersection counts come from replicating each candidate pair across
    d1's shingles and probing d2's shingle set — work is O(|cand| x
    shingles-per-doc), never the all-co-shingle-pairs blowup of
    jaccard_pairs.  This is the re-scorer the LSH path needs at 100 TB:
    the aggregation's key set is the candidate pairs, so hot shingles
    shared by thousands of docs cost nothing beyond the bucket join that
    already produced the candidates.

    `cand` is deduplicated here — a repeated (d1, d2) row would otherwise
    double-count intersections — so callers may pass raw bucket-join
    output directly.
    """
    cand = cand.select("d1", "d2").dropDuplicates(["d1", "d2"])
    pair_sh = cand.join(
        shingle_df.select(F.col("doc_id").alias("d1"), "shingle"), "d1"
    ).select("d1", "d2", "shingle")
    inter = (
        pair_sh.join(
            shingle_df.select(F.col("doc_id").alias("d2"), "shingle"),
            ["d2", "shingle"],
        )
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("i"))
    )
    return _jaccard_at_least(_with_shingle_counts(inter, shingle_df), threshold)


def minhash_signatures(shingle_df: DataFrame) -> DataFrame:
    """MinHash signature per doc: h_i = min over shingles of a_i*x+b_i mod p.

    x = xxhash64(shingle) (stable, JVM-side); all MINHASH_HASHES minima
    are computed in ONE aggregation pass (one min() column each), so the
    shuffle carries one row per doc.
    """
    rng = np.random.default_rng(MINHASH_SEED)
    # 31-bit hash domain and coefficients: x*a+b < 2^62 so the modular
    # arithmetic never overflows int64 (Spark 4 runs ANSI mode — overflow
    # would throw, not wrap)
    a = rng.integers(1, 1 << 31, MINHASH_HASHES, dtype=np.int64)
    b = rng.integers(0, 1 << 31, MINHASH_HASHES, dtype=np.int64)
    x = F.xxhash64("shingle").bitwiseAND(F.lit((1 << 31) - 1))
    mins = [
        F.min((x * int(a[i]) + int(b[i])) % _MERSENNE).alias(f"h{i}")
        for i in range(MINHASH_HASHES)
    ]
    sig = shingle_df.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[f"h{i}" for i in range(MINHASH_HASHES)]).alias("sig")
    )


def duplicate_groups(df: DataFrame, id_col: str, payload_col: str,
                     key) -> DataFrame:
    """Exact-duplicate groups, one row per member whose payload is not
    NULL: (id_col, gid = `key`, the md5 Column that decides
    byte-identity, payload_col, idx = 0-based index within the group by
    id, gsize, rep_id = the group's smallest id).  One Exchange and one
    Sort feed the three window columns; checkpointed lazily because every
    collapse reads the frame several times.
    """
    keyed = df.filter(F.col(payload_col).isNotNull()).select(
        F.col(id_col), F.col(payload_col), key.alias("gid")
    )
    wg = Window.partitionBy("gid").orderBy(id_col)
    return keyed.select(
        id_col, "gid", payload_col,
        (F.row_number().over(wg) - 1).alias("idx"),
        F.count(F.lit(1)).over(Window.partitionBy("gid")).alias("gsize"),
        F.first(id_col).over(wg).alias("rep_id"),
    ).localCheckpoint(eager=False)


def _pairs_with_duplicate_collapse(df: DataFrame, rep_fn, eligible_fn,
                                   score_col: str, within_score,
                                   expand_members: bool) -> DataFrame:
    """Exact-duplicate collapse around a pair-listing dedup kernel.

    Shared by near_jaccard_pairs / minhash_lsh_pairs /
    simhash_near_pairs: group identical texts (md5), emit within-group
    pairs directly at the known score (`within_score` — jaccard 1.0 /
    hamming 0: identical text means identical shingles AND identical
    simhash), run the kernel via `rep_fn` on one representative per
    distinct text, and expand surviving representative pairs to all
    member cross pairs.  `eligible_fn(reps) -> DataFrame[doc_id]` names
    the reps whose text can pair at all (>=1 shingle / >=1 token) so the
    within-group pass matches the uncollapsed path exactly.  Output is
    unchanged; intermediate volume drops from O(dups^2 x bands) to
    O(output).  Identity on a duplicate-free corpus.

    `expand_members=False`: the expanded pair list is inherently
    quadratic in the duplication factor — at 100 copies per doc each
    surviving group pair emits 10k member rows, which is OUTPUT volume
    no plan can shrink.  The grouped mode instead returns one row per
    GROUP pair, (d1, d2, score, g1, g2) with d1/d2 the groups'
    representative ids (min id) and g1/g2 the group sizes; within-group
    duplicate "pairs" appear as the diagonal row d1 == d2 at the known
    `within_score` (only for groups of size >= 2 whose text is pairable,
    matching the expanded mode's within-pair population).  O(unique^2)
    output.  Information-equivalent to the expanded list given the
    membership map (gid -> member ids): a diagonal row expands to its
    group's g*(g-1)/2 within pairs, an off-diagonal row to g1*g2 cross
    pairs — tests/test_dedup_grouped_mode.py performs exactly that
    expansion and asserts equality on a duplicate-saturated fixture.
    """
    members = duplicate_groups(
        df, "doc_id", "text", F.md5(F.col("text").cast("binary"))
    )
    rep_rows = members.filter(F.col("idx") == 0)
    reps = rep_rows.select("doc_id", "text")
    pairable_gids = eligible_fn(reps).join(rep_rows, "doc_id").select("gid")
    rep_pairs = rep_fn(reps)
    rep_gid = rep_rows.select(
        F.col("doc_id").alias("__rid"), F.col("gid").alias("__rgid"),
        F.col("gsize").alias("__rgsize"),
    )
    if not expand_members:
        within_groups = (
            rep_rows.filter(F.col("gsize") >= 2)
            .join(pairable_gids, "gid")
            .select(
                F.col("doc_id").alias("d1"),
                F.col("doc_id").alias("d2"),
                within_score.alias(score_col),
                F.col("gsize").alias("g1"),
                F.col("gsize").alias("g2"),
            )
        )
        cross_groups = (
            rep_pairs
            .join(rep_gid.alias("g1"), F.col("d1") == F.col("g1.__rid"))
            .join(rep_gid.alias("g2"), F.col("d2") == F.col("g2.__rid"))
            .select(
                "d1", "d2", score_col,
                F.col("g1.__rgsize").alias("g1"),
                F.col("g2.__rgsize").alias("g2"),
            )
        )
        return within_groups.unionByName(cross_groups)
    m = members.join(pairable_gids, "gid").select("doc_id", "gid")
    l, r = m.alias("l"), m.alias("r")
    within = (
        l.join(
            r,
            (F.col("l.gid") == F.col("r.gid"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("d1"),
            F.col("r.doc_id").alias("d2"),
            within_score.alias(score_col),
        )
    )
    mem = members.select(F.col("doc_id").alias("__mid"), F.col("gid"))
    expanded = (
        rep_pairs
        .join(rep_gid.alias("g1"), F.col("d1") == F.col("g1.__rid"))
        .join(rep_gid.alias("g2"), F.col("d2") == F.col("g2.__rid"))
        .join(mem.alias("m1"), F.col("m1.gid") == F.col("g1.__rgid"))
        .join(mem.alias("m2"), F.col("m2.gid") == F.col("g2.__rgid"))
        .select(
            F.least(F.col("m1.__mid"), F.col("m2.__mid")).alias("d1"),
            F.greatest(F.col("m1.__mid"), F.col("m2.__mid")).alias("d2"),
            score_col,
        )
    )
    return within.unionByName(expanded)


def bucket_pairs(df: DataFrame, keys: list, carry: str | None = None) -> DataFrame:
    """Candidate generation for the banded near-duplicate families
    (MinHash bands, SimHash blocks): one symmetric self-join of the docs
    on (bucket index, bucket key) that emits each pair once per shared
    bucket as (d1, d2) with d1 < d2.

    `df` holds one row per doc_id; `keys[i]` is the doc's key in bucket
    i.  A `carry` column comes back as <carry>1 (of d1) and <carry>2 (of
    d2).  Exact scoring stays with the caller, as in V-SMART-Join's split
    of candidate generation from exact similarity.
    """
    cols = ["doc_id"] + ([carry] if carry else [])
    bucketed = df.select(
        *cols,
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("i"), k.alias("k")) for i, k in enumerate(keys)])
        ).alias("bk"),
    ).select(*cols, "bk.i", "bk.k")
    l, r = bucketed.alias("l"), bucketed.alias("r")
    return l.join(
        r,
        (F.col("l.i") == F.col("r.i"))
        & (F.col("l.k") == F.col("r.k"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    ).select(
        F.col("l.doc_id").alias("d1"),
        F.col("r.doc_id").alias("d2"),
        *([F.col(f"l.{carry}").alias(f"{carry}1"), F.col(f"r.{carry}").alias(f"{carry}2")]
          if carry else []),
    )


def minhash_lsh_pairs(df: DataFrame, threshold: float,
                      expand_members: bool = True) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact re-score.

    MINHASH_BANDS=12 x rows=4 over MINHASH_HASHES=48 hashes -> s-curve
    threshold ~ (1/12)^(1/4) ~= 0.54; candidates sharing any band bucket
    are re-scored with the EXACT Jaccard join restricted to candidate
    pairs.  100TB path: no quadratic join — one shuffle for signatures,
    one per-band bucket grouping, exact join only over candidates.

    EXACT-duplicate texts are collapsed before the index: on a
    duplicate-saturated corpus (the regime web-scale dedup actually
    meets — the sf10 canary's 100-copy docs) every band bucket holds
    the whole duplicate group, so the candidate join and the shingle
    re-score go quadratic in the duplication factor (measured: >57 GB
    of shuffle spill, disk exhaustion).  The collapse runs banding +
    re-scoring on one representative per distinct text and
    reconstitutes the pair list afterwards: identical texts pair at
    jaccard exactly 1.0 without touching their shingles, and each
    surviving representative pair expands to its groups' cross pairs.
    The OUTPUT is unchanged (and inherently quadratic in duplication —
    it lists all pairs); only the intermediate volume drops from
    O(dups^2 x bands + pairs x shingles) to O(output).  Identity on a
    duplicate-free corpus.

    `expand_members=False` is the scale path when even the OUTPUT is
    duplication-quadratic: one row per group pair (d1, d2, jac, g1, g2)
    instead of the member cross product — see
    _pairs_with_duplicate_collapse.
    """
    return _pairs_with_duplicate_collapse(
        df,
        rep_fn=lambda reps: _minhash_lsh_pairs_raw(reps, threshold),
        # a group only pairs if its text yields >= 1 shingle (parity
        # with the raw kernel, where shingle-less docs never reach the
        # signature stage)
        eligible_fn=lambda reps: shingles(reps).select("doc_id").distinct(),
        score_col="jac",
        within_score=F.lit(1.0),
        expand_members=expand_members,
    )


def _minhash_lsh_pairs_raw(df: DataFrame, threshold: float) -> DataFrame:
    """minhash_lsh_pairs' banding + re-score kernel, without the
    duplicate collapse."""
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    # not cached: the optimizer drops the shingle distinct under the
    # signatures' min() aggregates and reuses its Exchange across the
    # re-score joins, and a cache stays persisted for the session (it
    # also measured slower: warm min-of-5 at sf0.1, 3.7-5.9 s cached
    # against 2.2-2.7 s uncached)
    sh = shingles(df)
    sig = minhash_signatures(sh)
    bands = [
        F.xxhash64(
            F.concat_ws(
                ",",
                F.lit(bi),
                *[F.col("sig")[bi * rows_per_band + r] for r in range(rows_per_band)],
            )
        )
        for bi in range(MINHASH_BANDS)
    ]
    cand = bucket_pairs(sig, bands)
    # exact re-score restricted to candidates (never the full shingle
    # join); the helper deduplicates the multi-band candidate pairs
    return jaccard_for_candidates(cand, sh, threshold)


def simhash_values(df: DataFrame) -> DataFrame:
    """64-bit SimHash per doc from token-hash bit votes.

    Bit b of the simhash is 1 iff sum over token occurrences of (+1 if
    bit b of hash(token) else -1) > 0.  The token hash is the last 8 md5
    bytes little-endian — identical to DuckDB's md5_number_lower, so the
    whole simhash (and the near-pair answer) hash-checks against a DuckDB
    oracle.  Pure JVM expression: explode tokens, extract the 8 hash
    bytes from the md5 hex, one agg with 64 conditional sums — no Python.
    """
    hex_ = F.md5(F.col("w").cast("binary"))
    # byte j of the digest = hex chars (2j+1, 2j+2); little-endian lower
    # 64 bits = bytes 8..15, where byte 8+k carries result bits 8k..8k+7.
    # Two 8-hex-char words carry those 64 bits with two
    # conv(substring) parses per token instead of eight.  conv() reads the hex
    # big-endian, so word wlo = b8<<24 | b9<<16 | b10<<8 | b11 (bytes
    # 8..11) and whi likewise for bytes 12..15: digest bit b = 8k + j
    # (little-endian byte k, bit j) sits at word bit 8*(3 - k%4) + j of
    # the k<4 ? wlo : whi word — a pure index remap, same bits.
    word_cols = [
        F.conv(F.substring(hex_, 17 + 8 * h, 8), 16, 10).cast("long").alias(f"w{h}")
        for h in range(2)
    ]
    tok = (
        tokens(df)
        .select("doc_id", F.explode("toks").alias("w"))
        .select("doc_id", *word_cols)
    )
    # vote_b = sum over tokens of (+1 if bit_b else -1) = 2*ones_b - n:
    # summing the raw bit (no CASE) and counting once is the same exact
    # integer, with 64 cheaper accumulators
    def _bit(b: int):
        k, j = b // 8, b % 8
        return F.shiftright(
            F.col(f"w{k // 4}"), 8 * (3 - k % 4) + j
        ).bitwiseAND(F.lit(1))

    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(_bit(b)).alias(f"s{b}") for b in range(64)
    ]
    agg = tok.groupBy("doc_id").agg(*aggs)
    bit_terms = None
    for b in range(64):
        # bit 63 is the int64 sign bit: 1<<63 overflows, use its two's-
        # complement value instead
        bit_val = (1 << b) if b < 63 else -(1 << 63)
        # vote > 0  <=>  2*ones > n
        term = F.when(
            F.col(f"s{b}") * 2 > F.col("n"), F.lit(bit_val).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        bit_terms = term if bit_terms is None else bit_terms + term
    return agg.select("doc_id", bit_terms.alias("simhash"))


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3,
                       expand_members: bool = True) -> DataFrame:
    """Candidate pairs with hamming(simhash) <= max_hamming via 4x16-bit
    block banding (pigeonhole: <=3 differing bits leave >=1 block equal),
    then exact hamming re-check via bit_count(xor).

    Exact duplicates are collapsed first: identical texts have
    identical simhashes, so a duplicate-saturated corpus puts whole
    duplicate groups into every block bucket and the candidate join
    grows with the duplication factor squared (6.9x wall at the sf10
    canary's 100-copy corpus even though it survived).  The collapse emits
    within-group pairs directly at hamming 0 and runs the banding on
    one representative per distinct text — same output, O(output)
    intermediates; see _pairs_with_duplicate_collapse.

    `expand_members=False`: the sf10 canary measured 6.85x wall
    on the 100-copy corpus even WITH the collapse, because the expanded
    member-pair list itself is quadratic in duplication (pure output
    volume).  The grouped mode emits one row per group pair
    (d1, d2, hamming, g1, g2) — O(unique^2) output, the shape a 100 TB
    dedup job actually persists (cluster membership, not pair lists).
    The graded key keeps the expanded contract.
    """
    return _pairs_with_duplicate_collapse(
        df,
        rep_fn=lambda reps: _simhash_near_pairs_raw(reps, max_hamming),
        # parity with the raw kernel: a doc pairs only if it has >= 1
        # token (token-less docs never get a simhash row)
        eligible_fn=lambda reps: tokens(reps)
        .filter(F.size("toks") > 0)
        .select("doc_id"),
        score_col="hamming",
        within_score=F.lit(0),
        expand_members=expand_members,
    )


def _simhash_near_pairs_raw(df: DataFrame, max_hamming: int) -> DataFrame:
    """simhash_near_pairs' block-banding kernel, without the duplicate
    collapse."""
    sh = simhash_values(df)
    blocks = [
        F.shiftright(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
        for i in range(4)
    ]
    cand = bucket_pairs(sh, blocks, carry="simhash").distinct()
    hamming = F.bit_count(F.col("simhash1").bitwiseXOR(F.col("simhash2")))
    return cand.select("d1", "d2", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )

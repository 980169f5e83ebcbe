"""Similarity search over embedding columns.

Correctness surface: exact cosine top-k / threshold pairs, computed with a
vectorized numpy kernel — the SQL higher-order function form is ~10x
slower (measured: 35s vs 3.5s at sf0.1, SURVEY §6).

Distributed shape: the exact all-pairs kernel is a BLOCK x BLOCK grouped
kernel — each vector is assigned a block by id, replicated JVM-side
(explode of a sequence literal) to every (i <= j) block pair it meets,
and every pair lands once on an executor via groupBy(gi, gj)
.applyInPandas, where numpy does the dense matmul.  Nothing is collected
to the driver; per-task memory is (2 blocks x dim) doubles, tuned by
N_BLOCKS (communication is O(N_BLOCKS x corpus): each row is shipped to
N_BLOCKS block pairs through a single Exchange).
At 100 TB, size N_BLOCKS so one block fits an executor core's memory
budget; the quadratic block-pair fan-out is inherent to EXACT all-pairs —
the LSH/IVF paths below are the sub-quadratic scale route: each supplies
only candidate pairs, which one shared tail deduplicates, scores exactly
and cuts to the top k, after exact-duplicate vectors are collapsed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .dedup import duplicate_groups

#: block count for the exact all-pairs kernel (fixtures: 500-2000
#: vectors -> blocks of 125-500 rows; raise with corpus size so one block
#: fits in an executor core's memory budget).  Swept {1,2,3,4,6} at sf0.1
#: min-of-3 warm: 1.72/1.48/1.36/1.23/1.29 s — 4 wins; below that the
#: task count starves local[32], above it replication overhead dominates.
#: A repeat sweep of {2,3,4,6} in a different session gave
#: 1.25/1.22/1.25/1.28 s — 3 and 4 are within run-to-run noise (±5%).
N_BLOCKS = 4
#: IVF: spherical k-means rounds over the training sample
IVF_TRAIN_ITERS = 5
#: LSH: hash tables, and the seed of their random hyperplanes
LSH_TABLES = 16
LSH_SEED = 42


def _block_pair_grouped(emb_df: DataFrame, extra_cols: tuple) -> DataFrame:
    """Tag each row with its id-block and explode it to every (gi <= gj)
    block pair it participates in, with a `side` marker (0 = the row
    belongs to block gi, 1 = to block gj; diagonal pairs carry each row
    once, side 0).  Single-frame feed for a grouped applyInPandas kernel.

    One scan, zero joins (the pair fan-out is a JVM-side explode of a
    sequence literal) and ONE Exchange, at N_BLOCKS copies per row; a
    two-frame cogroup spelling costs two scans, two joins and two
    Exchanges.  Rows with a NULL id or a NULL vector are dropped: neither
    can be scored.  The corpus is never collected."""
    e = (
        emb_df.select("vec_id", "embedding", *extra_cols)
        .withColumn("_g", F.pmod(F.col("vec_id"), F.lit(N_BLOCKS)).cast("int"))
        .filter(F.col("_g").isNotNull() & F.col("embedding").isNotNull())
    )
    pair_expr = F.expr(
        f"transform(sequence(0, {N_BLOCKS - 1}), h -> "
        "struct(least(_g, h) AS gi, greatest(_g, h) AS gj, "
        "if(_g <= h, 0, 1) AS side))"
    )
    return e.select(
        F.explode(pair_expr).alias("_p"), "vec_id", "embedding", *extra_cols
    ).select("_p.gi", "_p.gj", "_p.side", "vec_id", "embedding", *extra_cols)


def _split_sides(key, pdf: pd.DataFrame):
    """Kernel-side view of a block-pair group: (same_block, lpdf, rpdf).
    Diagonal groups expose the whole group as both sides."""
    if key[0] == key[1]:
        return True, pdf, pdf
    mask = pdf["side"].values == 0
    return False, pdf[mask], pdf[~mask]


def _norm_rows(pdf: pd.DataFrame) -> np.ndarray:
    M = np.stack(pdf["embedding"].values).astype(np.float64)
    n = np.linalg.norm(M, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return M / n


def _block_pair_cosine(emb_df: DataFrame, schema: str, emit,
                       extra_cols: tuple = ()) -> DataFrame:
    """The exact all-pairs driver: every block pair lands once on an
    executor, which normalises both sides, forms S = Ln @ Rn.T and hands
    `emit(S, lpdf, rpdf, same_block)` the pandas frame of rows to return
    (columns per `schema`).  A block pair with an empty side returns no
    rows without calling `emit`."""
    empty = pd.DataFrame({c.split()[0]: [] for c in schema.split(",")})

    def kernel(key, pdf):
        same_block, lpdf, rpdf = _split_sides(key, pdf)
        if len(lpdf) == 0 or len(rpdf) == 0:
            return empty
        Ln = _norm_rows(lpdf)
        S = Ln @ (Ln if same_block else _norm_rows(rpdf)).T
        return emit(S, lpdf, rpdf, same_block)

    return (
        _block_pair_grouped(emb_df, extra_cols)
        .groupBy("gi", "gj")
        .applyInPandas(kernel, schema=schema)
    )


def _threshold_hits(S: np.ndarray, lid: np.ndarray, rid: np.ndarray,
                    threshold: float, same_block: bool):
    """Every pair of a block-pair kernel with cosine >= threshold, once.

    Returns (li, rj, swap): hit k is left row li[k] against right row
    rj[k], and swap[k] says the smaller id is the right row's.  A
    diagonal block holds each pair twice, so only its left < right cells
    count; an off-diagonal block holds each pair once, in either order."""
    hit = S >= threshold
    li, rj = np.nonzero(hit & (rid[None, :] > lid[:, None]))
    if same_block:
        return li, rj, np.zeros(len(li), dtype=bool)
    li2, rj2 = np.nonzero(hit & (rid[None, :] < lid[:, None]))
    return (np.concatenate([li, li2]), np.concatenate([rj, rj2]),
            np.repeat([False, True], [len(li), len(li2)]))


def _ordered(lv: np.ndarray, rv: np.ndarray, li, rj, swap):
    """Per hit, (value of the smaller-id row, value of the larger-id
    row) for the per-row values lv (left rows) and rv (right rows)."""
    return np.where(swap, rv[rj], lv[li]), np.where(swap, lv[li], rv[rj])


def cosine_topk(spark: SparkSession, emb_df: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors per vector among ids > own id.

    Output: (vec_id, nbr, sim) with sim rounded to 4dp; deterministic
    ordering (sim DESC, nbr ASC) per vector.  Two-stage exact plan:
    per-block-pair local top-k in the numpy kernel (selection on
    unrounded sims, ties -> lower nbr), then a global per-vector window
    keeps the true top-k — exact because the global top-k is a subset of
    the union of per-block-pair top-ks.
    """
    def emit(S, lpdf, rpdf, same_block):
        lid = lpdf["vec_id"].values
        rid = rpdf["vec_id"].values
        out_v, out_n, out_s = [], [], []

        def emit_topk(q_ids, c_ids, sims_qc):
            # rows = queries, cols = candidates with id > query id.
            # Fully vectorized: one lexsort across all rows (primary
            # -sim asc == sim desc, secondary nbr asc — identical tie
            # semantics to a per-row lexsort((cand, -sims))[:k]);
            # invalid candidates are -inf, which sorts last and is
            # dropped by the isfinite filter.
            valid = c_ids[None, :] > q_ids[:, None]
            if not valid.any():
                return
            Sm = np.where(valid, sims_qc, -np.inf)
            Cb = np.broadcast_to(c_ids, Sm.shape)
            order = np.lexsort((Cb, -Sm), axis=1)[:, :k]
            sel_s = np.take_along_axis(Sm, order, axis=1)
            sel_c = np.take_along_axis(Cb, order, axis=1)
            keep = np.isfinite(sel_s)
            qq = np.repeat(q_ids, order.shape[1]).reshape(sel_s.shape)
            out_v.append(qq[keep])
            out_n.append(sel_c[keep])
            out_s.append(sel_s[keep])

        emit_topk(lid, rid, S)
        if not same_block:  # right rows may also be the smaller id
            emit_topk(rid, lid, S.T)
        if not out_v:
            return pd.DataFrame({"vec_id": [], "nbr": [], "sim": []})
        return pd.DataFrame({
            "vec_id": np.concatenate(out_v),
            "nbr": np.concatenate(out_n),
            "sim": np.concatenate(out_s),
        })

    cand = _block_pair_cosine(emb_df, "vec_id long, nbr long, sim double", emit)
    return _topk(cand, k).select("vec_id", "nbr", F.round("sim", 4).alias("sim"))


def cosine_threshold_pairs(spark: SparkSession, emb_df: DataFrame,
                           threshold: float) -> DataFrame:
    """Count pairs with cosine >= threshold, grouped by (label_a, label_b)
    where a is the smaller vec_id.  Same block-pair kernel, fully
    vectorized emission (2-D nonzero, no per-row python loop)."""
    def emit(S, lpdf, rpdf, same_block):
        hits = _threshold_hits(S, lpdf["vec_id"].values, rpdf["vec_id"].values,
                               threshold, same_block)
        la, lb = _ordered(lpdf["label"].values, rpdf["label"].values, *hits)
        return pd.DataFrame({"label_a": la, "label_b": lb})

    pairs = _block_pair_cosine(emb_df, "label_a int, label_b int", emit, ("label",))
    return pairs.groupBy("label_a", "label_b").agg(F.count("*").alias("n_pairs"))


def cosine_pairs(spark: SparkSession, emb_df: DataFrame, threshold: float) -> DataFrame:
    """All pairs (a < b) with cosine >= threshold: (a, b, sim) rounded 4dp.
    Same block-pair kernel as cosine_topk; at 100 TB the LSH/IVF candidate
    generators replace exact all-pairs and this becomes their re-scorer."""
    def emit(S, lpdf, rpdf, same_block):
        lid, rid = lpdf["vec_id"].values, rpdf["vec_id"].values
        li, rj, swap = _threshold_hits(S, lid, rid, threshold, same_block)
        a, b = _ordered(lid, rid, li, rj, swap)
        return pd.DataFrame({"a": a, "b": b, "sim": np.round(S[li, rj], 4)})

    return _block_pair_cosine(emb_df, "a long, b long, sim double", emit)


def embedding_dedup_groups(spark: SparkSession, emb_df: DataFrame,
                           threshold: float) -> DataFrame:
    """Embedding-cosine near-dup dedup: vectors whose cosine >= threshold
    form an edge; connected components over those edges are dup groups;
    keep the min vec_id per group.  Returns (keep_id, group_size) for
    groups of size >= 2 — the composition of the similarity kernel with
    the CC iterative operator (two of this engine's primitives)."""
    from .algorithms import connected_components

    # materialize the kernel output ONCE: the symmetric union below and
    # CC's node derivation + cache fill would otherwise re-run the
    # block-pair kernel (the expensive part) several times over
    pairs = (
        cosine_pairs(spark, emb_df, threshold)
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    comp = connected_components(edges)
    return (
        comp.groupBy("label")
        .agg(F.count("*").alias("group_size"))
        .select(F.col("label").alias("keep_id"), "group_size")
    )


def _score_id_pairs(cand: DataFrame, emb_df: DataFrame) -> DataFrame:
    """Exact cosine for an id-pair candidate frame (vec_id, nbr).

    The ANN candidate generators ship ONLY ids through their bucket/cell
    exchanges; this helper joins each side's vector back exactly once
    (two id-equi-joins against the deduped candidate set — at 100 TB the
    vector payload moves O(candidates), not O(candidates x n_tables)).

    The dot product/norms run JVM-SIDE (zip_with + aggregate inside
    whole-stage codegen): the previous Arrow kernel shipped every pair's
    two vectors into Python — ~1 KB x candidates of pure transfer — and
    measured 10x slower on the sf1 fixture's 4.2M candidates (5.0s ->
    0.5s), with bit-identical scores (max |diff| 0.0 on those pairs)."""
    v = emb_df.select(F.col("vec_id").alias("__vid"), F.col("embedding").alias("__v"))
    paired = (
        cand.join(v, cand["vec_id"] == v["__vid"])
        .select("vec_id", "nbr", F.col("__v").alias("va"))
        .join(v, F.col("nbr") == v["__vid"])
        .select("vec_id", "nbr", "va", F.col("__v").alias("vb"))
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )

    def norm(col):
        return F.sqrt(F.aggregate(
            F.transform(col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x,
        ))

    sim = dot / (F.greatest(norm("va"), F.lit(1e-12))
                 * F.greatest(norm("vb"), F.lit(1e-12)))
    return paired.select("vec_id", "nbr", F.round(sim, 4).alias("sim"))


def _topk(df: DataFrame, k: int) -> DataFrame:
    """Per vec_id, the k best (vec_id, nbr, sim) rows by (sim DESC, nbr
    ASC)."""
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("nbr"))
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def _rescored_topk(spark: SparkSession, cand: DataFrame | None,
                   emb_df: DataFrame, k: int) -> DataFrame:
    """The ANN kernels' shared tail: deduplicate the candidate (vec_id,
    nbr) pairs (nbr > vec_id; a pair met in several buckets or cells
    arrives once per meeting), score them exactly and keep each vector's
    top k.  `cand` is None when the corpus is empty."""
    if cand is None:
        return spark.createDataFrame([], "vec_id long, nbr long, sim double")
    cand = cand.dropDuplicates(["vec_id", "nbr"])
    return _topk(_score_id_pairs(cand, emb_df), k)


def _topk_with_duplicate_collapse(spark: SparkSession, emb_df: DataFrame,
                                  k: int, raw_kernel) -> DataFrame:
    """Exact-duplicate collapse around an ANN pair kernel.

    A duplicate-saturated corpus is the regime a training-data pipeline
    actually feeds an ANN index (boilerplate pages, mirrored docs): the
    sf10 canary's 100-copies-per-vector corpus made every LSH bucket /
    IVF cell hold >=100 identical members, so the candidate pair join
    went quadratic in the duplication factor and OOM'd a 48 GiB heap.
    Production systems collapse exact duplicates BEFORE indexing; this
    wrapper does exactly that, preserving the kernels' output contract
    (per vec_id, top-k among LARGER ids by (sim DESC, nbr ASC)):

    1. group identical vectors (md5 of the embedding's JSON bytes) with
       dedup.duplicate_groups — one narrow map + one shuffle on the
       group key;
    2. WITHIN a group, member #i's neighbors are simply its next-k
       larger twins at sim 1.0 (k lead() columns over the group window
       — N*k rows, no pair join at all);
    3. the raw ANN kernel runs on the UNIQUE representatives only, so
       its bucket/cell joins see each distinct vector once;
    4. members whose within-group twins cannot fill all k slots expand
       the rep-level pairs (symmetrized — the kernel only reports
       larger-id reps) to the neighbor group's members with id > the
       querying member, re-ranked under the same (sim DESC, nbr ASC)
       order.  Expansion volume is O(N * k) rows.

    On a duplicate-free corpus every group is a singleton: step 2 emits
    nothing, step 4's id-order filter reduces to the kernel's own
    output — the wrapper is identity (the autoscale knobs then also see
    the same N).  With duplicates, the knobs see the UNIQUE count,
    which is the honest index density.

    Two contract notes:
    - The rep kernel is asked for 2k pairs per representative, not k,
      so that step 4's member-level `nbr > vec_id` filter has slack — a
      high-id member of a large group whose nearest neighbor groups
      hold only smaller-id members would otherwise see fewer than k
      survivors from a rep graph truncated at exactly k.  The final
      per-member row_number still cuts at k, so output volume is
      unchanged; only candidate slack doubles.  The residual corner is
      rep-graph truncation (2k pairs per rep, larger-id direction
      only), with two manifestations pinned by an adversarial fixture
      (tests/test_ann_collapse_corner.py): (i) a deficit member whose
      2k rep-pair expansions are ALL id-filtered misses deeper bucket
      candidates the uncollapsed kernel would keep, and (ii) a member
      whose only route to a duplicate group is the group REP's list
      (the rep's id is smaller, so the member's own upward list can
      never emit it) loses that group when 2k nearer reps crowd it
      out.  Both are bounded recall loss in an already-approximate
      kernel, covered by the recall gates; both vanish on a
      duplicate-free corpus (the wrapper is then identity).
    - NULL embeddings are dropped before grouping: grouping keys on
      exact serialized bytes, so a NULL group would otherwise reach the
      window step before the kernel could reject it.  Byte-different
      but numerically equal encodings (-0.0 vs 0.0) intentionally land
      in separate groups — the kernel then treats them as the distinct
      vectors they are; collapse is an optimization for byte-identical
      payloads only.
    """
    members = duplicate_groups(
        emb_df, "vec_id", "embedding", F.md5(F.to_json(F.col("embedding")))
    )

    # 2. within-group twins: next-k larger ids at sim 1.0
    wg = Window.partitionBy("gid").orderBy("vec_id")
    lead_cols = [F.lead("vec_id", j).over(wg).alias(f"__l{j}")
                 for j in range(1, k + 1)]
    within = (
        members.select("vec_id", "gid", *lead_cols)
        .select(
            "vec_id",
            F.explode(F.array(*[F.col(f"__l{j}") for j in range(1, k + 1)])).alias("nbr"),
        )
        .filter(F.col("nbr").isNotNull())
        .select("vec_id", "nbr", F.lit(1.0).alias("sim"))
    )

    # 3. ANN over unique representatives only
    reps = members.filter(F.col("idx") == 0).select("vec_id", "embedding")
    # 2k, not k: slack for the member-level id-order filter in step 4
    rep_pairs = raw_kernel(reps, 2 * k)  # (vec_id=q_rep, nbr=n_rep, sim), nbr > vec_id

    # 4. cross-group expansion for deficit members only
    sym = rep_pairs.select(
        F.col("vec_id").alias("q_rep"), F.col("nbr").alias("n_rep"), "sim"
    ).unionByName(
        rep_pairs.select(
            F.col("nbr").alias("q_rep"), F.col("vec_id").alias("n_rep"), "sim"
        )
    )
    need = members.filter(F.col("idx") + k >= F.col("gsize")).select(
        "vec_id", "rep_id"
    )
    n_members = members.select(
        F.col("rep_id").alias("n_rep"), F.col("vec_id").alias("nbr")
    )
    cross = (
        need.join(sym, need["rep_id"] == sym["q_rep"])
        .join(n_members, "n_rep")
        .filter(F.col("nbr") > F.col("vec_id"))
        .select("vec_id", "nbr", "sim")
    )
    return _topk(within.unionByName(cross), k)


def cosine_topk_ivf(spark: SparkSession, emb_df: DataFrame, k: int = 5,
                    n_probe: int | None = None) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning — the other
    standard ANN scale path next to LSH: spherical k-means splits the
    space into n_lists cells; each query probes only its `n_probe`
    nearest cells and re-scores candidates EXACTLY.

    Distributed shape (100 TB): centroids train on a driver-side sample
    (standard IVF practice — the sample, not the corpus, bounds driver
    memory), then assignment is a narrow broadcast map, candidate
    generation a cell-keyed equi-join (shuffle on cell id, the big
    corpus moves once), scoring a JVM-side expression, top-k a per-key
    window.  Recall vs the exact kernel is asserted in tests; raising
    n_probe trades compute for recall with no precision loss.

    The cell count scales with the corpus — n_lists = max(16,
    floor(sqrt(N))), textbook IVF sizing: candidate volume is ~N *
    n_probe * N/n_lists, so a FIXED list count is quadratic in N (the
    sf1 stress sweep measured 19.4x wall at 10x vectors); sqrt-N lists
    keep it O(N^1.5 * n_probe) while the per-cell candidate re-scoring
    stays exact.

    `n_probe=None` scales WITH the list count — max(4, floor(log2
    n_lists)): a fixed probe count over sqrt-N cells shrinks the probed
    corpus fraction as 4/sqrt(N), so recall would decay silently at
    exactly the scale the sqrt sizing targets; one extra probe per
    cell-count doubling holds recall roughly flat for O(N^1.5 log N)
    candidate volume.  Pass an explicit value to pin the probe count
    (the recall fixtures at N<=2k resolve to 16 lists / 4 probes either
    way).

    Only distinct vectors are indexed; duplicate members' neighbor lists
    are reconstituted afterwards — see _topk_with_duplicate_collapse
    (identity on a duplicate-free corpus; mandatory on duplicate-
    saturated ones, where cell joins otherwise go quadratic in the
    duplication factor).
    """
    return _topk_with_duplicate_collapse(
        spark, emb_df, k,
        lambda reps, kk: _rescored_topk(
            spark, _ivf_candidates(spark, reps, n_probe), reps, kk
        ),
    )


def _ivf_candidates(spark: SparkSession, emb_df: DataFrame,
                    n_probe: int | None) -> DataFrame | None:
    """cosine_topk_ivf's candidate generator: (vec_id, nbr) for every
    member nbr > vec_id of a cell vec_id probes, repeated once per
    shared cell; None on an empty corpus."""
    n_lists = max(16, int(emb_df.count() ** 0.5))
    if n_probe is None:
        n_probe = max(4, int(n_lists).bit_length() - 1)
    # --- train on a deterministic sample (smallest ids), spherical k-means
    sample = (
        emb_df.orderBy("vec_id").limit(max(64, n_lists * 8)).select("embedding").collect()
    )
    if not sample:
        return None
    S = np.stack([np.asarray(r[0], dtype=np.float64) for r in sample])
    S /= np.maximum(np.linalg.norm(S, axis=1, keepdims=True), 1e-12)
    C = S[:n_lists].copy()
    # a tiny corpus can yield fewer training vectors than requested
    # cells: clamp both knobs to the cells that actually exist, or the
    # probe fan-out would index past the centroid matrix
    n_lists = C.shape[0]
    n_probe = min(n_probe, n_lists)
    for _ in range(IVF_TRAIN_ITERS):
        a = (S @ C.T).argmax(axis=1)
        for c in range(n_lists):
            if (a == c).any():
                m = S[a == c].mean(axis=0)
                C[c] = m / max(np.linalg.norm(m), 1e-12)
    bc = spark.sparkContext.broadcast(C)

    def assign(batches):
        # loop-free Arrow kernel: the (row, probe) fan-out is pure
        # np.repeat/reshape array construction — no per-row Python
        cen = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["embedding"].values).astype(np.float64)
            A /= np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
            sims = A @ cen.T
            order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            ids = pdf["vec_id"].values
            yield pd.DataFrame({
                "vec_id": np.repeat(ids, n_probe),
                "cell": order.reshape(-1).astype(np.int32),
                # member row only in the home cell; probe rows in all
                "is_probe": np.tile(np.arange(n_probe) > 0, len(ids)),
            })

    # id-only placement: the cell-keyed exchange carries (id, cell, flag)
    # rows — candidate row width is independent of n_probe and dim; the
    # full vectors are joined back exactly once, after candidate dedup
    placed = emb_df.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id long, cell int, is_probe boolean"
    )
    members = placed.filter(~F.col("is_probe")).select(
        F.col("vec_id").alias("m_id"), "cell"
    )
    probes = placed.select(F.col("vec_id").alias("q_id"), "cell")
    return (
        probes.join(members, "cell")
        .filter(F.col("m_id") > F.col("q_id"))
        .select(F.col("q_id").alias("vec_id"), F.col("m_id").alias("nbr"))
    )


def cosine_topk_lsh(spark: SparkSession, emb_df: DataFrame, k: int = 5,
                    n_flip: int | None = None) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH: the 100TB scale path.

    Each of LSH_TABLES tables hashes a vector to a signature bucket (sign
    pattern against n_planes hyperplanes); only same-bucket pairs are
    scored — exactly — then per-vector top-k over candidates.

    Tuning: P(candidate) per table = p^n_planes with p = 1 - theta/pi.
    The fixture layout (8 planes x 16 tables, no probes) gives ~25-45%%
    recall for cos 0.3-0.5 neighbors at ~6%% background pair rate —
    appropriate for the fixtures' RANDOM embeddings, whose top-k
    neighbors are barely above background.  On real clustered embeddings
    (cos >= 0.7 within near-dup groups) the same layout gives >99%%
    recall.  Fully distributed: signature assignment is a narrow map,
    candidate generation is a bucket-keyed probe/member join (shuffle on
    bucket), no broadcast of the full matrix.  Recall is tested against
    the exact kernel in tests/test_llmops.py, including at an
    autoscale-engaging N.

    The plane count and the probe count scale TOGETHER with the corpus,
    or recall decays geometrically with each added plane:

    - n_planes = max(8, bit_length(N) - 3), pinning mean
      bucket occupancy at ~4/table: with FIXED planes per-bucket pair
      volume is (N/2^planes)^2-quadratic (the sf1 sweep measured 9.0x
      wall at 10x vectors); one extra plane per corpus doubling keeps
      candidate volume ~linear in N.
    - `n_flip=None` -> n_planes - 8 DIRECTED multiprobes (Lv et al.,
      VLDB'07): each query additionally probes the buckets reached by
      flipping its lowest-|margin| bits — the bits most likely to
      disagree with a true neighbor's signature.  Each probe restores
      roughly the candidate-probability mass one extra plane removes,
      at the cost of probe rows only (members stay home-bucket-only, so
      signature storage and table count don't grow).  Pass an explicit
      value to pin the probe count.

    At the test fixtures' N <= 2k the layout resolves to 8 planes and 0
    probes.

    Only distinct vectors are indexed; duplicate members' neighbor lists
    are reconstituted afterwards — see _topk_with_duplicate_collapse
    (identity on a duplicate-free corpus; mandatory on duplicate-
    saturated ones, where the bucket join otherwise goes quadratic in
    the duplication factor — the sf10 canary's 100-dup corpus OOM'd a
    48 GiB heap without it).
    """
    return _topk_with_duplicate_collapse(
        spark, emb_df, k,
        lambda reps, kk: _rescored_topk(
            spark, _lsh_candidates(spark, reps, n_flip), reps, kk
        ),
    )


def _lsh_layout(n_vectors: int) -> tuple[int, int]:
    """(hyperplanes per table, default directed probes) for a corpus of
    n_vectors distinct vectors (see cosine_topk_lsh)."""
    n_planes = max(8, int(n_vectors).bit_length() - 3)
    return n_planes, n_planes - 8


def _lsh_candidates(spark: SparkSession, emb_df: DataFrame,
                    n_flip: int | None) -> DataFrame | None:
    """cosine_topk_lsh's candidate generator: (vec_id, nbr) with vec_id <
    nbr for every probe/member pair sharing a (table, bucket), once per
    shared bucket; None on an empty corpus."""
    n_planes, auto_flip = _lsh_layout(emb_df.count())
    if n_flip is None:
        n_flip = auto_flip
    probe_row = emb_df.select("embedding").first()
    if probe_row is None:
        return None
    dim = len(probe_row[0])
    rng = np.random.default_rng(LSH_SEED)
    planes = rng.standard_normal((LSH_TABLES, n_planes, dim))
    bc = spark.sparkContext.broadcast(planes)

    def signatures(batches):
        # loop-free over rows: one einsum projects every (table, row)
        # pair at once; the (row, table[, probe]) fan-out is
        # np.tile/np.repeat/XOR array construction
        pl = bc.value  # (n_tables, n_planes, dim)
        w = 1 << np.arange(pl.shape[1])
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["embedding"].values).astype(np.float64)
            ids = pdf["vec_id"].values
            T = pl.shape[0]
            proj = np.einsum("nd,tpd->tnp", A, pl)  # (T, n, n_planes)
            home = (proj > 0).dot(w)  # (T, n)
            out_ids = [np.tile(ids, T)]
            out_tbl = [np.repeat(np.arange(T, dtype=np.int32), len(ids))]
            out_bkt = [home.reshape(-1)]
            out_prb = [np.zeros(T * len(ids), dtype=bool)]
            if n_flip:
                # directed probes: flip the n_flip smallest-|margin| bits
                order = np.argsort(np.abs(proj), axis=2, kind="stable")[:, :, :n_flip]
                flips = home[:, :, None] ^ w[order]  # (T, n, n_flip)
                out_ids.append(np.tile(np.repeat(ids, n_flip), T))
                out_tbl.append(np.repeat(np.arange(T, dtype=np.int32),
                                         len(ids) * n_flip))
                out_bkt.append(flips.reshape(-1))
                out_prb.append(np.ones(T * len(ids) * n_flip, dtype=bool))
            yield pd.DataFrame({
                "vec_id": np.concatenate(out_ids),
                "table": np.concatenate(out_tbl),
                "bucket": np.concatenate(out_bkt),
                "is_probe": np.concatenate(out_prb),
            })

    # id-only signatures: the bucket-keyed probe/member join exchanges
    # (id, table, bucket) rows — width independent of the table count and
    # dim; vectors are joined back once after candidate dedup
    sig = emb_df.select("vec_id", "embedding").mapInPandas(
        signatures, schema="vec_id long, table int, bucket long, is_probe boolean"
    )
    members = sig.filter(~F.col("is_probe")).drop("is_probe")
    probes = sig.drop("is_probe")  # home bucket + directed flips
    a, b = probes.alias("a"), members.alias("b")
    return (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.least("a.vec_id", "b.vec_id").alias("vec_id"),
            F.greatest("a.vec_id", "b.vec_id").alias("nbr"),
        )
    )

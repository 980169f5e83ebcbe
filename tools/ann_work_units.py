"""Work-unit accounting for the ANN scale path.

sim_ann_lsh read 93.3 s at sf100 (4.8x/decade) — the worst in-gate
decade ratio.  This tool separates the components that MUST grow with
the corpus (output contract = k rows per member, the duplicate-collapse
shuffle over all N members) from the candidate volume inside the LSH
kernel (which runs on collapsed-unique representatives and must stay
~linear in uniques via the planes autoscale).  A super-linear candidate
count here is the signal to tighten banding; linear-or-flat counts
adjudicate the wall-clock ratio as contract growth, not algorithmic
blow-up.

Usage: python tools/ann_work_units.py <sf_dir> [<sf_dir> ...]
Prints one table row per sf_dir.  The counts come from the kernel's own
duplicate grouping and LSH candidate stage; the tool changes nothing.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from i2mapreduce_spark.catalog import load_tables  # noqa: E402
from i2mapreduce_spark.operators import dedup, similarity  # noqa: E402
from i2mapreduce_spark.session import get_spark  # noqa: E402


def counts_for(spark, sf_dir: str) -> dict:
    load_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    n_total = emb.count()
    # the kernel's own grouping and candidate stage, on one
    # representative per group
    members = dedup.duplicate_groups(
        emb, "vec_id", "embedding", F.md5(F.to_json(F.col("embedding")))
    )
    reps = members.filter(F.col("idx") == 0).select("vec_id", "embedding")
    gstats = members.agg(
        F.count(F.when(F.col("idx") == 0, 1)).alias("uniq"),
        F.max("gsize").alias("max_gsize"),
    ).collect()[0]
    n_uniq, max_gsize = gstats["uniq"], gstats["max_gsize"]
    bucket_pairs = similarity._lsh_candidates(spark, reps, None)
    if bucket_pairs is None:
        return {"sf_dir": sf_dir, "n_total": n_total, "n_uniq": 0}
    n_planes, n_flip = similarity._lsh_layout(n_uniq)
    out_rows = similarity.cosine_topk_lsh(spark, emb, k=5).count()
    return {
        "sf_dir": sf_dir,
        "n_total": n_total,
        "n_uniq": n_uniq,
        "max_gsize": max_gsize,
        "n_planes": n_planes,
        "n_flip": n_flip,
        "sig_rows": n_uniq * similarity.LSH_TABLES * (1 + n_flip),
        "raw_bucket_pairs": bucket_pairs.count(),
        "cand_pairs_deduped": bucket_pairs.dropDuplicates().count(),
        "output_rows": out_rows,
    }


def main() -> None:
    spark = get_spark(app_name="ann-work-units")
    rows = [counts_for(spark, d) for d in sys.argv[1:]]
    cols = ["sf_dir", "n_total", "n_uniq", "max_gsize", "n_planes",
            "n_flip", "sig_rows", "raw_bucket_pairs",
            "cand_pairs_deduped", "output_rows"]
    print("\t".join(cols))
    for r in rows:
        print("\t".join(str(r.get(c, "")) for c in cols))


if __name__ == "__main__":
    main()

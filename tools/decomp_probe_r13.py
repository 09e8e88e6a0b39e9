"""Round-13 decomposition probes (VERDICT r12 Next #5/#6/#7).

Times each STAGE of incremental_cluster_members and dup_pair_evidence
separately (bench methodology: warmup + N timed samples, median+min), plus
an rfm_segments quiet-window probe. Run on an otherwise-idle box; never
co-schedule with bench.py.

Usage: python tools/decomp_probe_r13.py [--samples N] [--sf-dir DIR] [stage...]
Stages: incclumem dupevi rfm  (default: all)
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from wurzel_spark import get_spark  # noqa: E402
from wurzel_spark.tables import table  # noqa: E402
from wurzel_spark.operators import common, dedup  # noqa: E402
from wurzel_spark.queries import relational  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("stages", nargs="*", default=["incclumem", "dupevi", "rfm"])
    ap.add_argument("--samples", type=int, default=5)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()
    stages = args.stages or ["incclumem", "dupevi", "rfm"]

    spark = get_spark("decomp_probe")
    sf_dir = args.sf_dir

    def timed(label, fn, samples=args.samples):
        import gc

        fn()  # warmup
        ts = []
        for _ in range(samples):
            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:  # noqa: BLE001
                pass
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        ts_s = sorted(ts)
        med = ts_s[len(ts_s) // 2]
        print(
            f"{label:45s} med {med:6.3f}  min {ts_s[0]:6.3f}  "
            f"samples {[round(t, 3) for t in ts]}",
            flush=True,
        )
        return med

    if "incclumem" in stages:
        docs = table(spark, sf_dir, "documents")
        print("== incremental_cluster_members decomposition ==")
        # (a) pair family alone (count, no checkpoint)
        timed(
            "a. pair family count (no ckpt)",
            lambda: dedup.ngram_jaccard_pairs(
                docs, threshold=0.5, max_df=dedup.CAPPED_MAX_DF, sort=False
            ).count(),
        )

        # (b) pair family + eager checkpoint (the query's first stage)
        def b_ckpt():
            p = dedup.ngram_jaccard_pairs(
                docs, threshold=0.5, max_df=dedup.CAPPED_MAX_DF, sort=False
            ).localCheckpoint(eager=True)
            p.unpersist()

        timed("b. pair family + localCheckpoint", b_ckpt)

        # (c) checkpoint once, then time ONLY the clustering fold
        pairs = dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, max_df=dedup.CAPPED_MAX_DF, sort=False
        ).localCheckpoint(eager=True)
        is_new_a = F.col("id_a") % 5 == 4
        is_new_b = F.col("id_b") % 5 == 4

        def c_fold():
            old_pairs = pairs.filter(~is_new_a & ~is_new_b)
            new_pairs = pairs.filter(is_new_a | is_new_b)
            labels = dedup.near_dup_cluster_members(old_pairs)
            dedup.merge_cluster_labels(labels, new_pairs).orderBy(
                "doc_id"
            ).count()

        timed("c. cluster fold only (pairs pinned)", c_fold)

        # (d) the full registered query
        timed(
            "d. full q_incremental_cluster_members",
            lambda: dedup.q_incremental_cluster_members(spark, sf_dir).count(),
        )

    if "dupevi" in stages:
        docs = table(spark, sf_dir, "documents")
        print("== dup_pair_evidence decomposition ==")
        # (a) pair family alone (uncapped threshold config the evidence uses)
        timed(
            "a. ngram_jaccard_pairs (evidence config)",
            lambda: dedup.ngram_jaccard_pairs(
                docs, n=3, threshold=0.5, sort=False, max_df=dedup.CAPPED_MAX_DF
            ).count(),
        )

        # (b) pair family -> top-16 checkpoint (first stage of the query)
        def b_top():
            p = dedup.ngram_jaccard_pairs(
                docs, n=3, threshold=0.5, sort=False, max_df=dedup.CAPPED_MAX_DF
            )
            t = (
                p.orderBy(F.col("jaccard").desc(), "id_a", "id_b")
                .limit(dedup.EVIDENCE_TOP_PAIRS)
                .localCheckpoint(eager=True)
            )
            t.unpersist()

        timed("b. + top-16 orderBy/limit ckpt", b_top)

        # (c) gdf pass alone: full-corpus explode + broadcast semi + groupBy
        # (cand built once outside the timer: bounded, ~32 docs' grams)
        p = dedup.ngram_jaccard_pairs(
            docs, n=3, threshold=0.5, sort=False, max_df=dedup.CAPPED_MAX_DF
        )
        top = (
            p.orderBy(F.col("jaccard").desc(), "id_a", "id_b")
            .limit(dedup.EVIDENCE_TOP_PAIRS)
            .localCheckpoint(eager=True)
        )
        ids = (
            top.select(F.col("id_a").alias("id"))
            .unionByName(top.select(F.col("id_b").alias("id")))
            .distinct()
        )
        pruned = (
            common.parallelize(docs)
            .join(F.broadcast(ids), docs["doc_id"] == ids["id"])
            .select(
                "id", F.explode(dedup.shingles(F.col("text"), 3)).alias("gram")
            )
            .localCheckpoint(eager=True)
        )
        cand = pruned.select("gram").distinct().localCheckpoint(eager=True)

        def c_gdf():
            grams = common.parallelize(docs).select(
                F.col("doc_id").alias("id"),
                F.explode(dedup.shingles(F.col("text"), 3)).alias("gram"),
            )
            (
                grams.join(F.broadcast(cand), "gram", "left_semi")
                .groupBy("gram")
                .agg(F.count(F.lit(1)).alias("gram_df"))
                .filter(F.col("gram_df") <= dedup.CAPPED_MAX_DF)
            ).count()

        timed("c. gdf pass (2nd corpus explode)", c_gdf)

        # (d) the full registered query
        timed(
            "d. full q_dup_pair_evidence",
            lambda: dedup.q_dup_pair_evidence(spark, sf_dir).count(),
        )

    if "rfm" in stages:
        print("== rfm_segments quiet probe (VERDICT #7) ==")
        timed(
            "rfm_segments",
            lambda: relational.rfm_segments(spark, sf_dir).count(),
            samples=max(args.samples, 7),
        )


if __name__ == "__main__":
    main()

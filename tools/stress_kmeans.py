"""Large-k Lloyd-assignment stress (SCALE.md's kmeans row measurement).

Replicates the sf0.1 embeddings table `--mult`x (reusing tools/stress.py's
fixture builder) and times ONE Lloyd assignment pass over n = 2000*mult
vectors against k centroids, two ways:

  exact : crossJoin(broadcast(centroids)) + argmin over all k  (n*k*dim)
  pruned: operators/kmeans.kmeans_assign_pruned                 (n*(C+k*nprobe/C)*dim)

Also reports the assignment agreement rate so the measured win is tied to
a quantified (and at nprobe==C, exact) result.

Usage: python -m tools.stress_kmeans --mult 100 --k 100
"""

from __future__ import annotations

import argparse
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--mult", type=int, default=100)
    ap.add_argument("--k", type=int, default=100)
    ap.add_argument("--nprobe", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.functions.vectors import to_double_array
    from quarkus_etl_spark.operators.kmeans import (
        kmeans_assign_pruned,
        quantized_sq_dist,
    )
    from quarkus_etl_spark.session import get_spark
    from tools.stress import build_fixture

    spark = get_spark("stress-kmeans")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.abspath(f".scratch/stress_{args.mult}x")
    build_fixture(spark, args.base, out_dir, args.mult)

    e = load_table(spark, out_dir, "embeddings")
    v = e.select("vec_id", to_double_array("embedding").alias("e")).cache()
    n = v.count()
    # k deterministic seed centroids: first k distinct base vectors
    cents = (
        v.filter(F.col("vec_id") < args.k)
        .select(
            F.col("vec_id").cast("long").alias("cluster"),
            F.col("e").alias("carr"),
        )
        .cache()
    )
    k = cents.count()
    print(f"n={n} k={k} dim=64 nprobe={args.nprobe}", flush=True)

    def run_exact():
        return (
            v.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                F.struct(
                    quantized_sq_dist("e", "carr").alias("dist"),
                    F.col("cluster").alias("cluster"),
                ).alias("dc"),
            )
            .groupBy("vec_id")
            .agg(F.min("dc").alias("m"))
            .select("vec_id", F.col("m.cluster").alias("cluster"))
        )

    t0 = time.monotonic()
    run_exact().write.format("noop").mode("overwrite").save()
    t_exact = time.monotonic() - t0
    print(f"STRESS kmeans_assign_exact  k={k} n={n} secs={t_exact:.1f}", flush=True)

    t0 = time.monotonic()
    pruned = kmeans_assign_pruned(v, cents, nprobe=args.nprobe)
    pruned.write.format("noop").mode("overwrite").save()
    t_pruned = time.monotonic() - t0
    print(f"STRESS kmeans_assign_pruned k={k} n={n} secs={t_pruned:.1f}", flush=True)

    agree = (
        run_exact()
        .withColumnRenamed("cluster", "c_exact")
        .join(
            kmeans_assign_pruned(v, cents, nprobe=args.nprobe).withColumnRenamed(
                "cluster", "c_pruned"
            ),
            "vec_id",
        )
        .select(F.avg((F.col("c_exact") == F.col("c_pruned")).cast("double")))
        .first()[0]
    )
    print(
        f"agreement={agree:.4f} speedup={t_exact / t_pruned:.2f}x",
        flush=True,
    )


if __name__ == "__main__":
    main()

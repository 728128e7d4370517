"""Connected-components dedup-grouping stress benchmark (r4 verdict
item #5): two axes —

1. PAIR SCALE (lsh_stress-style multiplied corpus): planted dup
   multiplier M grows the verified near-dup pair count quadratically
   per cluster while the corpus grows linearly.  The full pipeline
   (minhash -> LSH bands -> exact shingle verify -> CC grouping) is
   timed; wall should track the pair count (candidates-linear), and
   CC rounds should stay FLAT (LSH clusters are near-cliques:
   diameter ~1, so min-label propagation converges in 2-3 rounds no
   matter how many pairs there are).

2. DIAMETER SCALE (worst case for label propagation): synthetic path
   graphs of length D.  Plain min-label propagation needs O(D)
   rounds; with pointer jumping the effective diameter halves per
   round, so rounds ~ log2(D) — the Rastogi et al. logarithmic-rounds
   bound the operator docstring claims.

Usage: python tools/bench_cc_stress.py [sf_dir] [multipliers...]
Writes BENCH/cc_stress.json and prints one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from tools.bench_lsh_stress import build  # noqa: E402


def run_pairs(spark: SparkSession, sf_dir: str, m: int) -> dict:
    """Multiplied-corpus near-dup grouping: LSH -> exact verify ->
    CC; returns pair count, CC rounds, and stage walls."""
    from sonar_spark.config import MinHashConfig
    from sonar_spark.operators.fingerprint import (
        connected_components,
        near_dup_pairs,
    )

    corpus, _lcorpus, wcorpus = build(spark, sf_dir, m)
    n_docs = corpus.count()  # corpus materialization outside the clock
    t0 = time.time()
    verified = near_dup_pairs(
        corpus, wcorpus, MinHashConfig(num_hashes=64, bands=32), 0.8
    ).persist()
    n_pairs = verified.count()
    t_pairs = time.time() - t0

    t1 = time.time()
    st: dict = {}
    labs = connected_components(verified, stats=st)
    n_groups = labs.groupBy("comp").count().where(F.col("count") > 1).count()
    t_cc = time.time() - t1
    verified.unpersist()
    return {
        "multiplier": m,
        "n_docs": int(n_docs),
        "verified_pairs": int(n_pairs),
        "dup_groups": int(n_groups),
        "cc_rounds": st.get("rounds", 0),
        "cc_changed": st.get("changed", []),
        "wall_pairs_sec": round(t_pairs, 2),
        "wall_cc_sec": round(t_cc, 2),
    }


def run_path(spark: SparkSession, length: int) -> dict:
    """Path graph 0-1-2-..-length: worst-case diameter; rounds must
    grow ~log2(length), not ~length."""
    from sonar_spark.operators.fingerprint import connected_components

    edges = spark.range(length).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    t0 = time.time()
    st: dict = {}
    labs = connected_components(edges, max_iter=50, stats=st)
    n_comp = labs.select("comp").distinct().count()
    return {
        "path_len": length,
        "n_components": int(n_comp),
        "cc_rounds": st.get("rounds", 0),
        "log2_len": round(math.log2(length), 1),
        "wall_sec": round(time.time() - t0, 2),
    }


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    mults = [int(a) for a in args] or [1, 5, 10]

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.adaptive.enabled", "true")
        .appName("cc-stress")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    pair_runs = [run_pairs(spark, sf_dir, m) for m in mults]
    path_runs = [run_path(spark, n) for n in (64, 512, 4096)]
    out = {
        "metric": "cc dedup-grouping stress (pair scale + diameter scale)",
        "sf_dir": sf_dir,
        "pair_scale": pair_runs,
        "diameter_scale": path_runs,
    }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/cc_stress.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

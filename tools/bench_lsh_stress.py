"""compare_topk_lsh stress benchmark: time vs candidate-pair count.

Proves the linear-in-candidates claim for the LSH fingerprint-ranking
path (SURVEY §3.3; round-3 verdict item #7): raising the planted
near-dup multiplier M grows the verified candidate-pair count
~quadratically per planted group ((M+1)M/2 pairs) while the corpus
only grows linearly — if the pipeline were corpus-quadratic, wall
time would track N^2; if it is candidates-linear (the design claim:
one LSH band shuffle, exact shingle verify on candidates only, exact
rescoring on verified pairs only), wall time tracks the pair count.

Usage: python tools/bench_lsh_stress.py [sf_dir] [multipliers...]
Writes BENCH/lsh_stress.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def build(spark: SparkSession, sf_dir: str, m: int):
    """Corpus with m planted near-dup copies per selected doc
    (doc_id % 10 == 0, > 3 tokens; copy k drops the last 3 tokens and
    perturbs nothing else — every copy pair verifies at Jaccard >=
    0.8 against the base and each other)."""
    import __spark_entry__ as E

    docs = E._t(spark, sf_dir, "documents")
    tok = E.to_token_table(docs)
    parts = [tok]
    sel = tok.where(
        (F.col("doc_id").cast("long") % 10 == 0) & (F.col("n_tok") > 3)
    )
    for k in range(m):
        parts.append(
            sel.select(
                F.concat(F.col("doc_id"), F.lit(f"_d{k}")).alias("doc_id"),
                F.slice(F.col("tokens"), 1, F.col("n_tok") - 3).alias(
                    "tokens"
                ),
                (F.col("n_tok") - 3).alias("n_tok"),
                F.col("source"),
            )
        )
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)

    ldocs = E.to_token_length_table(docs)
    lsel = ldocs.where(
        (F.col("doc_id").cast("long") % 10 == 0) & (F.col("n_tok") > 3)
    )
    lparts = [ldocs]
    for k in range(m):
        lparts.append(
            lsel.select(
                F.concat(F.col("doc_id"), F.lit(f"_d{k}")).alias("doc_id"),
                F.slice(F.col("tokens"), 1, F.col("n_tok") - 3).alias(
                    "tokens"
                ),
                (F.col("n_tok") - 3).alias("n_tok"),
                F.col("source"),
            )
        )
    lcorpus = lparts[0]
    for p in lparts[1:]:
        lcorpus = lcorpus.unionByName(p)

    wbase = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.split(F.trim(F.col("text")), r"\s+").alias("words"),
    )
    wsel = wbase.where(
        (F.col("doc_id").cast("long") % 10 == 0) & (F.size("words") > 3)
    )
    wparts = [wbase]
    for k in range(m):
        wparts.append(
            wsel.select(
                F.concat(F.col("doc_id"), F.lit(f"_d{k}")).alias("doc_id"),
                F.slice(F.col("words"), 1, F.size("words") - 3).alias(
                    "words"
                ),
            )
        )
    wcorpus = wparts[0]
    for p in wparts[1:]:
        wcorpus = wcorpus.unionByName(p)
    return corpus, lcorpus, wcorpus


def run_once(spark: SparkSession, sf_dir: str, m: int) -> dict:
    import __spark_entry__ as E
    from sonar_spark.config import MinHashConfig
    from sonar_spark.operators.compare import compare_topk
    from sonar_spark.operators.features import frame_features_arrow
    from sonar_spark.operators.fingerprint import near_dup_pairs
    from sonar_spark.config import FrameConfig

    corpus, lcorpus, wcorpus = build(spark, sf_dir, m)
    n_docs = corpus.count()  # corpus materialization outside the clock
    t0 = time.time()
    verified = near_dup_pairs(
        corpus, wcorpus, MinHashConfig(num_hashes=64, bands=32), 0.8
    )
    sym = verified.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("query_id"),
                    F.col("doc_b").alias("match_id"),
                ),
                F.struct(
                    F.col("doc_b").alias("query_id"),
                    F.col("doc_a").alias("match_id"),
                ),
            )
        ).alias("__p")
    ).select("__p.query_id", "__p.match_id")
    feats = frame_features_arrow(lcorpus, FrameConfig(window=32, hop=8))
    fps = E._explicit_doc_stats(feats)
    out = compare_topk(fps, fps, k=3, candidates=sym)
    n_out = out.count()
    wall = time.time() - t0
    n_pairs = sym.count()  # candidate re-count outside the clock
    return {
        "multiplier": m,
        "corpus_docs": n_docs,
        "verified_pairs": n_pairs,
        "topk_rows": n_out,
        "wall_sec": round(wall, 3),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    ms = [int(x) for x in sys.argv[2:]] or [1, 5, 10]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "100g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .appName("lsh-stress")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM + parquet cache so the M runs are comparable
    run_once(spark, sf_dir, 1)
    rows = [run_once(spark, sf_dir, m) for m in ms]
    rec = {"sf_dir": sf_dir, "cpus": int(cpus), "runs": rows}
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/lsh_stress.json", "w") as f:
        json.dump(rec, f, indent=2)
    print(json.dumps(rec))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""The benchmark workloads.

Each workload turns a seed into input files (perfbench.inputs), then
runs *passes*: one pass is the workload's unit of user-visible work,
made of named *steps* that each call a public function of one module
and force its result.  ``run_pass`` times the steps and checks the
results; ``traced_pass`` runs the same work with every layer forced in
its own span and returns the per-layer numbers.

All are closed loops with one client: the next step is
submitted only after the previous one has returned.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import inputs


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under path."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


class Step:
    """Outcome of one timed step."""

    def __init__(self, name: str, seconds: float, ok: bool, note: str = ""):
        self.name, self.seconds, self.ok, self.note = name, seconds, ok, note


def timed(name: str, fn, check=None) -> Step:
    """Run fn(), time it, then (untimed) check its result.  An
    exception or a failed check marks the step failed."""
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception as e:  # a failed operation is counted, not fatal
        return Step(name, time.perf_counter() - t0, False, repr(e)[:300])
    dt = time.perf_counter() - t0
    if check is None:
        return Step(name, dt, True)
    try:
        problem = check(out)
    except Exception as e:
        problem = f"check raised {e!r}"[:300]
    return Step(name, dt, not problem, problem or "")


# ----------------------------------------------------- featurize_asof


class FeaturizeAsof:
    """bench.py's flagship plan over a seeded token table: read ->
    frame_features_arrow (W=64/H=16, 15 core features) -> as-of join
    (union strategy) against the 64x128 catalog -> aggregate."""

    name = "featurize_asof"
    # untimed passes after the cold one: pass time and pass CPU time
    # keep falling over the first warm passes (Python workers and JIT
    # settling); after two or three, the first timed passes still used
    # ~10% more CPU than the later ones
    warm_passes = 4

    def __init__(self, seed: int, smoke: bool, work: str):
        self.n_docs = 2000 if smoke else 24000
        self.dir, self.exp = inputs.token_inputs(seed, self.n_docs)
        self.work = work

    def docs_per_pass(self) -> int:
        return self.n_docs

    def _left(self, spark):
        from pyspark.sql import functions as F

        from sonar_spark.config import FeatureConfig, FrameConfig
        from sonar_spark.operators.features import frame_features_arrow

        toks = spark.read.parquet(os.path.join(self.dir, "tokens"))
        feats = frame_features_arrow(
            toks,
            FrameConfig(window=64, hop=16),
            FeatureConfig(enable_spectral=False, enable_mfcc=False),
        )
        return feats.select(
            "rms_energy",
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(64)).alias("entity"),
            F.col("frame_ts").alias("ts"),
        )

    def _joined_agg(self, spark, left):
        from pyspark.sql import functions as F

        from sonar_spark.operators.asof import asof_join

        catalog = spark.read.parquet(
            os.path.join(self.dir, "catalog.parquet")
        ).withColumn("entity", F.substring("entity", 4, 8).cast("long"))
        joined = asof_join(left, catalog, strategy="union")
        return joined.select(
            F.count("*").alias("n_frames"),
            F.sum(F.col("matched_ref_ts").isNotNull().cast("long")).alias("n_matched"),
            F.round(F.sum("rms_energy"), 3).alias("sum_rms"),
        )

    def _check(self, rows) -> str:
        r = rows[0]
        e = self.exp
        if r["n_frames"] != e["n_frames"] or r["n_matched"] != e["n_matched"]:
            return f"frames/matched {r['n_frames']}/{r['n_matched']} != {e['n_frames']}/{e['n_matched']}"
        if not np.isclose(r["sum_rms"], e["sum_rms"], rtol=1e-9, atol=1e-3):
            return f"sum_rms {r['sum_rms']} != {e['sum_rms']}"
        return ""

    def corrupt(self) -> None:
        self.exp = {**self.exp, "n_frames": self.exp["n_frames"] + 1}

    def named_metrics(self, passes) -> dict:
        walls = [s.seconds for ps in passes for s in ps]
        return {"featurize_docs_per_s": self.n_docs * len(walls) / sum(walls),
                "samples": len(walls)}

    def scaling(self, spark1, wall_n: float, n: int) -> float:
        """thr(local[n]) / (n * thr(local[1])) on the same input, from
        the second of two passes on a local[1] session."""
        self.run_pass(spark1, first=False)
        wall_1 = sum(s.seconds for s in self.run_pass(spark1, first=False))
        return wall_1 / (n * wall_n)

    def run_pass(self, spark, first: bool) -> list[Step]:
        step = timed(
            "featurize_asof",
            lambda: self._joined_agg(spark, self._left(spark)).collect(),
            self._check,
        )
        return [step]

    def traced_pass(self, spark, tr) -> tuple[dict, dict]:
        feats = os.path.join(self.work, "trace_feats")
        shutil.rmtree(feats, ignore_errors=True)
        rows = None
        with tr.span("featurize_asof"):
            with tr.span("features"):
                self._left(spark).write.parquet(feats)
            with tr.span("asof"):
                rows = self._joined_agg(spark, spark.read.parquet(feats)).collect()
        ok = not self._check(rows)
        s = tr.summary()
        f, a = s["features"], s["asof"]
        r = rows[0]
        return {
            "ok": ok,
            "features.wall_s": f["wall_s"],
            "features.frames": r["n_frames"],
            "features.tasks": f["tasks"],
            "features.task_skew": f["task_skew"],
            "features.py_start_s": f["py_start_s"],
            "features.py_init_s": f["py_init_s"],
            "features.py_run_s": f["py_run_s"],
            "features.arrow_in_mb": f["arrow_in_b"] / 2**20,
            "features.arrow_out_mb": f["arrow_out_b"] / 2**20,
            "asof.wall_s": a["wall_s"],
            "asof.shuffle_write_mb": a["shuffle_write_b"] / 2**20,
            "asof.shuffle_read_mb": a["shuffle_read_b"] / 2**20,
            "asof.spill_mb": a["spill_b"] / 2**20,
            "asof.task_skew": a["task_skew"],
            "asof.match_ratio": r["n_matched"] / max(r["n_frames"], 1),
        }, s["featurize_asof"]


# ----------------------------------------------------- curation_dedup


class CurationLayers:
    """CurationJob end to end (ensure_labels -> run -> run_chunks) into
    a fresh output directory, over a corpus with planted near-dup
    clusters, preceded by the fingerprint chain it runs (MinHash ->
    LSH -> shingle verify -> connected components) with every step
    forced in its own span.  Traced runs only: a whole CurationJob
    costs ~17 s warm and ~33 s cold on any corpus size, which an
    untraced run cannot afford next to the other steps."""

    def __init__(self, seed: int, smoke: bool, work: str):
        self.n_docs = 400 if smoke else 600
        self.path, self.exp = inputs.dup_corpus(seed, self.n_docs)
        self.path = os.path.join(self.path, "docs.parquet")
        self.work = work

    def _check_labels(self, spark, job) -> str:
        got = {
            r["doc_id"]: r["component"]
            for r in spark.read.parquet(job.labels_dir).collect()
        }
        comps = self.exp["components"]
        if len(got) != self.n_docs:
            return f"{len(got)} labelled docs != {self.n_docs}"
        bad = [d for d, c in got.items() if comps.get(d, d) != c]
        return f"{len(bad)} docs in the wrong component, e.g. {bad[:3]}" if bad else ""

    def _check_decisions(self, spark, job) -> str:
        from pyspark.sql import functions as F

        d = job.decisions(spark)
        n, kept = d.count(), d.where(F.col("keep")).count()
        if (n, kept) != (self.n_docs, self.exp["n_kept"]):
            return f"decisions {n}/{kept} kept != {self.n_docs}/{self.exp['n_kept']}"
        return ""

    def _check_chunks(self, spark, job) -> str:
        n = job.chunks(spark).count()
        return "" if n == self.exp["n_chunks"] else f"{n} chunks != {self.exp['n_chunks']}"

    def trace(self, spark, tr) -> bool:
        """Run the chain and the job in spans under ``curation_job``;
        returns whether every result checked out.  ``layer`` turns the
        tracer's summary into the per-layer numbers afterwards."""
        from pyspark.sql import functions as F

        from sonar_spark.functions.text import to_token_table
        from sonar_spark.operators.fingerprint import (
            connected_components,
            lsh_candidate_pairs,
            minhash_fingerprints,
            shingle_hash_table,
        )
        from sonar_spark.plans.curation import CurationJob

        w = os.path.join(self.work, "trace_fp")
        shutil.rmtree(w, ignore_errors=True)
        p = {k: os.path.join(w, k) for k in ("sigs", "cand", "sh", "pairs", "cc")}
        docs = spark.read.parquet(self.path)
        # 4 buckets, not the job's default 16: with a few hundred docs
        # in the corpus, 16 buckets would time mostly per-bucket jobs
        job = CurationJob(os.path.join(self.work, "curation"), n_buckets=4)
        cfg = job.minhash_cfg
        cc_stats: dict = {}
        with tr.span("curation_job"):
            with tr.span("fingerprint"):
                with tr.span("fingerprint.minhash"):
                    minhash_fingerprints(to_token_table(docs), cfg).write.parquet(p["sigs"])
                with tr.span("fingerprint.lsh"):
                    lsh_candidate_pairs(
                        spark.read.parquet(p["sigs"]), cfg, with_est=False
                    ).write.parquet(p["cand"])
                with tr.span("fingerprint.shingle"):
                    shingle_hash_table(
                        docs.select(
                            "doc_id", F.split(F.trim("text"), r"\s+").alias("words")
                        )
                    ).write.parquet(p["sh"])
                with tr.span("fingerprint.verify"):
                    sh = spark.read.parquet(p["sh"])
                    j = (
                        spark.read.parquet(p["cand"])
                        .join(sh.toDF("doc_a", "sh_a"), "doc_a")
                        .join(sh.toDF("doc_b", "sh_b"), "doc_b")
                    )
                    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
                        F.array_union("sh_a", "sh_b")
                    )
                    j.where(jac >= job.policy.jaccard).select(
                        "doc_a", "doc_b"
                    ).write.parquet(p["pairs"])
                with tr.span("fingerprint.cc"):
                    connected_components(
                        spark.read.parquet(p["pairs"]), stats=cc_stats
                    ).write.parquet(p["cc"])
            with tr.span("curation"):
                for name, fn in (
                    ("curation.labels", job.ensure_labels),
                    ("curation.decisions", job.run),
                    ("curation.chunks", job.run_chunks),
                ):
                    with tr.span(name):
                        fn(docs)
        ok = not (
            self._check_labels(spark, job)
            or self._check_decisions(spark, job)
            or self._check_chunks(spark, job)
        )
        self.counts = {
            "cand": spark.read.parquet(p["cand"]).count(),
            "verified": spark.read.parquet(p["pairs"]).count(),
            "kept": job.decisions(spark).where(F.col("keep")).count(),
            "cc_rounds": cc_stats.get("rounds", 0),
            "write_b": _dir_bytes(job.out_dir)[0],
        }
        shutil.rmtree(job.out_dir, ignore_errors=True)
        shutil.rmtree(w, ignore_errors=True)
        return ok

    def layer(self, s: dict) -> dict:
        fp = s["fingerprint"]
        cur = [s[f"curation.{k}"] for k in ("labels", "decisions", "chunks")]
        cand, verified = self.counts["cand"], self.counts["verified"]
        write_b = self.counts["write_b"]
        return {
            "fingerprint.minhash_s": s["fingerprint.minhash"]["wall_s"],
            "fingerprint.lsh_s": s["fingerprint.lsh"]["wall_s"],
            "fingerprint.shingle_s": s["fingerprint.shingle"]["wall_s"],
            "fingerprint.verify_s": s["fingerprint.verify"]["wall_s"],
            "fingerprint.cc_s": s["fingerprint.cc"]["wall_s"],
            "fingerprint.cc_jobs": s["fingerprint.cc"]["jobs"],
            "fingerprint.cc_rounds": self.counts["cc_rounds"],
            "fingerprint.candidates": cand,
            "fingerprint.verified_pairs": verified,
            "fingerprint.verify_yield": verified / max(cand, 1),
            "fingerprint.shuffle_write_mb": fp["shuffle_write_b"] / 2**20,
            "fingerprint.py_start_s": fp["py_start_s"],
            "curation.labels_s": cur[0]["wall_s"],
            "curation.decisions_s": cur[1]["wall_s"],
            "curation.chunks_s": cur[2]["wall_s"],
            "curation.driver_s": sum(c["wall_s"] - c["job_s"] for c in cur),
            "curation.write_mb": write_b / 2**20,
            "curation.write_amp": write_b / self.exp["input_bytes"],
            "curation.kept_ratio": self.counts["kept"] / self.n_docs,
        }


# -------------------------------------------------- store_and_queries

# Feature-store tables built each pass: a subset of BUILDERS, because
# the whole build takes ~18 s warm even on tiny tables and would not
# fit a run.  The near-dup label table (bench.py's extra root) is left
# out too: its connected-components rounds made the pass wall vary by
# ~20% run to run; the near-dup chain is timed by the minhash_dedup
# leaf here and layer by layer in the traced run.  The frame-rms chain runs
# the Arrow feature kernel and has a dependency edge; pitch_det6
# feeds the pitch_tracked leaf.
STORE_TABLES = ["frame_rms_w16h4", "onsets_rms", "pitch_det6"]
# bench.py leaves run each pass, chosen for the same reason: the as-of
# family, the inline near-dup chain (minhash_dedup), a store-backed
# leaf, and cheap scan/window/aggregate leaves whose time is mostly
# fixed per-query cost.
LEAVES = [
    "asof_events", "asof_tolerance", "minhash_dedup", "pitch_tracked",
    "frame_energy", "windowed_stats", "sessionize_gap", "topk_orders",
    "chunk_tokens",
]
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _normalize(df):
    """tools/check_oracle.py's normalization, kept here so the
    benchmark's checks do not change when the repo's tools do."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    df = df.round(6)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_match(spark_df, oracle_df) -> str:
    """'' when the two results hold the same rows (order-insensitive,
    floats rounded to 6 decimals and compared with np.isclose)."""
    a, b = _normalize(spark_df), _normalize(oracle_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)}"
    for c in a.columns:
        if a[c].dtype == "float64":
            if not np.isclose(a[c], b[c], atol=1e-9, equal_nan=True).all():
                return f"column {c} differs"
        elif not a[c].equals(b[c]):
            return f"column {c} differs"
    return ""


class StoreAndQueries:
    """A fresh feature-store build (writes) followed by bench.py leaves
    through queries() with the noop sink (reads), over seeded tables
    in the test-data schema.  The seed also permutes the leaf order."""

    name = "store_and_queries"
    warm_passes = 0

    def __init__(self, seed: int, smoke: bool, work: str):
        self.seed, self.smoke = seed, smoke
        self.sf, self.exp = inputs.star_schema(seed, 1)
        self.leaves = [LEAVES[i] for i in np.random.default_rng(seed).permutation(len(LEAVES))]
        if smoke:
            self.leaves = self.leaves[:4]
        self.work = work
        self.drop_oracle_row = False

    def corrupt(self) -> None:
        self.drop_oracle_row = True

    def named_metrics(self, passes) -> dict:
        builds = [s.seconds for ps in passes for s in ps if s.name == "store_build"]
        leaves = [s.seconds for ps in passes for s in ps if s.name != "store_build"]
        mixes = [sum(s.seconds for s in ps if s.name != "store_build") for ps in passes]
        return {
            "store_build_s": statistics.median(builds),
            "query_mix_s": statistics.median(mixes),
            "query_p50_s": statistics.median(leaves),
            "query_p80_s": float(np.percentile(leaves, 80)),
            "samples": {"passes": len(passes), "leaves": len(leaves)},
        }

    def docs_per_pass(self) -> int:
        return self.exp["n_docs"]

    def _store(self, spark):
        import __spark_entry__ as E

        st = E._store(spark, self.sf)
        shutil.rmtree(st.base_dir, ignore_errors=True)
        return E._store(spark, self.sf)

    def _build(self, spark, store):
        from sonar_spark.plans.feature_tables import build_all

        return build_all(spark, self.sf, store, tables=STORE_TABLES)

    def _oracle(self):
        import duckdb

        import __spark_entry__ as E

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.sf, t)}.parquet')"
            )
        return con, E.oracle_sql()

    def run_pass(self, spark, first: bool) -> list[Step]:
        import __spark_entry__ as E

        qs = E.queries()
        steps = []
        store = self._store(spark)
        st = timed(
            "store_build", lambda: self._build(spark, store),
            lambda n: "" if len(n) == len(STORE_TABLES) else f"built {n}",
        )
        steps.append(st)
        con, oracles = self._oracle() if first else (None, None)
        for leaf in self.leaves:
            if first:  # warm-up pass: collect and check against DuckDB
                def check(pdf, leaf=leaf):
                    odf = con.execute(oracles[leaf]).df()
                    if self.drop_oracle_row:
                        odf = odf.iloc[1:]
                    return frames_match(pdf, odf)

                st = timed(leaf, lambda: qs[leaf](spark, self.sf).toPandas(), check)
            else:
                st = timed(
                    leaf,
                    lambda: qs[leaf](spark, self.sf).write.format("noop").mode("overwrite").save(),
                )
            steps.append(st)
        if con is not None:
            con.close()
        return steps

    def traced_pass(self, spark, tr) -> tuple[dict, dict]:
        import __spark_entry__ as E

        qs = E.queries()
        out: dict = {"ok": True}
        plan_s = 0.0
        store = self._store(spark)
        with tr.span("store_and_queries"):
            with tr.span("store"):
                built = self._build(spark, store)
            for leaf in self.leaves:
                with tr.span(f"query.{leaf}"):
                    t0 = time.perf_counter()
                    df = qs[leaf](spark, self.sf)
                    df._jdf.queryExecution().executedPlan()
                    plan_s += time.perf_counter() - t0
                    df.write.format("noop").mode("overwrite").save()
        cur = CurationLayers(self.seed, self.smoke, self.work)
        out["ok"] = len(built) == len(STORE_TABLES) and cur.trace(spark, tr)
        s = tr.summary()
        st = s["store"]
        write_b, files = _dir_bytes(store.base_dir)
        build_sum = sum(m["build_wall_sec"] for m in store.metrics())
        q = [s[f"query.{leaf}"] for leaf in self.leaves]
        out.update({
            "store.tables": len(store.metrics()),
            "store.write_mb": write_b / 2**20,
            "store.files": files,
            "store.overlap": build_sum / st["wall_s"],
            "store.driver_s": st["wall_s"] - st["job_s"],
            "query.plan_s": plan_s,
            "query.jobs": sum(x["jobs"] for x in q),
            "query.stages": sum(x["stages"] for x in q),
            "query.py_start_s": sum(x["py_start_s"] for x in q),
            "query.shuffle_write_mb": sum(x["shuffle_write_b"] for x in q) / 2**20,
        })
        for leaf, x in zip(self.leaves, q):
            out[f"query.{leaf}_s"] = x["wall_s"]
        out.update(cur.layer(s))
        return out, s["store_and_queries"]


WORKLOADS = {w.name: w for w in (FeaturizeAsof, StoreAndQueries)}

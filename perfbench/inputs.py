"""Seeded input generators for the benchmark.

Every generator is pure numpy/pyarrow (no Spark), is a function of
(seed, size) only, and writes parquet files plus an ``expected.json``
with the answers the benchmark checks against.  Outputs are cached
under ``perfbench/.cache/<kind>-<version>-s<seed>-<size>`` so a
repeated seed reuses the same files; the program under test only ever
receives file paths.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
GEN_VERSION = "v1"

# ---------------------------------------------------------------- cache


def cached(kind: str, seed: int, size: str, build) -> tuple[str, dict]:
    """Return (dir, expected) for one generated input set, building it
    with ``build(tmp_dir, rng) -> expected`` on a cache miss.  The set
    lands by an atomic directory rename, so an interrupted build never
    leaves a half-written set behind."""
    path = os.path.join(CACHE, f"{kind}-{GEN_VERSION}-s{seed}-{size}")
    exp_file = os.path.join(path, "expected.json")
    if not os.path.exists(exp_file):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        expected = build(tmp, np.random.default_rng([seed, len(kind)]))
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(expected, f)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(exp_file) as f:
        return path, json.load(f)


# ------------------------------------------- Spark-compatible xxhash64

_M = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as Spark's ``xxhash64`` computes it for a
    string column (seed 42), returned as a signed 64-bit integer."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M,
             (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i:i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M
        for x in v:
            h = (((h ^ _round(0, x)) * _P1) + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        k = _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i:i + 4], "little")
        h = (_rotl(h ^ (k * _P1 & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * _P5 & _M), 11) * _P1) & _M
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M
    h = ((h ^ (h >> 29)) * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


# ------------------------------------------- featurize_asof: tokens

VOCAB = 50_257
SOURCES = ("web", "books", "code", "news")
W, H = 64, 16  # the flagship's FrameConfig(window=64, hop=16)
N_ENT, ROWS_PER_ENT = 64, 128


def token_inputs(seed: int, n_docs: int, n_files: int = 16) -> tuple[str, dict]:
    """input_hint token table (doc_id, tokens, n_tok, source) split
    over ``n_files`` files, plus the 64x128 as-of catalog, plus the
    independently computed n_frames / n_matched / sum_rms of the
    flagship plan (featurize W=64/H=16 -> as-of join -> aggregate)."""

    def build(out: str, rng: np.random.Generator) -> dict:
        lens = np.clip(np.exp(rng.normal(5.5, 0.8, n_docs)), 32, 8192)
        lens = lens.astype(np.int64)
        flat = rng.integers(0, VOCAB, size=int(lens.sum()), dtype=np.int32)
        ids = [f"doc{i:08d}" for i in range(n_docs)]
        offs = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
        table = pa.table({
            "doc_id": pa.array(ids),
            "tokens": pa.ListArray.from_arrays(pa.array(offs), pa.array(flat)),
            "n_tok": pa.array(lens.astype(np.int32)),
            "source": pa.array([SOURCES[i % 4] for i in range(n_docs)]),
        })
        os.makedirs(os.path.join(out, "tokens"))
        step = -(-n_docs // n_files)
        for f in range(n_files):
            pq.write_table(
                table.slice(f * step, step),
                os.path.join(out, "tokens", f"part-{f:03d}.parquet"),
            )

        # catalog: sorted irregular ref_ts per entity with one
        # duplicate timestamp (tie-break) and a leading gap (no match)
        ts = np.sort(rng.integers(64, 8192, size=(N_ENT, ROWS_PER_ENT)), axis=1)
        ts[:, 1] = ts[:, 0]
        feats = rng.standard_normal((N_ENT * ROWS_PER_ENT, 13)).round(6)
        cat = pa.table({
            "entity": pa.array(
                [f"ent{e:04d}" for e in range(N_ENT) for _ in range(ROWS_PER_ENT)]
            ),
            "ref_ts": pa.array(ts.ravel().astype(np.int64)),
            "ref_version": pa.array(
                np.tile(np.arange(ROWS_PER_ENT, dtype=np.int32), N_ENT)
            ),
            "ref_features": pa.array(list(feats)),
        })
        pq.write_table(cat, os.path.join(out, "catalog.parquet"))

        # independent recomputation: frames per doc, per-frame rms from
        # exact integer prefix sums of x^2, match iff frame_ts >= the
        # entity's first ref_ts
        nf = np.where(lens >= W, (lens - W) // H + 1, 0)
        ent = np.array([xxhash64(d.encode()) % N_ENT for d in ids])
        first_ts = ts[:, 0][ent]
        doc = np.repeat(np.arange(n_docs), nf)
        fidx = np.arange(int(nf.sum())) - np.repeat(np.cumsum(nf) - nf, nf)
        start = offs[:-1].astype(np.int64)[doc] + fidx * H
        sq = np.concatenate(([0], np.cumsum(flat.astype(np.int64) ** 2)))
        rms = np.sqrt((sq[start + W] - sq[start]) / W)
        return {
            "n_docs": n_docs,
            "n_frames": int(nf.sum()),
            "n_matched": int((fidx * H >= first_ts[doc]).sum()),
            "sum_rms": float(rms.sum()),
        }

    return cached("tokens", seed, f"n{n_docs}", build)


# ---------------------------------------- curation_dedup: dup corpus


def _words(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters, size=rng.integers(3, 9))))
    return sorted(out)


def _shingles(ws: list[str], k: int = 4) -> set[str]:
    return {" ".join(ws[i:i + k]) for i in range(max(len(ws) - k + 1, 1))}


def _jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def dup_corpus(seed: int, n_docs: int) -> tuple[str, dict]:
    """Text corpus (doc_id, text, source) with planted near-duplicate
    clusters and ground-truth components.

    - cluster members are the cluster's base text with one word
      substituted each, so every member pair has word-4-shingle
      Jaccard >= 0.85 (checked here);
    - "hard negatives" keep the first half of some base text and
      replace the rest, so they become LSH candidates with Jaccard
      <= 0.5 (checked here) and must stay singletons;
    - every other document is fresh random text.

    expected.json carries the component of each clustered doc
    (singletons are implicit), the number of documents the keep
    policy keeps, and the chunk count of the kept documents."""

    def build(out: str, rng: np.random.Generator) -> dict:
        vocab = _words(rng, 3000)

        def text(n: int) -> list[str]:
            return [vocab[j] for j in rng.integers(0, len(vocab), n)]

        docs: list[list[str]] = []
        comp: dict[int, int] = {}
        negatives: list[tuple[int, int]] = []
        while len(comp) < int(n_docs * 0.3):
            base = text(int(rng.integers(150, 300)))
            size = int(rng.choice([2, 2, 2, 3, 3, 4, 5, 8]))
            first = len(docs)
            for m in range(size):
                ws = list(base)
                if m:  # member 0 is the base itself
                    ws[int(rng.integers(0, len(ws)))] = vocab[
                        int(rng.integers(0, len(vocab)))
                    ]
                comp[len(docs)] = first
                docs.append(ws)
            if rng.random() < 0.25:  # a hard negative next to it
                half = len(base) // 2
                negatives.append((first, len(docs)))
                docs.append(base[:half] + text(len(base) - half + 40))
        while len(docs) < n_docs:
            docs.append(text(int(rng.integers(20, 300))))
        docs = docs[:n_docs]
        comp = {i: c for i, c in comp.items() if i < n_docs and c < n_docs}

        # certify the planted structure before anything uses it
        members: dict[int, list[int]] = {}
        for i, c in comp.items():
            members.setdefault(c, []).append(i)
        for c, ms in members.items():
            for a in ms:
                for b in ms:
                    if a < b and _jaccard(docs[a], docs[b]) < 0.85:
                        raise RuntimeError("planted pair below 0.85")
        for a, b in negatives:
            if b < n_docs and _jaccard(docs[a], docs[b]) > 0.5:
                raise RuntimeError("hard negative above 0.5")
        order = rng.permutation(n_docs)  # clusters not contiguous in ids
        ids = [f"c{int(order[i]):07d}" for i in range(n_docs)]
        texts = [" ".join(ws) + ("." if i % 3 else "") for i, ws in enumerate(docs)]

        # keep policy (CurationPolicy defaults): canonical (smallest id
        # in its component) and quality >= 0.5 and n_tokens >= 5
        canon = {}
        for c, ms in members.items():
            canon[c] = min(ids[i] for i in ms)
        kept = chunks = 0
        for i, t in enumerate(texts):
            if i in comp and canon[comp[i]] != ids[i]:
                continue
            n = len(t.split())
            alpha = sum(ch.isalpha() for ch in t) / max(len(t), 1)
            wl = len(t.strip()) / max(n, 1)
            q = 0.4 * alpha + 0.4 * (1.0 if 3.0 <= wl <= 10.0 else 0.5)
            q += 0.2 * (1.0 if t.endswith(".") else 0.0)
            if round(q, 6) >= 0.5 and n >= 5:
                kept += 1
                chunks += (n - 1) // 24 + 1  # window 32 / stride 24
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids),
                "text": pa.array(texts),
                "source": pa.array([SOURCES[i % 4] for i in range(n_docs)]),
            }),
            os.path.join(out, "docs.parquet"),
        )
        return {
            "n_docs": n_docs,
            "input_bytes": os.path.getsize(os.path.join(out, "docs.parquet")),
            "components": {ids[i]: canon[c] for i, c in comp.items()},
            "n_kept": kept,
            "n_chunks": chunks,
        }

    return cached("corpus", seed, f"n{n_docs}", build)


# ------------------------------------ store_and_queries: star schema

DOC_WORDS = (
    "scan column window order sort part agg value line key join merge "
    "group query a vector hash slow stream filter fast the batch spark "
    "table small data big customer row"
).split()


def star_schema(seed: int, scale: int) -> tuple[str, dict]:
    """The ten test-data tables the driver queries read (TPC-H-ish
    star schema plus events, documents and embeddings), with the same
    names, column types and value domains, ``scale`` x (6000 lineitem
    rows, 1500 orders, 1000 events, 500 documents, 500 embeddings)."""

    def build(out: str, rng: np.random.Generator) -> dict:
        def write(name: str, cols: dict) -> None:
            pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

        def pick(options, n):
            return [options[j] for j in rng.integers(0, len(options), n)]

        def money(lo, hi, n):
            return np.round(rng.uniform(lo, hi, n), 2)

        n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
        n_ord, n_line = 1500 * scale, 6000 * scale
        n_ev, n_doc = 1000 * scale, 500 * scale
        i32, i64 = pa.int32(), pa.int64()
        write("region", {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })
        write("nation", {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        })
        write("customer", {
            "c_custkey": pa.array(range(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust),
        })
        write("supplier", {
            "s_suppkey": pa.array(range(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        })
        write("part", {
            "p_partkey": pa.array(range(n_part), i64),
            "p_name": [f"{a} {b}" for a, b in zip(
                pick("small blue cold old new hot red large".split(), n_part),
                pick("widget rod ring anvil plate bolt gear gizmo".split(), n_part),
            )],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 200) * 0.1, 2),
        })
        day = np.datetime64("1995-01-01", "us")
        odate = day + rng.integers(0, 2404, n_ord) * np.timedelta64(1, "D")
        write("orders", {
            "o_orderkey": pa.array(range(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": pa.array(odate),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord),
        })
        lok = np.sort(rng.integers(0, n_ord, n_line))
        lnum = np.ones(n_line, dtype=np.int32)
        for i in range(1, n_line):
            if lok[i] == lok[i - 1]:
                lnum[i] = lnum[i - 1] + 1
        qty = rng.integers(1, 51, n_line).astype(np.float64)
        write("lineitem", {
            "l_orderkey": pa.array(lok, i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(lnum, i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": pa.array(
                odate[lok] + rng.integers(1, 122, n_line) * np.timedelta64(1, "D")
            ),
        })
        t0 = np.datetime64("2024-01-01T00:00:00", "us")
        ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
        write("events", {
            "event_id": pa.array(range(n_ev), i64),
            "ts": pa.array(t0 + ev_us.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 15, n_ev), i64),
            "event_type": pick(["click", "error", "purchase", "signup",
                                "view"], n_ev),
            "value": money(0.01, 330, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        })
        texts = []
        for _ in range(n_doc):
            t = " ".join(pick(DOC_WORDS, int(rng.integers(10, 100))))
            texts.append(t + " dup" if rng.random() < 0.05 else t)
        write("documents", {
            "doc_id": pa.array(range(n_doc), i64),
            "text": texts,
            "lang": pick(["de", "en", "es", "fr", "zh"], n_doc),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        })
        emb = (rng.standard_normal((n_doc, 64)) * 0.125).astype(np.float32)
        write("embeddings", {
            "vec_id": pa.array(range(n_doc), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_doc), i32),
        })
        return {"n_docs": n_doc}

    return cached("star", seed, f"x{scale}", build)

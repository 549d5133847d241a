#!/usr/bin/env python3
"""Golden parquets for the pipeline/ops queries that DuckDB SQL cannot
express (minhash/simhash/LSH/IVF/chunker/mapreduce/facade paths).

Each golden is an INDEPENDENT Python reimplementation of the documented
algorithm (or an execution of the REFERENCE's own functions for
operators the reference defines: chunk_lines, the mapreduce fold),
bit-exact with the Scala engine by construction:

- all float accumulation is sequential IEEE-double in the same element
  order as the Scala loops (Python floats ARE IEEE doubles);
- float32 narrowing goes through numpy.float32 round-trips exactly
  where the Scala code calls .toFloat;
- integer hashing (FNV-1a, splitmix64, java.util.Random's LCG,
  Mersenne-61 universal hashing) is replayed with masked 64-bit
  integer arithmetic;
- Spark's round() = java BigDecimal.valueOf(double) half-up is
  replayed via Decimal(repr(x)).quantize(HALF_UP).

Inputs are the sf0.01 test tables — the scale the driver's correctness
gate runs at; the oracle SQL in Queries.opsSql reads these files
directly. Regenerate after intentionally changing any covered
algorithm:  python3 tools/gen_pipeline_golden.py
"""
import math
import pathlib
import re
import sys
from decimal import Decimal, ROUND_HALF_UP

import duckdb
import numpy as np
import pandas as pd

REPO = pathlib.Path(__file__).resolve().parent.parent
GOLD = REPO / "src/test/resources/golden/pipeline"
SF = "/root/testdata/sf0.01"
REF = "/root/reference/debgpt"
M64 = (1 << 64) - 1
MERSENNE_P = (1 << 61) - 1


# --------------------------------------------------------------- helpers
def s64(x: int) -> int:
    """Interpret a masked 64-bit value as signed (Scala Long)."""
    x &= M64
    return x - (1 << 64) if x >= (1 << 63) else x


def f32(x) -> float:
    return float(np.float32(x))


def round_half_up(x: float, scale: int) -> float:
    """Spark round(col, scale) on DOUBLE: BigDecimal.valueOf half-up."""
    return float(Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP))


def fnv1a64(s: str) -> int:
    h = 0xCBF29CE484222325
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & M64
    return h


def splitmix64(x0: int) -> int:
    z = (x0 + 0x9E3779B97F4A7C15) & M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M64
    return (z ^ (z >> 31)) & M64


class JavaRandom:
    """java.util.Random's 48-bit LCG, exactly."""

    def __init__(self, seed: int):
        self.seed = (seed ^ 0x5DEECE66D) & ((1 << 48) - 1)

    def next(self, bits: int) -> int:
        self.seed = (self.seed * 0x5DEECE66D + 0xB) & ((1 << 48) - 1)
        r = self.seed >> (48 - bits)
        return r - (1 << bits) if r >= (1 << (bits - 1)) else r

    def next_long(self) -> int:
        return s64((self.next(32) << 32) + self.next(32))


def java_abs_mod(a: int, m: int) -> int:
    """math.abs(long) % m with Java remainder semantics."""
    a = a if a != -(1 << 63) else a  # Math.abs(MIN_VALUE) = MIN_VALUE
    aa = a if a >= 0 else (-a if a != -(1 << 63) else a)
    if aa >= 0:
        return aa % m
    return -((-aa) % m)  # negative dividend: Java rem keeps the sign


def load_documents():
    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, text, lang, source, n_chars FROM '{SF}/documents.parquet' "
        "ORDER BY doc_id").fetchdf()


def load_embeddings():
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{SF}/embeddings.parquet' "
        "ORDER BY vec_id").fetchall()
    # float32 list values arrive as exact python floats of the f32 values
    return [(int(i), [float(x) for x in v]) for i, v in rows]


def load_labels():
    con = duckdb.connect()
    return {int(i): int(l) for i, l in con.execute(
        f"SELECT vec_id, label FROM '{SF}/embeddings.parquet'").fetchall()}


def write(name: str, df: pd.DataFrame, casts: dict):
    GOLD.mkdir(parents=True, exist_ok=True)
    out = GOLD / f"{name}.parquet"
    con = duckdb.connect()
    con.register("t", df)
    cols = ", ".join(f'CAST("{c}" AS {t}) AS "{c}"' for c, t in casts.items())
    con.execute(f"COPY (SELECT {cols} FROM t) TO '{out}' (FORMAT PARQUET)")
    print(f"wrote {out.name}: {len(df)} rows")


# ------------------------------------------------------------ text goldens
LANG_PROFILES = {
    "en": {"the", "a", "of", "and", "to", "in", "is", "for", "that", "it"},
    "de": {"der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"},
    "fr": {"le", "la", "les", "et", "est", "pas", "un", "une", "pour", "dans"},
    "es": {"el", "la", "los", "y", "es", "no", "un", "una", "para", "en"},
    "zh": {"的", "是", "不", "了", "在", "人", "有", "我", "他", "这"},
}


def gen_lang_id(docs):
    rows = []
    for r in docs.itertuples():
        toks = [t for t in re.split(r"\s+", r.text) if t]
        if not toks:
            pred, score = "und", 0.0
        else:
            scores = {l: sum(1 for t in toks if t in p) / len(toks)
                      for l, p in LANG_PROFILES.items()}
            pred, score = max(scores.items(), key=lambda kv: (kv[1], kv[0]))
            if score == 0.0:
                pred, score = "und", 0.0
        rows.append((r.doc_id, r.lang, pred, round_half_up(score, 4)))
    write("lang_id",
          pd.DataFrame(rows, columns=["doc_id", "lang", "lang_pred", "lang_score"]),
          {"doc_id": "BIGINT", "lang": "VARCHAR", "lang_pred": "VARCHAR",
           "lang_score": "DOUBLE"})


def gen_bpeish(docs):
    # Spark: split on (?<=[^A-Za-z0-9])|(?=[^A-Za-z0-9]), drop "" and " "
    pat = re.compile(r"(?<=[^A-Za-z0-9])|(?=[^A-Za-z0-9])")
    rows = [(r.doc_id,
             sum(1 for p in pat.split(r.text) if p not in ("", " ")))
            for r in docs.itertuples()]
    write("text_bpeish_tokens",
          pd.DataFrame(rows, columns=["doc_id", "n_pieces"]),
          {"doc_id": "BIGINT", "n_pieces": "BIGINT"})


# ------------------------------------------------------- simhash / minhash
def simhash64(text: str) -> int:
    acc = [0] * 64
    for t in text.split(" "):
        if not t:
            continue
        h = fnv1a64(t)
        for i in range(64):
            acc[i] += 1 if (h >> i) & 1 else -1
    out = 0
    for i in range(64):
        if acc[i] > 0:
            out |= 1 << i
    return out  # unsigned view; band keys/xor are mask-safe


def gen_simhash_pairs(docs, max_dist=12):
    sigs = {r.doc_id: simhash64(r.text) for r in docs.itertuples()}
    buckets = {}
    for d, sh in sigs.items():
        for band in range(4):
            buckets.setdefault((band, (sh >> (band * 16)) & 0xFFFF), []).append(d)
    pairs = set()
    for mem in buckets.values():
        mem = sorted(mem)
        for i in range(len(mem)):
            for j in range(i + 1, len(mem)):
                pairs.add((mem[i], mem[j]))
    rows = []
    for d1, d2 in sorted(pairs):
        dist = bin(sigs[d1] ^ sigs[d2]).count("1")
        if dist <= max_dist:
            rows.append((d1, d2, dist))
    write("simhash_pairs", pd.DataFrame(rows, columns=["d1", "d2", "dist"]),
          {"d1": "BIGINT", "d2": "BIGINT", "dist": "INT"})


def gen_stream_neardup(docs, max_dist=12):
    """StreamingDedup semantics: doc d kept iff NO earlier doc (any,
    kept or dropped) shares a 16-bit band and is within max_dist."""
    buckets = {}
    kept = []
    for r in docs.itertuples():  # docs arrive in doc_id order
        sh = simhash64(r.text)
        cands = set()
        keys = [(band, (sh >> (band * 16)) & 0xFFFF) for band in range(4)]
        for bk in keys:
            cands.update(buckets.get(bk, ()))
        if not any(bin(sh ^ c).count("1") <= max_dist for c in cands):
            kept.append(r.doc_id)
        for bk in keys:
            buckets.setdefault(bk, []).append(sh)
    write("stream_neardup", pd.DataFrame(kept, columns=["doc_id"]),
          {"doc_id": "BIGINT"})


def rolling_shingle_hashes(text: str, w: int):
    toks = text.split(" ")
    if len(toks) < w:
        return []
    tok_h = [fnv1a64(t) for t in toks]
    out = []
    for i in range(len(toks) - w + 1):
        h = 0
        for j in range(i, i + w):
            h = (h * 0x100000001B3 + tok_h[j]) & M64
        out.append(h)
    return out


def minhash_band_keys(hashes, bands, rows_per_band, seed):
    rnd = JavaRandom(seed)
    params = []
    for _ in range(bands * rows_per_band):
        a = java_abs_mod(rnd.next_long(), MERSENNE_P - 1) + 1
        b = java_abs_mod(rnd.next_long(), MERSENNE_P)
        params.append((a, b))
    sig = []
    for a, b in params:
        mn = (1 << 63) - 1
        for h in hashes:
            x = h % MERSENNE_P  # remainderUnsigned of the masked value
            hv = (a * x + b) % MERSENNE_P
            if hv < mn:
                mn = hv
        sig.append(mn)
    keys = []
    for b_idx in range(bands):
        k = 0xCBF29CE484222325 ^ b_idx
        for i in range(b_idx * rows_per_band, (b_idx + 1) * rows_per_band):
            k = ((k ^ sig[i]) * 0x100000001B3) & M64
        keys.append(k)
    return keys


def gen_minhash_pairs(docs, w=3, bands=16, rows_per_band=4,
                      threshold=0.2, seed=42):
    hs = {}
    for r in docs.itertuples():
        h = rolling_shingle_hashes(r.text, w)
        if h:
            hs[r.doc_id] = h
    buckets = {}
    for d, hashes in hs.items():
        for band, key in enumerate(
                minhash_band_keys(hashes, bands, rows_per_band, seed)):
            buckets.setdefault((band, key), []).append(d)
    cand = set()
    for mem in buckets.values():
        mem = sorted(mem)
        for i in range(len(mem)):
            for j in range(i + 1, len(mem)):
                cand.add((mem[i], mem[j]))
    rows = []
    for d1, d2 in sorted(cand):
        s1, s2 = set(hs[d1]), set(hs[d2])
        inter = len(s1 & s2)
        jac = inter / (len(s1) + len(s2) - inter)
        if jac >= threshold:
            rows.append((d1, d2, jac))
    write("minhash_pairs", pd.DataFrame(rows, columns=["d1", "d2", "jac"]),
          {"d1": "BIGINT", "d2": "BIGINT", "jac": "DOUBLE"})


# --------------------------------------------------------------- vectors
def cosine_sim_d(x, y):
    n = min(len(x), len(y))
    d = nx = ny = 0.0
    for i in range(n):
        xv, yv = x[i], y[i]
        d += xv * yv
        nx += xv * xv
        ny += yv * yv
    return d / (math.sqrt(nx) * math.sqrt(ny))


def dot_d(x, y):
    s = 0.0
    for a, b in zip(x, y):
        s += a * b
    return s


def plane_coeffs(bits, dim, seed):
    return [[((splitmix64((seed + b * dim + i) & M64) >> 11) / (1 << 53)) * 2.0 - 1.0
             for i in range(dim)] for b in range(bits)]


def hyperplane_sig(v, planes):
    sig = 0
    for b, p in enumerate(planes):
        s = 0.0
        for i in range(min(len(p), len(v))):
            s += p[i] * v[i]
        if s >= 0:
            sig |= 1 << b
    return sig


def rank_topk(cands_by_q, k):
    """(qid -> {nid: sim}) -> rows (qid, nid, sim, rk) by (-sim, nid)."""
    rows = []
    for qid in sorted(cands_by_q):
        ranked = sorted(cands_by_q[qid].items(), key=lambda t: (-t[1], t[0]))
        for rk, (nid, sim) in enumerate(ranked[:k], start=1):
            rows.append((qid, nid, sim, rk))
    return rows


def gen_lsh_topk(emb, k=5, dim=64, bands=16, bits_per_band=4, seed=42):
    planes = plane_coeffs(bands * bits_per_band, dim, seed)
    sigs = {i: hyperplane_sig(v, planes) for i, v in emb}
    vec = dict(emb)
    queries = [i for i, _ in emb if i < 10]
    buckets = {}
    for i, _ in emb:
        sig = sigs[i]
        for band in range(bands):
            key = (sig >> (band * bits_per_band)) & ((1 << bits_per_band) - 1)
            buckets.setdefault((band, key), []).append(i)
    cands = {q: {} for q in queries}
    for q in queries:
        sig = sigs[q]
        for band in range(bands):
            key = (sig >> (band * bits_per_band)) & ((1 << bits_per_band) - 1)
            for n in buckets.get((band, key), []):
                if n != q and n not in cands[q]:
                    cands[q][n] = cosine_sim_d(vec[n], vec[q])
    rows = rank_topk(cands, k)
    write("lsh_topk", pd.DataFrame(rows, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE", "rk": "BIGINT"})


def gen_mmr_topk(emb, k=5, lam=0.7, n_cand=20):
    """MMR greedy rerank (Carbonell & Goldstein 1998), mirror of
    Similarity.mmrTopK: candidates = brute-force top-(4k) by
    (sim desc, nid), then greedy argmax of
    lam*sim(q,d) - (1-lam)*max_{s in picked} sim(d,s); redundancy is
    0.0 for the first pick; ties keep the earlier (higher-relevance)
    candidate. All scores are sequential IEEE-double folds in the
    Scala loop's element order."""
    vec = dict(emb)
    queries = [i for i, _ in emb if i < 10]
    rows = []
    for q in queries:
        scored = sorted(((cosine_sim_d(vec[n], vec[q]), n)
                         for n, _ in emb if n != q),
                        key=lambda t: (-t[0], t[1]))[:n_cand]
        cand = [(n, s) for s, n in scored]
        picked = []
        open_ = list(range(len(cand)))
        while len(picked) < min(k, len(cand)):
            best_at, best = -1, float("-inf")
            for j, i in enumerate(open_):
                red = (0.0 if not picked else
                       max(cosine_sim_d(vec[cand[i][0]], vec[cand[p][0]])
                           for p in picked))
                score = lam * cand[i][1] - (1.0 - lam) * red
                if score > best:
                    best, best_at = score, j
            picked.append(open_.pop(best_at))
        for r, i in enumerate(picked):
            rows.append((q, cand[i][0], cand[i][1], r + 1))
    write("mmr_topk", pd.DataFrame(rows, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE", "rk": "BIGINT"})


def gen_embed_neardup_lsh(emb, dim=64, bits=8, seed=42, threshold=0.3):
    planes = plane_coeffs(bits, dim, seed)
    by_bucket = {}
    for i, v in emb:
        by_bucket.setdefault(hyperplane_sig(v, planes), []).append(i)
    vec = dict(emb)
    rows = []
    for mem in by_bucket.values():
        mem = sorted(mem)
        for i in range(len(mem)):
            for j in range(i + 1, len(mem)):
                sim = cosine_sim_d(vec[mem[i]], vec[mem[j]])
                if sim >= threshold:
                    rows.append((mem[i], mem[j], round_half_up(sim, 6)))
    rows.sort()
    write("embed_neardup_lsh", pd.DataFrame(rows, columns=["v1", "v2", "sim"]),
          {"v1": "BIGINT", "v2": "BIGINT", "sim": "DOUBLE"})


# ------------------------------------------------------------------- IVF
def ivf_nearest(centroids, v, n):
    dots = []
    for c, cent in enumerate(centroids):
        s = 0.0
        for i in range(min(len(cent), len(v))):
            s += cent[i] * v[i]
        dots.append((c, s))
    dots.sort(key=lambda t: (-t[1], t[0]))
    return [c for c, _ in dots[:n]]


def ivf_train(emb, nlist=16, iters=3, seed=42):
    return kmeans_fold(sorted(emb), nlist, iters, seed)


def ivf_train_hier(emb, nlist=16, iters=3, seed=42, branch=0):
    """Mirror of Ivf.trainHierarchical: L1 fold with ~sqrt(nlist)
    centroids, per-cell L2 folds in cell order, concatenated. Returns
    (flat centroids, l1 centroids, per-cell child index lists) — the
    descent structure the Scala model carries."""
    sample = sorted(emb)
    b1 = branch if branch > 0 else max(1, round(math.sqrt(nlist)))
    l1 = kmeans_fold(sample, b1, iters, seed)
    kc = max(1, -(-nlist // b1))  # ceil: b1*kc >= nlist (Scala parity)
    groups = [[] for _ in l1]
    for i, v in sample:
        groups[ivf_nearest(l1, v, 1)[0]].append((i, v))
    cents = []
    children = []
    for c, g in enumerate(groups):
        start = len(cents)
        if not g:
            cents.append(l1[c])
        else:
            cents.extend(kmeans_fold(g, kc, iters, seed))
        children.append(list(range(start, len(cents))))
    return cents, l1, children


def ivf_train_hier_dist(emb, nlist=16, iters=3, seed=42, branch=0):
    """Mirror of Ivf.trainHierarchicalDistributed — its own pinned
    variant: L1 = the flat fixed-point fold (ivf_train_dist) at
    ~sqrt(nlist); per-cell child init = the cell's kc rows with the
    smallest (float(signed splitmix64(id+seed)), id) — hash ordered AS
    A DOUBLE, the heap aggregate's score type; empty cells keep their
    L1 centroid as a single child; then fixed-point Lloyd's where each
    row assigns by the DESCENT rule (ivf_nearest_descend, the serving
    path), not within its frozen owning cell."""
    b1 = branch if branch > 0 else max(1, round(math.sqrt(nlist)))
    l1 = ivf_train_dist(emb, b1, iters, seed)
    kc = max(1, -(-nlist // b1))
    vec = dict(emb)
    groups = {}
    for i, v in emb:
        c = ivf_nearest(l1, v, 1)[0]
        groups.setdefault(c, []).append(
            (float(s64(splitmix64((i + seed) & M64))), i))
    cents = []
    children = []
    for c in range(len(l1)):
        start = len(cents)
        g = sorted(groups.get(c, []))[:kc]
        if not g:
            cents.append(l1[c])
        else:
            cents.extend([list(vec[i]) for _, i in g])
        children.append(list(range(start, len(cents))))
    F = float(1 << 24)
    dim = len(cents[0])
    for _ in range(iters):
        sums = [[0] * dim for _ in cents]
        counts = [0] * len(cents)
        for _, v in emb:
            if not v:
                continue
            c = ivf_nearest_descend(cents, l1, children, v, 1)[0]
            for i in range(min(dim, len(v))):
                sums[c][i] += int(round_half_up(float(v[i]) * F, 0))
            counts[c] += 1
        new = []
        for c, old in enumerate(cents):
            if counts[c] == 0:
                new.append(old)
                continue
            m = [(s / F) / counts[c] for s in sums[c]]
            nrm = math.sqrt(sum(x * x for x in m))
            new.append(old if nrm == 0.0 else [f32(x / nrm) for x in m])
        cents = new
    return cents, l1, children


def gen_ivf_topk_hier_dist(emb, nlist=16, iters=3, k=5, nprobe=4):
    """gen_ivf_topk_hier's descend probe/rank mirror over the
    DISTRIBUTED two-level model — the golden behind
    ivf_topk_hier_dist."""
    centroids, l1, children = ivf_train_hier_dist(emb, nlist, iters)
    assign = {i: ivf_nearest_descend(centroids, l1, children, v, 1)[0]
              for i, v in emb}
    postings = {}
    for i, _ in emb:
        postings.setdefault(assign[i], []).append(i)
    vec = dict(emb)
    queries = [i for i, _ in emb if i < 10]
    cands = {q: {} for q in queries}
    for q in queries:
        for cl in ivf_nearest_descend(centroids, l1, children, vec[q],
                                      nprobe):
            for n in postings.get(cl, []):
                if n != q and n not in cands[q]:
                    cands[q][n] = cosine_sim_d(vec[n], vec[q])
    rows = rank_topk(cands, k)
    write("ivf_topk_hier_dist",
          pd.DataFrame(rows, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE", "rk": "BIGINT"})


def ivf_nearest_descend(cents, l1, children, v, n):
    """Mirror of IvfModel.nearestDescend: rank L1 cells, walk best-first
    collecting children until >= n candidates AND >= 2 cells (boundary
    oversample), then best n among the candidates by (dot desc, idx
    asc)."""
    if not l1:
        return ivf_nearest(cents, v, n)
    order = ivf_nearest(l1, v, min(len(l1), max(2, n)))
    cand = []
    ci = 0
    while ci < len(order) and (len(cand) < n or ci < 2):
        cand.extend(children[order[ci]])
        ci += 1
    dots = []
    for c in cand:
        s = 0.0
        for i in range(min(len(cents[c]), len(v))):
            s += cents[c][i] * v[i]
        dots.append((c, s))
    dots.sort(key=lambda t: (-t[1], t[0]))
    return [c for c, _ in dots[:n]]


def kmeans_fold(sample, nlist, iters, seed):
    # Scala sorts the splitmix hash as a SIGNED Long — mirror that
    seeded = sorted(((s64(splitmix64((i + seed) & M64)), i, v)
                     for i, v in sample),
                    key=lambda t: (t[0], t[1]))
    centroids = [list(v) for _, _, v in seeded[:nlist]]
    dim = len(centroids[0])
    for _ in range(iters):
        sums = [[0.0] * dim for _ in centroids]
        counts = [0] * len(centroids)
        for _, v in sample:
            c = ivf_nearest(centroids, v, 1)[0]
            for i in range(min(dim, len(v))):
                sums[c][i] += v[i]
            counts[c] += 1
        new = []
        for c, old in enumerate(centroids):
            if counts[c] == 0:
                new.append(old)
                continue
            m = [s / counts[c] for s in sums[c]]
            nrm = math.sqrt(sum(x * x for x in m))
            new.append(old if nrm == 0.0 else [f32(x / nrm) for x in m])
        centroids = new
    return centroids


def ivf_train_dist(emb, nlist=16, iters=3, seed=42):
    """Mirror of Ivf.trainDistributed: splitmix init (same head as
    kmeans_fold), then Lloyd's iterations whose per-cluster component
    sums ride as FIXED-POINT longs — round_half_up(x * 2^24) summed as
    exact integers, so the fold is order-independent (the property that
    makes the distributed Scala aggregation deterministic and lets this
    mirror replay it without knowing Spark's combine order)."""
    F = float(1 << 24)
    # init mirrors the Scala .where(_tv IS NOT NULL AND size > 0):
    # null/empty-vec rows train nothing, init included
    seeded = sorted(((s64(splitmix64((i + seed) & M64)), i, v)
                     for i, v in emb if v),
                    key=lambda t: (t[0], t[1]))
    centroids = [list(v) for _, _, v in seeded[:nlist]]
    dim = len(centroids[0])
    for _ in range(iters):
        sums = [[0] * dim for _ in centroids]  # exact ints
        counts = [0] * len(centroids)
        for _, v in emb:
            if not v:
                continue  # empty vectors are ignored by the fold
            c = ivf_nearest(centroids, v, 1)[0]
            for i in range(min(dim, len(v))):
                sums[c][i] += int(round_half_up(float(v[i]) * F, 0))
            counts[c] += 1
        new = []
        for c, old in enumerate(centroids):
            if counts[c] == 0:
                new.append(old)
                continue
            m = [(s / F) / counts[c] for s in sums[c]]
            nrm = math.sqrt(sum(x * x for x in m))
            new.append(old if nrm == 0.0 else [f32(x / nrm) for x in m])
        centroids = new
    return centroids


def gen_ivf_topk_dist(emb, nlist=16, iters=3, k=5, nprobe=4):
    """gen_ivf_topk's probe/rank mirror over the DISTRIBUTED-trained
    (fixed-point Lloyd's) model — the golden behind ann_recall_ivf_dist."""
    centroids = ivf_train_dist(emb, nlist, iters)
    assign = {i: ivf_nearest(centroids, v, 1)[0] for i, v in emb}
    postings = {}
    for i, _ in emb:
        postings.setdefault(assign[i], []).append(i)
    vec = dict(emb)
    queries = [i for i, _ in emb if i < 10]
    cands = {q: {} for q in queries}
    for q in queries:
        for cl in ivf_nearest(centroids, vec[q], nprobe):
            for n in postings.get(cl, []):
                if n != q and n not in cands[q]:
                    cands[q][n] = cosine_sim_d(vec[n], vec[q])
    rows = rank_topk(cands, k)
    write("ivf_topk_dist",
          pd.DataFrame(rows, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE", "rk": "BIGINT"})


def gen_ivf_topk(emb, nlist=16, iters=3, k=5, nprobe=4):
    centroids = ivf_train(emb, nlist, iters)
    assign = {i: ivf_nearest(centroids, v, 1)[0] for i, v in emb}
    postings = {}
    for i, _ in emb:
        postings.setdefault(assign[i], []).append(i)
    vec = dict(emb)
    queries = [i for i, _ in emb if i < 10]
    cands = {q: {} for q in queries}
    for q in queries:
        for cl in ivf_nearest(centroids, vec[q], nprobe):
            for n in postings.get(cl, []):
                if n != q and n not in cands[q]:
                    cands[q][n] = cosine_sim_d(vec[n], vec[q])
    rows = rank_topk(cands, k)
    write("ivf_topk", pd.DataFrame(rows, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE", "rk": "BIGINT"})


def gen_ivf_topk_filtered_recall(emb, nlist=16, iters=3, k=5, nprobe0=1,
                                 want_label=3):
    """Payload-filtered ANN with PER-QUERY adaptive probe widening
    (the mirror of Ivf.searchFiltered / adaptiveFill): candidates are
    restricted to the payload predicate (label == want_label) INSIDE
    the probe, and each round doubles nprobe for ONLY the queries
    still under k survivors — a query filled at probe p keeps its
    p-cell result. Replays the identical widening schedule, fill
    check, scoring fold, and (sim desc, nid) ranking."""
    con = duckdb.connect()
    labels = {int(i): int(l) for i, l in con.execute(
        f"SELECT vec_id, label FROM '{SF}/embeddings.parquet'").fetchall()}
    centroids = ivf_train(emb, nlist, iters)
    assign = {i: ivf_nearest(centroids, v, 1)[0] for i, v in emb}
    postings = {}
    for i, _ in emb:
        postings.setdefault(assign[i], []).append(i)
    vec = dict(emb)
    queries = [i for i, _ in emb if i < 10]

    def run(qset, p):
        cands = {q: {} for q in qset}
        for q in qset:
            for cl in ivf_nearest(centroids, vec[q], p):
                for n in postings.get(cl, []):
                    if (n != q and labels[n] == want_label
                            and n not in cands[q]):
                        cands[q][n] = cosine_sim_d(vec[n], vec[q])
        return rank_topk(cands, k)

    pending = list(queries)
    p = max(1, min(nprobe0, nlist))
    acc = []
    while True:
        rows = run(pending, p)
        if p >= nlist:
            acc.extend(rows)
            break
        cnt = {}
        for qid, _, _, _ in rows:
            cnt[qid] = cnt.get(qid, 0) + 1
        filled = {q for q in pending if cnt.get(q, 0) >= k}
        if len(filled) == len(pending):
            acc.extend(rows)
            break
        acc.extend(r for r in rows if r[0] in filled)
        pending = [q for q in pending if q not in filled]
        p = min(p * 2, nlist)
    acc.sort(key=lambda r: (r[0], r[3]))
    write("ivf_topk_filtered_recall",
          pd.DataFrame(acc, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE",
           "rk": "BIGINT"})


def gen_ivf_tune(emb, nlist=16, iters=3, k=5, target=0.9):
    """The nprobe tuner's doubling sweep, mirrored: micro-averaged
    recall@k (sum hits / sum min(k, |truth|), ONE double division) at
    nprobe = 1, 2, 4, ... nlist, stopping at the first step meeting
    the target; `chosen` marks the final row iff it met."""
    centroids = ivf_train(emb, nlist, iters)
    vec = dict(emb)
    assign = {i: ivf_nearest(centroids, v, 1)[0] for i, v in emb}
    postings = {}
    for i, _ in emb:
        postings.setdefault(assign[i], []).append(i)
    queries = [i for i, _ in emb if i < 10]
    # exact truth, excludeSelf, ties by id
    truth = {}
    for q in queries:
        scored = sorted(((cosine_sim_d(vec[n], vec[q]), -n) for n, _ in emb
                         if n != q), reverse=True)[:k]
        truth[q] = {-ni for _, ni in scored}
    denom = sum(min(k, len(truth[q])) for q in queries)
    steps = []
    p = 1
    while p < nlist:
        steps.append(p)
        p *= 2
    steps.append(nlist)
    rows = []
    for p in steps:
        hits = 0
        for q in queries:
            cands = {}
            for cl in ivf_nearest(centroids, vec[q], p):
                for n in postings.get(cl, []):
                    if n != q and n not in cands:
                        cands[n] = cosine_sim_d(vec[n], vec[q])
            top = sorted(((s, -n) for n, s in cands.items()),
                         reverse=True)[:k]
            hits += len(truth[q] & {-ni for _, ni in top})
        rec = hits / denom
        rows.append((p, hits, denom, rec))
        if rec >= target:
            break
    chosen = rows[-1][0] if rows[-1][3] >= target else -1
    out = [(p, h, d, r, p == chosen) for p, h, d, r in rows]
    write("ivf_tune_nprobe",
          pd.DataFrame(out, columns=["nprobe", "hits", "denom", "recall",
                                     "chosen"]),
          {"nprobe": "INTEGER", "hits": "BIGINT", "denom": "BIGINT",
           "recall": "DOUBLE", "chosen": "BOOLEAN"})


def gen_ivf_index_stats(emb, nlist=16, iters=3):
    """Per-cluster list sizes of the one-shot index build — the drift
    alarm's golden: the same deterministic train + assignment as
    gen_ivf_topk, aggregated to (cluster, size) over EVERY corpus row
    (a stronger pin than top-k rows: any single flipped assignment
    shifts two counts). Empty clusters have no partition dir, so they
    are omitted, matching the layout."""
    centroids = ivf_train(emb, nlist, iters)
    sizes = {}
    for _, v in emb:
        c = ivf_nearest(centroids, v, 1)[0]
        sizes[c] = sizes.get(c, 0) + 1
    rows = sorted(sizes.items())
    write("ivf_index_stats", pd.DataFrame(rows, columns=["cluster", "size"]),
          {"cluster": "INTEGER", "size": "BIGINT"})


def gen_ivf_topk_hier(emb, nlist=16, iters=3, k=5, nprobe=4):
    """Same probe/rank mirror as gen_ivf_topk over the hierarchical
    (two-level) quantizer — assignment AND probing descend the two
    levels (ivf_nearest_descend), matching the Scala IvfNearest
    kernel."""
    centroids, l1, children = ivf_train_hier(emb, nlist, iters)
    assign = {i: ivf_nearest_descend(centroids, l1, children, v, 1)[0]
              for i, v in emb}
    postings = {}
    for i, _ in emb:
        postings.setdefault(assign[i], []).append(i)
    vec = dict(emb)
    queries = [i for i, _ in emb if i < 10]
    cands = {q: {} for q in queries}
    for q in queries:
        for cl in ivf_nearest_descend(centroids, l1, children, vec[q], nprobe):
            for n in postings.get(cl, []):
                if n != q and n not in cands[q]:
                    cands[q][n] = cosine_sim_d(vec[n], vec[q])
    rows = rank_topk(cands, k)
    write("ivf_topk_hier",
          pd.DataFrame(rows, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE", "rk": "BIGINT"})


def int8_codes(v):
    """Similarity.int8CodesUdf: scale = max|v|/127, floor(x/s + 0.5)."""
    mx = 0.0
    for x in v:
        a = abs(float(x))
        if a > mx:
            mx = a
    if mx == 0.0:
        return [0] * len(v)
    s = mx / 127.0
    return [int(math.floor(float(x) / s + 0.5)) for x in v]


def int8_cosine(a, b):
    """Int8CosineSim: exact integer dot/norms, one double division."""
    n = min(len(a), len(b))
    d = nx = ny = 0
    for i in range(n):
        d += a[i] * b[i]
        nx += a[i] * a[i]
        ny += b[i] * b[i]
    if nx == 0 or ny == 0:
        return 0.0
    return float(d) / (math.sqrt(float(nx)) * math.sqrt(float(ny)))


def gen_ivf_topk_int8(emb, nlist=16, iters=3, k=5, nprobe=4):
    """Quantized IVF: same clustering/probing as ivf_topk, scoring over
    int8 codes (exact integer arithmetic -> bit-reproducible)."""
    centroids = ivf_train(emb, nlist, iters)
    assign = {i: ivf_nearest(centroids, v, 1)[0] for i, v in emb}
    postings = {}
    for i, _ in emb:
        postings.setdefault(assign[i], []).append(i)
    vec = dict(emb)
    codes = {i: int8_codes(v) for i, v in emb}
    queries = [i for i, _ in emb if i < 10]
    cands = {q: {} for q in queries}
    for q in queries:
        for cl in ivf_nearest(centroids, vec[q], nprobe):
            for n in postings.get(cl, []):
                if n != q and n not in cands[q]:
                    cands[q][n] = int8_cosine(codes[n], codes[q])
    rows = rank_topk(cands, k)
    write("ivf_topk_int8",
          pd.DataFrame(rows, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE", "rk": "BIGINT"})


def gen_ivf_topk_int8_filtered(emb, nlist=16, iters=3, k=5, nprobe0=1,
                               want_label=3):
    """Filtered serve on the int8 codes layout: the
    gen_ivf_topk_filtered_recall per-query widening schedule with the
    int8_cosine scorer — the 10%-selectivity pin for the quantized
    candidate path (int8 scores aren't SQL-expressible, so the mirror
    carries the oracle like the unfiltered int8 row)."""
    con = duckdb.connect()
    labels = {int(i): int(l) for i, l in con.execute(
        f"SELECT vec_id, label FROM '{SF}/embeddings.parquet'").fetchall()}
    centroids = ivf_train(emb, nlist, iters)
    assign = {i: ivf_nearest(centroids, v, 1)[0] for i, v in emb}
    postings = {}
    for i, _ in emb:
        postings.setdefault(assign[i], []).append(i)
    vec = dict(emb)
    codes = {i: int8_codes(v) for i, v in emb}
    queries = [i for i, _ in emb if i < 10]

    def run(qset, p):
        cands = {q: {} for q in qset}
        for q in qset:
            for cl in ivf_nearest(centroids, vec[q], p):
                for n in postings.get(cl, []):
                    if (n != q and labels[n] == want_label
                            and n not in cands[q]):
                        cands[q][n] = int8_cosine(codes[n], codes[q])
        return rank_topk(cands, k)

    pending = list(queries)
    p = max(1, min(nprobe0, nlist))
    acc = []
    while True:
        rows = run(pending, p)
        if p >= nlist:
            acc.extend(rows)
            break
        cnt = {}
        for qid, _, _, _ in rows:
            cnt[qid] = cnt.get(qid, 0) + 1
        filled = {q for q in pending if cnt.get(q, 0) >= k}
        if len(filled) == len(pending):
            acc.extend(rows)
            break
        acc.extend(r for r in rows if r[0] in filled)
        pending = [q for q in pending if q not in filled]
        p = min(p * 2, nlist)
    acc.sort(key=lambda r: (r[0], r[3]))
    write("ivf_topk_int8_filtered",
          pd.DataFrame(acc, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE",
           "rk": "BIGINT"})


# ------------------------------------------------- embedding / retrieval
def hash_embed(text: str, dim: int):
    """graft.embed.HashEmbedding, with exact f32 narrowing."""
    h = fnv1a64(text)
    out = []
    sum_sq = 0.0
    s = h
    for _ in range(dim):
        s = (s + 0x9E3779B97F4A7C15) & M64
        z = ((s ^ (s >> 30)) * 0xBF58476D1CE4E5B9) & M64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M64
        z = (z ^ (z >> 31)) & M64
        u = ((z >> 11) / (1 << 53)) * 2.0 - 1.0
        uf = np.float32(u)
        out.append(uf)
        sum_sq += float(uf * uf)  # f32 multiply, f64 accumulate
    norm = math.sqrt(sum_sq)
    return [f32(float(x) / norm) for x in out]


def store_normalize(v):
    """VectorStore.add: truncateDim (same dim) + L2Normalize(asFloat)."""
    s = 0.0
    for x in v:
        s += x * x
    nrm = math.sqrt(s)
    return [f32(x / nrm) for x in v]


def query_normalize(v):
    """VectorStore.retrieve's inline query normalization."""
    s = 0.0
    for x in v:
        s += x * x
    nrm = math.sqrt(s)
    return [f32(x / nrm) for x in v]


def gen_store_retrieve(docs, dim=64, topk=5, query="spark filter join"):
    sub = docs[docs.doc_id < 100]
    stored = [(int(r.doc_id), r.source, r.text,
               store_normalize(hash_embed(r.text, dim)))
              for r in sub.itertuples()]
    qn = query_normalize(hash_embed(query, dim))
    scored = sorted(
        ((dot_d(v, qn), pos, src, txt)
         for pos, (_, src, txt, v) in enumerate(stored)),
        key=lambda t: (-t[0], t[1]))
    rows = [(round_half_up(sim, 6), src, txt)
            for sim, _, src, txt in scored[:topk]]
    write("store_retrieve", pd.DataFrame(rows, columns=["sim", "source", "text"]),
          {"sim": "DOUBLE", "source": "VARCHAR", "text": "VARCHAR"})


def gen_memory_context():
    msgs = [("m1", "conv-1", "user", "hello world", 1700000000),
            ("m2", "conv-1", "assistant", "hi there, how can I help", 1700000010),
            ("m3", "conv-1", "user", "tell me about spark aggregation", 1700000020),
            ("m4", "conv-2", "user", "unrelated conversation", 1700000030)]
    qv = [f32(len("hello"))]
    scored = [(cosine_sim_d([f32(len(t))], qv), i, r, t, ts)
              for (i, c, r, t, ts) in msgs if c == "conv-1"]
    scored.sort(key=lambda x: (-x[0], x[4], x[1]))
    rows = [(round_half_up(s, 6), i, r, t, ts) for s, i, r, t, ts in scored[:2]]
    write("memory_context",
          pd.DataFrame(rows, columns=["score", "id", "role", "text", "timestamp"]),
          {"score": "DOUBLE", "id": "VARCHAR", "role": "VARCHAR",
           "text": "VARCHAR", "timestamp": "BIGINT"})


def gen_dup_spans(docs, w=8, min_count=2):
    """Mirror of Dedup.duplicateSpans + duplicateWindowStats: rolling
    w-token window fingerprints, windows occurring >= min_count times
    corpus-wide are duplicates; consecutive duplicate windows (position
    gap <= w) merge into maximal (start_tok, end_tok) spans."""
    per_doc = {int(r.doc_id): rolling_shingle_hashes(r.text, w)
               for r in docs.itertuples()}
    counts = {}
    for hs in per_doc.values():
        for h in hs:
            counts[h] = counts.get(h, 0) + 1
    spans = []
    stats = []
    for doc in sorted(per_doc):
        hs = per_doc[doc]
        dup_pos = [i for i, h in enumerate(hs) if counts[h] >= min_count]
        stats.append((doc, len(hs), len(dup_pos),
                      round_half_up(len(dup_pos) / len(hs), 6) if hs else 0.0))
        start = prev = None
        for p in dup_pos:
            if start is None:
                start = prev = p
            elif p - prev <= w:
                prev = p
            else:
                spans.append((doc, start, prev + w))
                start = prev = p
        if start is not None:
            spans.append((doc, start, prev + w))
    write("text_dup_spans",
          pd.DataFrame(spans, columns=["doc", "start_tok", "end_tok"]),
          {"doc": "BIGINT", "start_tok": "INT", "end_tok": "INT"})
    write("text_dup_fraction",
          pd.DataFrame(stats,
                       columns=["doc", "n_windows", "dup_windows", "dup_frac"]),
          {"doc": "BIGINT", "n_windows": "BIGINT", "dup_windows": "BIGINT",
           "dup_frac": "DOUBLE"})
    # Dedup.dropDuplicateSpans: tokens covered by any span removed,
    # order preserved, fully-duplicated docs -> ""
    by_doc = {}
    for doc, a, b in spans:
        by_doc.setdefault(doc, []).append((a, b))
    cleaned_rows = []
    for r in docs.itertuples():
        doc = int(r.doc_id)
        toks = r.text.split(" ")
        cov = by_doc.get(doc, [])
        kept = [t for i, t in enumerate(toks)
                if not any(a <= i < b for a, b in cov)]
        cleaned_rows.append((doc, " ".join(kept)))
    write("text_span_dedup",
          pd.DataFrame(cleaned_rows, columns=["doc", "cleaned"]),
          {"doc": "BIGINT", "cleaned": "VARCHAR"})


def lm_log2fix(a, b, frac=20, prec=64):
    """Mirror of LmQuality.log2fix: exact fixed-point floor-log2 of a
    rational a/b (a >= b > 0) — shifts and floor divisions only."""
    k = a.bit_length() - b.bit_length()
    if (b << k) > a:
        k -= 1
    m = (a << prec) // (b << k)
    out = k
    for _ in range(frac):
        m = (m * m) >> prec
        out <<= 1
        if m.bit_length() > prec + 1:
            m >>= 1
            out |= 1
    return out


def gen_lm_quality(docs, vocab_size=2000, max_bigrams=50000):
    """Mirror of LmQuality: add-one bigram LM on even doc_ids, every
    doc scored by exact fixed-point cross-entropy."""
    def toks(text):
        return [t for t in text.split(" ") if t]
    train = [(int(r.doc_id), toks(r.text)) for r in docs.itertuples()
             if int(r.doc_id) % 2 == 0]
    uni = {}
    for _, ts in train:
        for t in ts:
            uni[t] = uni.get(t, 0) + 1
    ranked = sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    vocab = {t: i for i, (t, _) in enumerate(ranked)}
    unk = len(vocab)
    vprime = unk + 1
    bi = {}
    for _, ts in train:
        ids = [vocab.get(t, unk) for t in ts]
        for a, b in zip(ids, ids[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    ctx = [0] * (unk + 1)
    for (a, _), c in bi.items():
        ctx[a] += c
    kept = dict(sorted(bi.items(), key=lambda kv: (-kv[1], kv[0]))[:max_bigrams])
    rows = []
    for r in docs.itertuples():
        ids = [vocab.get(t, unk) for t in toks(r.text)]
        if len(ids) < 2:
            rows.append((int(r.doc_id), 0, 0, 0.0))
            continue
        num = den = 1
        for a, b in zip(ids, ids[1:]):
            num *= kept.get((a, b), 0) + 1
            den *= ctx[a] + vprime
        fp = lm_log2fix(den, num)
        n = len(ids) - 1
        xent = round_half_up(float(fp) / float(1 << 20) / float(n), 6)
        rows.append((int(r.doc_id), n, fp, xent))
    write("text_lm_quality",
          pd.DataFrame(rows, columns=["doc", "n_bigrams", "xent_fp", "xent"]),
          {"doc": "BIGINT", "n_bigrams": "INT", "xent_fp": "BIGINT",
           "xent": "DOUBLE"})


def pca_fit(emb, k, sweeps=30):
    """Mirror of Pca.train: sequential-in-id mean/covariance fold,
    cyclic sqrt-form Jacobi with a fixed sweep count (only IEEE-exact
    ops), eigenvalue-desc order, largest-|component|-positive sign.
    Returns (mean, basis)."""
    sample = [v for _, v in sorted(emb)]
    n = len(sample)
    dim = len(sample[0])
    mean = [0.0] * dim
    for v in sample:
        for i in range(dim):
            mean[i] += float(v[i])
    for i in range(dim):
        mean[i] /= n
    cov = [[0.0] * dim for _ in range(dim)]
    for v in sample:
        d = [float(v[i]) - mean[i] for i in range(dim)]
        for a in range(dim):
            da = d[a]
            for b in range(a, dim):
                cov[a][b] += da * d[b]
    for i in range(dim):
        for j in range(i, dim):
            cov[i][j] /= n
            cov[j][i] = cov[i][j]
    return pca_basis_from_cov(mean, cov, k, sweeps)


def pca_basis_from_cov(mean, cov, k, sweeps=30):
    """The eigen tail shared by pca_fit and pca_fit_dist (mirror of
    Pca.basisFromCov): fixed-sweep sqrt-form Jacobi, eigenvalue-desc
    order, largest-|component|-positive sign."""
    dim = len(mean)
    a = [row[:] for row in cov]
    vm = [[1.0 if r == c else 0.0 for c in range(dim)] for r in range(dim)]
    for _ in range(sweeps):
        for p in range(dim - 1):
            for q in range(p + 1, dim):
                apq = a[p][q]
                if apq != 0.0:
                    tau = (a[q][q] - a[p][p]) / (2.0 * apq)
                    if tau >= 0.0:
                        t = 1.0 / (tau + math.sqrt(1.0 + tau * tau))
                    else:
                        t = -1.0 / (-tau + math.sqrt(1.0 + tau * tau))
                    c = 1.0 / math.sqrt(1.0 + t * t)
                    s = t * c
                    for r in range(dim):
                        arp, arq = a[r][p], a[r][q]
                        a[r][p] = c * arp - s * arq
                        a[r][q] = s * arp + c * arq
                    for r in range(dim):
                        apr, aqr = a[p][r], a[q][r]
                        a[p][r] = c * apr - s * aqr
                        a[q][r] = s * apr + c * aqr
                    for r in range(dim):
                        vrp, vrq = vm[r][p], vm[r][q]
                        vm[r][p] = c * vrp - s * vrq
                        vm[r][q] = s * vrp + c * vrq
    values = [a[i][i] for i in range(dim)]
    order = sorted(range(dim), key=lambda c: (-values[c], c))[:k]
    basis = []
    for c in order:
        vec = [vm[r][c] for r in range(dim)]
        best = 0
        for r in range(1, dim):
            if abs(vec[r]) > abs(vec[best]):
                best = r
        if vec[best] < 0:
            vec = [-x for x in vec]
        basis.append(vec)
    return mean, basis


def pca_fit_dist(emb, k, sweeps=30):
    """Mirror of Pca.trainDistributed: fixed-point first+second
    moments — count, per-component sums and upper-tri Gram carried as
    round(x * 2^20) / round(x_a * x_b * 2^20) in exact ints (Python
    round() on a float is half-even on the same double as Scala's
    math.rint, and integer sums are order-independent — which is why
    the distributed Scala fold is replayable here at all) — then
    cov = E[xx^T] - mean mean^T and the shared Jacobi tail."""
    F = float(1 << 20)
    vecs = [v for _, v in emb]
    dim = max(len(v) for v in vecs)
    n = 0
    sums = [0] * dim
    gram = [[0] * dim for _ in range(dim)]
    for v in vecs:
        if not v:
            continue  # empty vectors are skipped, not counted
        n += 1
        m = min(dim, len(v))
        x = [float(v[i]) for i in range(m)]
        for i in range(m):
            sums[i] += round(x[i] * F)
            for j in range(i, m):
                gram[i][j] += round(x[i] * x[j] * F)
    mean = [(s / F) / n for s in sums]
    cov = [[0.0] * dim for _ in range(dim)]
    for i in range(dim):
        for j in range(i, dim):
            raw = (gram[i][j] / F) / n
            cov[i][j] = raw - mean[i] * mean[j]
            cov[j][i] = cov[i][j]
    return mean, pca_basis_from_cov(mean, cov, k, sweeps)[1]


def gen_ann_pca_dist(emb, k=5, pca_k=16, oversample=4):
    """gen_ann_pca's two-stage mirror over the DISTRIBUTED-trained
    (fixed-point moments) basis — the golden behind
    ann_recall_pca_dist."""
    mean, basis = pca_fit_dist(emb, pca_k)
    red = {i: pca_project(v, mean, basis) for i, v in emb}
    vec = dict(emb)
    queries = [i for i, _ in emb if i < 10]
    cands = {}
    for q in queries:
        scored = sorted(((cosine_sim_d(red[n], red[q]), n)
                         for n, _ in emb if n != q),
                        key=lambda t: (-t[0], t[1]))[:k * oversample]
        cands[q] = {n: cosine_sim_d(vec[n], vec[q]) for _, n in scored}
    rows = rank_topk(cands, k)
    write("ann_topk_pca_dist",
          pd.DataFrame(rows, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE", "rk": "BIGINT"})


def pca_project(v, mean, basis):
    out = []
    for b in basis:
        s = 0.0
        for i in range(min(len(b), len(v))):
            s += b[i] * (float(v[i]) - mean[i])
        out.append(s)
    return out


def gen_embed_pca(emb, k=8):
    mean, basis = pca_fit(emb, k)
    rows = []
    for vid, v in sorted(emb):
        out = [vid] + [round_half_up(x, 6) for x in pca_project(v, mean, basis)]
        rows.append(tuple(out))
    cols = ["vec_id"] + [f"p{i}" for i in range(k)]
    write("embed_pca", pd.DataFrame(rows, columns=cols),
          dict([("vec_id", "BIGINT")] + [(f"p{i}", "DOUBLE") for i in range(k)]))


def gen_ann_pca(emb, k=5, pca_k=16, oversample=4):
    """Mirror of Similarity.pcaTopK: reduced-space candidate top
    k*oversample per query by (-sim_reduced, nid), exact full-dim
    rescore, final top-k by (-sim, nid)."""
    mean, basis = pca_fit(emb, pca_k)
    red = {i: pca_project(v, mean, basis) for i, v in emb}
    vec = dict(emb)
    queries = [i for i, _ in emb if i < 10]
    cands = {}
    for q in queries:
        scored = sorted(((cosine_sim_d(red[n], red[q]), n)
                         for n, _ in emb if n != q),
                        key=lambda t: (-t[0], t[1]))[:k * oversample]
        cands[q] = {n: cosine_sim_d(vec[n], vec[q]) for _, n in scored}
    rows = rank_topk(cands, k)
    write("ann_topk_pca",
          pd.DataFrame(rows, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE", "rk": "BIGINT"})


def pq_fit(emb, m=8, ksub=16, iters=3, seed=42):
    """Mirror of Pq.train: per-subspace plain-L2 k-means, sequential in
    id order — splitmix init, min-squared-distance assignment with
    index ties, mean updates (f32 narrowed), empty clusters keep their
    centroid."""
    sample = sorted(emb)
    dim = len(sample[0][1])
    dsub = dim // m
    books = []
    for j in range(m):
        sub = [(i, v[j * dsub:(j + 1) * dsub]) for i, v in sample]
        sj = seed + j
        seeded = sorted(((s64(splitmix64((i + sj) & M64)), i, v)
                         for i, v in sub), key=lambda t: (t[0], t[1]))
        cents = [list(v) for _, _, v in seeded[:ksub]]
        for _ in range(iters):
            sums = [[0.0] * dsub for _ in cents]
            counts = [0] * len(cents)
            for _, v in sub:
                best, bd = 0, float("inf")
                for c, cent in enumerate(cents):
                    d = 0.0
                    for i in range(dsub):
                        diff = float(v[i]) - float(cent[i])
                        d += diff * diff
                    if d < bd:
                        bd, best = d, c
                for i in range(dsub):
                    sums[best][i] += float(v[i])
                counts[best] += 1
            cents = [cents[c] if counts[c] == 0
                     else [f32(sums[c][i] / counts[c]) for i in range(dsub)]
                     for c in range(len(cents))]
        books.append(cents)
    return dsub, books


def pq_encode(v, dsub, books):
    code = []
    for j, cents in enumerate(books):
        best, bd = 0, float("inf")
        for c, cent in enumerate(cents):
            d = 0.0
            for i in range(dsub):
                diff = float(v[j * dsub + i]) - float(cent[i])
                d += diff * diff
            if d < bd:
                bd, best = d, c
        code.append(best)
    return code


def pq_lut(v, dsub, books):
    lut = []
    for j, cents in enumerate(books):
        for cent in cents:
            s = 0.0
            for i in range(dsub):
                s += float(v[j * dsub + i]) * float(cent[i])
            lut.append(s)
    return lut


def gen_ann_pq(emb, k=5, m=8, ksub=16, oversample=4):
    """Mirror of Pq.pqTopK: ADC candidates (sum of per-subspace LUT
    entries, sequential in j), top k*oversample by (-adc, nid), exact
    cosine rescore, top-k by (-sim, nid)."""
    dsub, books = pq_fit(emb, m=m, ksub=ksub)
    codes = {i: pq_encode(v, dsub, books) for i, v in emb}
    vec = dict(emb)
    queries = [i for i, _ in emb if i < 10]
    cands = {}
    for q in queries:
        lut = pq_lut(vec[q], dsub, books)
        scored = []
        for n, _ in emb:
            if n == q:
                continue
            s = 0.0
            for j in range(m):
                s += lut[j * ksub + codes[n][j]]
            scored.append((s, n))
        scored.sort(key=lambda t: (-t[0], t[1]))
        cands[q] = {n: cosine_sim_d(vec[n], vec[q])
                    for _, n in scored[:k * oversample]}
    rows = rank_topk(cands, k)
    write("ann_topk_pq",
          pd.DataFrame(rows, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE", "rk": "BIGINT"})


def pq_fit_dist(emb, m=8, ksub=16, iters=3, seed=42):
    """Mirror of Pq.trainDistributed — its OWN pinned variant, not a
    replay of pq_fit: init takes the ksub splitmix-smallest rows ONCE
    (shared across subspaces; the sample fold draws per-subspace inits
    with seed+j), and per-iteration sums ride as round_half_up(x*2^24)
    exact ints (order-independent — what makes the distributed Scala
    fold replayable). Assignment/tie rules are pq_fit's."""
    F = float(1 << 24)
    dim = len(emb[0][1])
    dsub = dim // m
    # init mirrors the Scala .where(_tv IS NOT NULL AND size > 0)
    seeded = sorted(((s64(splitmix64((i + seed) & M64)), i, v)
                     for i, v in emb if v), key=lambda t: (t[0], t[1]))
    init = [list(v) for _, _, v in seeded[:ksub]]
    books = [[row[j * dsub:(j + 1) * dsub] for row in init]
             for j in range(m)]
    for _ in range(iters):
        sums = [[[0] * dsub for _ in books[j]] for j in range(m)]
        counts = [[0] * len(books[j]) for j in range(m)]
        for _, v in emb:
            for j in range(m):
                sub = [float(v[j * dsub + i]) for i in range(dsub)]
                best, bd = 0, float("inf")
                for c, cent in enumerate(books[j]):
                    d = 0.0
                    for i in range(dsub):
                        diff = sub[i] - float(cent[i])
                        d += diff * diff
                    if d < bd:
                        bd, best = d, c
                for i in range(dsub):
                    sums[j][best][i] += int(round_half_up(sub[i] * F, 0))
                counts[j][best] += 1
        books = [[books[j][c] if counts[j][c] == 0
                  else [f32((s / F) / counts[j][c]) for s in sums[j][c]]
                  for c in range(len(books[j]))]
                 for j in range(m)]
    return dsub, books


def gen_ann_pq_dist(emb, k=5, m=8, ksub=16, oversample=4):
    """gen_ann_pq's ADC mirror over the DISTRIBUTED-trained codebooks
    — the golden behind ann_recall_pq_dist."""
    dsub, books = pq_fit_dist(emb, m=m, ksub=ksub)
    codes = {i: pq_encode(v, dsub, books) for i, v in emb}
    vec = dict(emb)
    queries = [i for i, _ in emb if i < 10]
    cands = {}
    for q in queries:
        lut = pq_lut(vec[q], dsub, books)
        scored = []
        for n, _ in emb:
            if n == q:
                continue
            s = 0.0
            for j in range(m):
                s += lut[j * ksub + codes[n][j]]
            scored.append((s, n))
        scored.sort(key=lambda t: (-t[0], t[1]))
        cands[q] = {n: cosine_sim_d(vec[n], vec[q])
                    for _, n in scored[:k * oversample]}
    rows = rank_topk(cands, k)
    write("ann_topk_pq_dist",
          pd.DataFrame(rows, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE", "rk": "BIGINT"})


def gen_ivf_pq(emb, k=5, nlist=16, iters=3, nprobe=4, m=8, ksub=16,
               oversample=4, out="ivf_topk_pq"):
    """Mirror of Ivf.searchCodes under Codec.Pq: flat IVF clusters bound the candidate
    set, ADC over PQ codes ranks it, exact cosine rescores the
    oversampled survivors."""
    cents = ivf_train(emb, nlist, iters)
    assign = {i: ivf_nearest(cents, v, 1)[0] for i, v in emb}
    dsub, books = pq_fit(emb, m=m, ksub=ksub, iters=iters)
    codes = {i: pq_encode(v, dsub, books) for i, v in emb}
    vec = dict(emb)
    postings = {}
    for i, _ in emb:
        postings.setdefault(assign[i], []).append(i)
    queries = [i for i, _ in emb if i < 10]
    cands = {}
    for q in queries:
        lut = pq_lut(vec[q], dsub, books)
        seen = set()
        scored = []
        for cl in ivf_nearest(cents, vec[q], nprobe):
            for n in postings.get(cl, []):
                if n != q and n not in seen:
                    seen.add(n)
                    s = 0.0
                    for j in range(m):
                        s += lut[j * ksub + codes[n][j]]
                    scored.append((s, n))
        scored.sort(key=lambda t: (-t[0], t[1]))
        cands[q] = {n: cosine_sim_d(vec[n], vec[q])
                    for _, n in scored[:k * oversample]}
    rows = rank_topk(cands, k)
    write(out,
          pd.DataFrame(rows, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE", "rk": "BIGINT"})


def gen_ivf_bq(emb, k=5, nlist=16, iters=3, nprobe=4, oversample=4):
    """Mirror of Ivf.searchCodes under Codec.Bq: sign-bit codes (bit j set iff
    v[j] > 0, strict), symmetric Hamming shortlist of the probed
    clusters' postings (ham asc, nid asc — deterministic), exact
    cosine rescore on the k*oversample survivors."""
    cents = ivf_train(emb, nlist, iters)
    assign = {i: ivf_nearest(cents, v, 1)[0] for i, v in emb}
    sig = {i: sum(1 << j for j, x in enumerate(v) if x > 0.0)
           for i, v in emb}
    vec = dict(emb)
    postings = {}
    for i, _ in emb:
        postings.setdefault(assign[i], []).append(i)
    queries = [i for i, _ in emb if i < 10]
    cands = {}
    for q in queries:
        seen = set()
        scored = []
        for cl in ivf_nearest(cents, vec[q], nprobe):
            for n in postings.get(cl, []):
                if n != q and n not in seen:
                    seen.add(n)
                    scored.append((bin(sig[n] ^ sig[q]).count("1"), n))
        scored.sort()
        cands[q] = {n: cosine_sim_d(vec[n], vec[q])
                    for _, n in scored[:k * oversample]}
    rows = rank_topk(cands, k)
    write("ivf_topk_bq",
          pd.DataFrame(rows, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE", "rk": "BIGINT"})


def gen_ivf_pqr(emb, k=5, nlist=16, iters=3, nprobe=4, m=8, ksub=16,
                oversample=4):
    """Mirror of Ivf.searchCodes under Codec.PqResidual (IVF-ADC): PQ codebooks fit on
    RESIDUALS to the assigned coarse centroid (exact double subtract
    then f32 narrow, component-wise — the Scala kernel's rounding),
    ADC score = dot(q, centroid(cell)) + sum of residual-LUT entries,
    exact cosine rescore on the oversampled survivors."""
    cents = ivf_train(emb, nlist, iters)
    assign = {i: ivf_nearest(cents, v, 1)[0] for i, v in emb}
    resid = [(i, [f32(float(v[j]) - (float(cents[assign[i]][j])
                                     if j < len(cents[assign[i]]) else 0.0))
                  for j in range(len(v))])
             for i, v in emb]
    dsub, books = pq_fit(resid, m=m, ksub=ksub, iters=iters)
    rvec = dict(resid)
    codes = {i: pq_encode(r, dsub, books) for i, r in resid}
    vec = dict(emb)
    postings = {}
    for i, _ in emb:
        postings.setdefault(assign[i], []).append(i)
    queries = [i for i, _ in emb if i < 10]
    cands = {}
    for q in queries:
        lut = pq_lut(vec[q], dsub, books)
        seen = set()
        scored = []
        for cl in ivf_nearest(cents, vec[q], nprobe):
            cdot = dot_d(vec[q], cents[cl])
            for n in postings.get(cl, []):
                if n != q and n not in seen:
                    seen.add(n)
                    s = 0.0
                    for j in range(m):
                        s += lut[j * ksub + codes[n][j]]
                    scored.append((cdot + s, n))
        scored.sort(key=lambda t: (-t[0], t[1]))
        cands[q] = {n: cosine_sim_d(vec[n], vec[q])
                    for _, n in scored[:k * oversample]}
    rows = rank_topk(cands, k)
    write("ivf_topk_pqr",
          pd.DataFrame(rows, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE", "rk": "BIGINT"})


def gen_memory_generate():
    """Mirror of the memory_generate query: 25 conv-1 messages, M4
    /generate with the lossy-echo functor (text[::2]) over the last-20
    window, reply persisted; the user prompt is NOT (reference
    app.py:333-356 quirk). Output = export('conv-1')."""
    msgs = [(f"m{i:02d}", "user" if i % 2 == 0 else "assistant",
             f"message number {i} about topic {i % 5}", 1700000000 + i * 10)
            for i in range(25)]
    last20 = sorted(msgs, key=lambda m: (m[3], m[0]))[-20:]
    hist = "\n".join(f"{r}: {t}" for _, r, t, _ in last20)
    full = hist + "\nuser: please summarize the conversation\nassistant:"
    reply = full[::2]
    rows = msgs + [("r1", "assistant", reply, 1700001000)]
    rows.sort(key=lambda m: (m[3], m[0]))
    write("memory_generate",
          pd.DataFrame(rows, columns=["id", "role", "text", "timestamp"]),
          {"id": "VARCHAR", "role": "VARCHAR", "text": "VARCHAR",
           "timestamp": "BIGINT"})


# ------------------------------------------------------- ingest / policy
def wrap_content(template: str, spec: str, content: str) -> str:
    return "\n".join([template.format(spec), "```"]
                     + content.split("\n") + ["```", ""])


def gen_ingest_dir():
    root = "/root/repo/target/tmp/graft_ingest_fixed"
    files = [("a.txt", f"{root}/a.txt", "alpha\nbeta"),
             ("b.txt", f"{root}/sub/b.txt", "gamma")]
    tmpl = "Here is the contents of file `{}`:"
    rows = [(name, len(content), len(wrap_content(tmpl, path, content)))
            for name, path, content in files]
    write("ingest_dir", pd.DataFrame(rows, columns=["file", "n_chars", "wrapped_len"]),
          {"file": "VARCHAR", "n_chars": "BIGINT", "wrapped_len": "BIGINT"})


def gen_policy_sections():
    doc = "\n".join(["1. Scope", "********", "body a", "body b",
                     "1.1. Details", "============", "detail body",
                     "2. Refs", "*******", "ref body"])
    lines = [re.sub(r"\s+$", "", l) for l in doc.split("\n")]
    rows = []
    for idx in range(1, len(lines)):
        line = lines[idx]
        level = (1 if line.startswith("***") else
                 2 if line.startswith("===") else
                 3 if line.startswith("---") else None)
        if level is None:
            continue
        first = lines[idx - 1].split(" ")[0]
        if not first.endswith("."):
            continue
        rows.append((idx, re.sub(r"\.+$", "", first), level, lines[idx - 1]))
    write("policy_sections",
          pd.DataFrame(rows, columns=["idx", "sectionId", "level", "heading"]),
          {"idx": "BIGINT", "sectionId": "VARCHAR", "level": "INT",
           "heading": "VARCHAR"})


# --------------------------------------- reference-executed: chunk + fold
def extract(path, names):
    src = open(path).read()
    out = []
    for name in names:
        m = re.search(rf"^def {name}\(.*?(?=^def |\Z)", src, re.S | re.M)
        assert m, name
        out.append(m.group(0))
    return "\n".join(out)


def reference_ns():
    import collections
    import itertools as it  # noqa: F401
    import functools as ft  # noqa: F401

    class _Console:
        def print(self, *a, **k):
            pass

        def log(self, *a, **k):
            pass

    ns = {"List": list, "Dict": dict, "Tuple": tuple, "Optional": object,
          "console": _Console(), "track": lambda x, **k: x,
          "it": it, "ft": ft}
    ns["Entry"] = collections.namedtuple(
        "Entry", ["path", "content", "wrapfun", "wrapfun_chunk"])
    exec("import functools as ft\nimport itertools as it", ns)
    exec(extract(f"{REF}/reader.py", ["chunk_lines", "chunk_entry"]), ns)
    src = open(f"{REF}/reader.py").read()
    for fn in ["create_wrapper", "create_chunk_wrapper"]:
        m = re.search(
            rf"^ {{4}}def {fn}\(.*?(?=^ {{4}}def |^ {{4}}\S)", src, re.S | re.M)
        assert m, fn
        exec("\n".join(l[4:] if len(l) >= 4 else l
                       for l in m.group(0).split("\n")), ns)
    exec(re.sub(r"chunk: Entry", "chunk",
         re.sub(r"chunks: List\[Entry\]", "chunks",
         re.sub(r"frtnd: frontend\.AbstractFrontend", "frtnd",
         re.sub(r"results: List\[str\]", "results",
         extract(f"{REF}/mapreduce.py", [
             "shorten", "pad_chunk_before_map", "group_chunks_by_length",
             "pad_chunks_before_map", "map_chunk", "map_chunks",
             "map_serial", "map_serial_compact",
             "pad_two_results_for_reduce", "reduce_two_chunks",
             "pad_many_results_for_reduce", "reduce_many_chunks",
             "group_strings_by_length", "reduce_serial",
             "reduce_serial_compact"]))))), ns)
    exec("import textwrap", ns)
    return ns


def gen_chunk_stats(docs, ns, max_bytes=100):
    rows = []
    for r in docs.itertuples():
        lines = r.text.replace(" ", "\n").split("\n")
        rows.append((r.doc_id, len(ns["chunk_lines"](lines, max_bytes))))
    write("chunk_stats", pd.DataFrame(rows, columns=["doc_id", "n_chunks"]),
          {"doc_id": "BIGINT", "n_chunks": "BIGINT"})


class LossyFrontend:
    def oneshot(self, s):
        return s[::2]


def reference_fold(ns, entries, chunk_size, question):
    """mapreduce_super_long_context, compact map + compact reduce,
    executed with the reference's own functions."""
    chunks = []
    for spec, content in entries:
        wrapfun = ns["create_wrapper"]("Here is the contents of file `{}`:", spec)
        wrapfun_chunk = ns["create_chunk_wrapper"](
            "Here is the contents of file {} (lines {}-{}):", spec)
        e = ns["Entry"](spec, content, wrapfun, wrapfun_chunk)
        chunks.extend(ns["chunk_entry"](e, chunk_size))
    if len(chunks) == 1:
        return chunks[0].wrapfun_chunk(chunks[0].content)
    frtnd = LossyFrontend()
    inter = ns["map_serial_compact"](chunks, question, frtnd,
                                     max_chunk_size=chunk_size)
    agg = ns["reduce_serial_compact"](inter, question, frtnd,
                                      max_chunk_size=chunk_size)
    return agg + "\n\n"


def gen_mapreduce_fold(docs, ns):
    sub = docs[docs.doc_id < 20].sort_values("doc_id")
    entries = [(r.source, r.text) for r in sub.itertuples()]
    result = reference_fold(ns, entries, 1024,
                            "summarize the provided contents.")
    write("mapreduce_fold", pd.DataFrame([(len(result), result)],
                                         columns=["len", "result"]),
          {"len": "BIGINT", "result": "VARCHAR"})


def gen_e2e_pipeline(ns, dim=32, k=3):
    texts = ["spark joins and shuffles explained",
             "cat pictures considered harmful",
             "partitioning strategies for spark joins at scale",
             "a recipe for sourdough bread"]
    entries = [(f"doc{i}.txt", (t + " ") * 8 + "\n" + (t + " ") * 8)
               for i, t in enumerate(texts)]
    stored = [(pos, name, content,
               store_normalize(hash_embed(content, dim)))
              for pos, (name, content) in enumerate(entries)]
    qn = query_normalize(hash_embed(entries[0][1], dim))
    scored = sorted(((dot_d(v, qn), pos, name, content)
                     for pos, name, content, v in stored),
                    key=lambda t: (-t[0], t[1]))
    hits = scored[:k]
    summary = reference_fold(
        ns, [(name, content) for _, _, name, content in hits], 256,
        "summarize the provided contents.")
    rows = [(math.floor(sim * 1e6 + 0.5) / 1e6, name, len(summary))
            for sim, _, name, _ in hits]
    rows.sort(key=lambda t: (-t[0], t[1]))
    write("e2e_pipeline",
          pd.DataFrame(rows, columns=["sim", "source", "summary_len"]),
          {"sim": "DOUBLE", "source": "VARCHAR", "summary_len": "BIGINT"})


def gen_corpus_mix(docs, seed=42,
                   weights=None, default_w=0.25):
    """Mirror of graft.pipeline.Mix.byWeight: copies = floor(w) +
    [unit_uniform(splitmix64(id+seed)) < frac(w)], exact dyadic
    uniform (top 53 bits / 2^53)."""
    if weights is None:
        weights = {"en": 0.5, "zh": 2.25, "fr": 0.0, "de": 1.0}
    rows = []
    for r in docs.itertuples():
        w = weights.get(r.lang, default_w)
        u = (splitmix64((r.doc_id + seed) & M64) >> 11) / float(1 << 53)
        copies = math.floor(w) + (1 if u < (w - math.floor(w)) else 0)
        for c in range(int(copies)):
            rows.append((int(r.doc_id), r.lang, c))
    write("corpus_mix", pd.DataFrame(rows, columns=["doc_id", "lang", "copy"]),
          {"doc_id": "BIGINT", "lang": "VARCHAR", "copy": "BIGINT"})


def gen_corpus_mix_temperature(docs, tau=2.0, seed=42):
    """Mirror of graft.pipeline.Mix.byTemperature: per-lang counts,
    r_s = sqrt(n_s/N) (tau=2 -> correctly-rounded sqrt), Z = sum of
    r_s in SORTED stratum order, w_s = (r_s/Z)*N/n_s (same IEEE op
    order), then the byWeight copies rule."""
    counts = docs.groupby("lang").size().to_dict()
    n = float(sum(counts.values()))
    strata = sorted(counts)
    rs = {s: math.sqrt(counts[s] / n) for s in strata}
    z = 0.0
    for s in strata:
        z = z + rs[s]
    weights = {s: (rs[s] / z * n) / float(counts[s]) for s in strata}
    rows = []
    for r in docs.itertuples():
        w = weights[r.lang]
        u = (splitmix64((r.doc_id + seed) & M64) >> 11) / float(1 << 53)
        copies = math.floor(w) + (1 if u < (w - math.floor(w)) else 0)
        for c in range(int(copies)):
            rows.append((int(r.doc_id), r.lang, c))
    write("corpus_mix_temperature",
          pd.DataFrame(rows, columns=["doc_id", "lang", "copy"]),
          {"doc_id": "BIGINT", "lang": "VARCHAR", "copy": "BIGINT"})


def bpe_merge_all(s, l, r):
    """Merge all non-overlapping (l, r) occurrences, left to right."""
    out, i = [], 0
    while i < len(s):
        if i < len(s) - 1 and s[i] == l and s[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def bpe_train_from_counts(word_counts, num_merges, min_pair_count=2):
    """Mirror of graft.pipeline.Bpe.trainFromCounts: classic Sennrich
    merge loop over the word-frequency table — max pair count,
    lexicographic (left, right) tie-break, non-overlapping
    left-to-right merges."""
    vocab = [(list(w) + ["</w>"], c) for w, c in sorted(word_counts.items())]
    merges = []
    for rank in range(num_merges):
        pairs = {}
        for s, c in vocab:
            for i in range(len(s) - 1):
                k = (s[i], s[i + 1])
                pairs[k] = pairs.get(k, 0) + c
        if not pairs:
            break
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_pair_count:
            break
        merges.append((rank, l, r, cnt))
        vocab = [(bpe_merge_all(s, l, r), c) for s, c in vocab]
    return merges


def bpe_encode_word(word, ranks):
    """Mirror of Bpe.encodeWord: merge the lowest-rank adjacent pair
    until none remains."""
    s = list(word) + ["</w>"]
    while len(s) > 1:
        best, bl, br = None, None, None
        for i in range(len(s) - 1):
            r = ranks.get((s[i], s[i + 1]))
            if r is not None and (best is None or r < best):
                best, bl, br = r, s[i], s[i + 1]
        if best is None:
            break
        s = bpe_merge_all(s, bl, br)
    return s


def gen_bpe(docs, num_merges=60):
    """Mirrors of bpe_train (merge table) and bpe_token_count
    (per-doc encoded length under the learned merges)."""
    wc = {}
    for r in docs.itertuples():
        for w in r.text.split(" "):
            wc[w] = wc.get(w, 0) + 1
    merges = bpe_train_from_counts(wc, num_merges)
    write("bpe_train",
          pd.DataFrame(merges, columns=["rank", "left", "right",
                                        "pair_count"]),
          {"rank": "INT", "left": "VARCHAR", "right": "VARCHAR",
           "pair_count": "BIGINT"})
    ranks = {(l, r): k for k, l, r, _ in merges}
    rows = []
    for r in docs.itertuples():
        n = sum(len(bpe_encode_word(w, ranks))
                for w in r.text.split(" "))
        rows.append((int(r.doc_id), n))
    write("bpe_token_count",
          pd.DataFrame(rows, columns=["doc_id", "n_bpe"]),
          {"doc_id": "BIGINT", "n_bpe": "BIGINT"})


def gen_bpe_capped(docs, num_merges=40, max_vocab=20):
    """Mirror of Bpe.trainCapped: the word table is first capped to
    the max_vocab most frequent words (HeavyHitters.topTerms order:
    count desc, term asc — exact, so the mirror is a plain sort), then
    the same merge loop runs on the true counts of the head words."""
    wc = {}
    for r in docs.itertuples():
        for w in r.text.split(" "):
            wc[w] = wc.get(w, 0) + 1
    head = dict(sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:max_vocab])
    merges = bpe_train_from_counts(head, num_merges)
    write("bpe_train_capped",
          pd.DataFrame(merges, columns=["rank", "left", "right",
                                        "pair_count"]),
          {"rank": "INT", "left": "VARCHAR", "right": "VARCHAR",
           "pair_count": "BIGINT"})


def gen_corpus_curation_v2(docs, buckets=512, tau=2.0, seed=42):
    """Mirror of the corpus_curation_v2 chain: URL blocklist (host =
    optional 'cdn.' + source + '.example.com', suffix semantics) ->
    NB Bayes-positive gate (fit on the kept docs, label lang in
    (en, de), exact fixed-point log-odds >= 0) -> exact fingerprint
    dedup (min doc_id per md5 of lower(strip(squeeze(text)))) ->
    byTemperature mixing (tau=2, sqrt weights, sorted fold)."""
    import hashlib
    bl = ["src3.example.com", "src7.example.com", "cdn.src1.example.com"]

    def blocked(host):
        return any(host == e or host.endswith("." + e) for e in bl)

    kept = [r for r in docs.itertuples()
            if not blocked((("cdn." if r.doc_id % 2 == 1 else "") +
                            r.source + ".example.com"))]

    # NB fit over kept docs (same machinery as nb_classifier_select)
    def feats(text):
        return (rolling_shingle_hashes(text, 1) +
                rolling_shingle_hashes(text, 2))
    pc = [0] * buckets
    nc = [0] * buckets
    pos_docs = neg_docs = 0
    fx = {}
    for r in kept:
        bs = [s64(h) % buckets for h in feats(r.text)]
        fx[int(r.doc_id)] = bs
        if r.lang in ("en", "de"):
            pos_docs += 1
            for b in bs:
                pc[b] += 1
        else:
            neg_docs += 1
            for b in bs:
                nc[b] += 1
    pden = sum(pc) + buckets
    nden = sum(nc) + buckets
    survivors = []
    for r in kept:
        bs = fx[int(r.doc_id)]
        num = pos_docs + 1
        den = neg_docs + 1
        for b in bs:
            num *= pc[b] + 1
            den *= nc[b] + 1
        if bs:
            num *= nden ** len(bs)
            den *= pden ** len(bs)
        fp = lm_log2fix(num, den) if num >= den else -lm_log2fix(den, num)
        if fp >= 0:
            survivors.append(r)

    # exact fingerprint dedup: min doc_id per md5 group (Java \s is
    # ASCII-only -> re.ASCII)
    best = {}
    for r in survivors:
        norm = re.sub(r"\s+", " ", r.text, flags=re.ASCII).strip().lower()
        h = hashlib.md5(norm.encode("utf-8")).hexdigest()
        if h not in best or r.doc_id < best[h].doc_id:
            best[h] = r
    deduped = sorted(best.values(), key=lambda r: r.doc_id)

    # temperature mixing over the survivor strata
    counts = {}
    for r in deduped:
        counts[r.lang] = counts.get(r.lang, 0) + 1
    n = float(sum(counts.values()))
    strata = sorted(counts)
    rs = {s: math.sqrt(counts[s] / n) for s in strata}
    z = 0.0
    for s in strata:
        z = z + rs[s]
    weights = {s: (rs[s] / z * n) / float(counts[s]) for s in strata}
    rows = []
    for r in deduped:
        w = weights[r.lang]
        u = (splitmix64((r.doc_id + seed) & M64) >> 11) / float(1 << 53)
        copies = math.floor(w) + (1 if u < (w - math.floor(w)) else 0)
        for c in range(int(copies)):
            rows.append((int(r.doc_id), r.lang, c))
    write("corpus_curation_v2",
          pd.DataFrame(rows, columns=["doc_id", "lang", "copy"]),
          {"doc_id": "BIGINT", "lang": "VARCHAR", "copy": "BIGINT"})


def gen_corpus_shuffle(docs, seed=42):
    """Mirror of graft.pipeline.Mix.shuffleOrder: skey =
    splitmix64(doc_id + seed) as SIGNED 64-bit, rows ordered by
    (skey, doc_id)."""
    rows = [(int(r.doc_id), s64(splitmix64((r.doc_id + seed) & M64)))
            for r in docs.itertuples()]
    rows.sort(key=lambda t: (t[1], t[0]))
    write("corpus_shuffle",
          pd.DataFrame(rows, columns=["doc_id", "skey"]),
          {"doc_id": "BIGINT", "skey": "BIGINT"})


def aes_race_key(doc, w, seed):
    """Mirror of graft.pipeline.Sample.keyKernel: A-ES exponential-race
    key floor(log2fix(2^62, u) << 20 / w), u = (splitmix64(doc+seed)
    >> 2) + 1."""
    u = (splitmix64((doc + seed) & M64) >> 2) + 1
    race = lm_log2fix(1 << 62, u)
    return (race << 20) // w


def gen_weighted_sample(docs, k=20, seed=42, sk=5, sseed=7):
    """Mirror of graft.pipeline.Sample.weightedSample(+Stratified):
    weight = len(text.split(' ')) (tokenCount, empties kept), k
    smallest (key, doc) globally / per lang stratum."""
    keyed = [(int(r.doc_id), len(r.text.split(" ")), str(r.lang))
             for r in docs.itertuples()]
    glob = sorted(((d, w, aes_race_key(d, w, seed)) for d, w, _ in keyed),
                  key=lambda t: (t[2], t[0]))[:k]
    rows = [(d, w, kfp, i) for i, (d, w, kfp) in enumerate(glob, 1)]
    write("corpus_weighted_sample",
          pd.DataFrame(rows, columns=["doc", "w", "key_fp", "rk"]),
          {"doc": "BIGINT", "w": "BIGINT", "key_fp": "BIGINT",
           "rk": "INT"})
    srows = []
    for lang in sorted({l for _, _, l in keyed}):
        sub = sorted(((d, aes_race_key(d, w, sseed))
                      for d, w, l in keyed if l == lang),
                     key=lambda t: (t[1], t[0]))[:sk]
        srows += [(lang, d, kfp, i) for i, (d, kfp) in enumerate(sub, 1)]
    write("corpus_weighted_sample_strat",
          pd.DataFrame(srows, columns=["stratum", "doc", "key_fp", "rk"]),
          {"stratum": "VARCHAR", "doc": "BIGINT", "key_fp": "BIGINT",
           "rk": "INT"})


def gen_corpus_cluster_sample(emb, nlist=16, iters=3, seed=42, quota=20,
                              useed=42):
    """Mirror of graft.pipeline.Curation.clusterBalancedSample: same
    deterministic IVF k-means assignment as semdedup, then per cluster
    keep the `quota` rows with the smallest splitmix uniform (id
    tie-break)."""
    cents = ivf_train(emb, nlist=nlist, iters=iters, seed=seed)
    by_cluster = {}
    for vid, v in emb:
        c = ivf_nearest_descend(cents, [], [], v, 1)[0]
        u = (splitmix64((vid + useed) & M64) >> 11) / float(1 << 53)
        by_cluster.setdefault(c, []).append((u, int(vid)))
    rows = []
    for c, mem in by_cluster.items():
        mem.sort()
        for u, vid in mem[:quota]:
            rows.append((int(c), vid, u))
    rows.sort(key=lambda t: (t[0], t[1]))
    write("corpus_cluster_sample",
          pd.DataFrame(rows, columns=["cluster", "vec_id", "u"]),
          {"cluster": "BIGINT", "vec_id": "BIGINT", "u": "DOUBLE"})


def gen_dsir_select(docs, buckets=512, k=50):
    """Mirror of graft.pipeline.Dsir: hashed unigram+bigram features
    (rolling_shingle_hashes w=1,2 in document order), Laplace-smoothed
    target (lang='en') vs raw (all docs) multinomials, per-doc log2
    importance weight as a signed exact fixed-point log2 of one
    big-integer ratio (lm_log2fix), deterministic top-k."""
    def feats(text):
        return (rolling_shingle_hashes(text, 1) +
                rolling_shingle_hashes(text, 2))
    tc = [0] * buckets
    rc = [0] * buckets
    fx = {}
    for r in docs.itertuples():
        # masked hash -> signed, then Python % == Java pmod
        bs = [s64(h) % buckets for h in feats(r.text)]
        fx[int(r.doc_id)] = bs
        for b in bs:
            rc[b] += 1
        if r.lang == "en":
            for b in bs:
                tc[b] += 1
    tden = sum(tc) + buckets
    rden = sum(rc) + buckets
    rows = []
    for r in docs.itertuples():
        bs = fx[int(r.doc_id)]
        n = len(bs)
        if n == 0:
            rows.append((int(r.doc_id), 0, 0, 0.0))
            continue
        num = den = 1
        for b in bs:
            num *= tc[b] + 1
            den *= rc[b] + 1
        a = num * rden ** n
        d = den * tden ** n
        fp = lm_log2fix(a, d) if a >= d else -lm_log2fix(d, a)
        rows.append((int(r.doc_id), n, fp, float(fp) / float(1 << 20)))
    rows.sort(key=lambda t: (-t[2], t[0]))
    write("dsir_select",
          pd.DataFrame(rows[:k],
                       columns=["doc", "n_feats", "logw_fp", "logw"]),
          {"doc": "BIGINT", "n_feats": "INT", "logw_fp": "BIGINT",
           "logw": "DOUBLE"})


def gen_nb_classifier_select(docs, buckets=512, k=80):
    """Mirror of graft.pipeline.Classify: multinomial NB over hashed
    unigram+bigram features (same feature map as dsir_select),
    positive class lang IN ('en','de'), Laplace-smoothed
    class-conditionals AND prior odds, per-doc log2 posterior odds as
    a signed exact fixed-point log2 of one big-integer ratio
    (lm_log2fix), Bayes decision pred = odds >= 0, top-k by odds."""
    def feats(text):
        return (rolling_shingle_hashes(text, 1) +
                rolling_shingle_hashes(text, 2))
    pc = [0] * buckets
    nc = [0] * buckets
    pos_docs = neg_docs = 0
    fx = {}
    for r in docs.itertuples():
        bs = [s64(h) % buckets for h in feats(r.text)]
        fx[int(r.doc_id)] = bs
        if r.lang in ("en", "de"):
            pos_docs += 1
            for b in bs:
                pc[b] += 1
        else:
            neg_docs += 1
            for b in bs:
                nc[b] += 1
    pden = sum(pc) + buckets
    nden = sum(nc) + buckets
    rows = []
    for r in docs.itertuples():
        bs = fx[int(r.doc_id)]
        n = len(bs)
        num = pos_docs + 1
        den = neg_docs + 1
        for b in bs:
            num *= pc[b] + 1
            den *= nc[b] + 1
        if n > 0:
            num *= nden ** n
            den *= pden ** n
        fp = lm_log2fix(num, den) if num >= den else -lm_log2fix(den, num)
        rows.append((int(r.doc_id), n, fp, fp >= 0))
    rows.sort(key=lambda t: (-t[2], t[0]))
    write("nb_classifier_select",
          pd.DataFrame(rows[:k],
                       columns=["doc", "n_feats", "logodds_fp", "pred"]),
          {"doc": "BIGINT", "n_feats": "INT", "logodds_fp": "BIGINT",
           "pred": "BOOLEAN"})


SPLIT_FRACTIONS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]


def split_bounds(fractions):
    """Cumulative fraction bounds, same IEEE left-scan as
    Split.cumBounds (scanLeft(0.0)(_+_).tail)."""
    out, cum = [], 0.0
    for _, f in fractions:
        cum = cum + f
        out.append(cum)
    return out


def gen_corpus_split_assign(docs, fractions=None, seed=42):
    """Mirror of graft.pipeline.Split.assignSplits: u =
    splitmix64(id+seed) top-53-bit uniform; first split whose
    cumulative bound exceeds u, last split the catch-all."""
    fractions = fractions or SPLIT_FRACTIONS
    bounds = split_bounds(fractions)
    rows = []
    for r in docs.itertuples():
        u = (splitmix64((r.doc_id + seed) & M64) >> 11) / float(1 << 53)
        name = fractions[-1][0]
        for (nm, _), b in zip(fractions[:-1], bounds[:-1]):
            if u < b:
                name = nm
                break
        rows.append((int(r.doc_id), r.lang, name))
    write("corpus_split_assign",
          pd.DataFrame(rows, columns=["doc_id", "lang", "split"]),
          {"doc_id": "BIGINT", "lang": "VARCHAR", "split": "VARCHAR"})


def gen_corpus_split_stratified(docs, fractions=None, seed=42):
    """Mirror of graft.pipeline.Split.splitStratified: per lang
    stratum, rank rows by (u, doc); cut j ends at
    floor(cumF_j * n_s) (last = n_s)."""
    fractions = fractions or SPLIT_FRACTIONS
    bounds = split_bounds(fractions)
    by_s = {}
    for r in docs.itertuples():
        u = (splitmix64((r.doc_id + seed) & M64) >> 11) / float(1 << 53)
        by_s.setdefault(str(r.lang), []).append((u, int(r.doc_id)))
    rows = []
    for s, mem in by_s.items():
        mem.sort()
        n = len(mem)
        cuts = [math.floor(b * n) for b in bounds[:-1]] + [n]
        for rank, (u, doc) in enumerate(mem):
            j = next(i for i, c in enumerate(cuts) if rank < c)
            rows.append((doc, s, u, fractions[j][0]))
    rows.sort()
    write("corpus_split_stratified",
          pd.DataFrame(rows, columns=["doc", "stratum", "u", "split"]),
          {"doc": "BIGINT", "stratum": "VARCHAR", "u": "DOUBLE",
           "split": "VARCHAR"})


BM25_QUERIES = [(0, "hash join"), (1, "fast table scan"),
                (2, "merge sort window")]


def bm25_rank_lists(docs, queries, k, keep=None):
    """Exact fixed-point BM25 ranked lists (see gen_bm25_topk):
    {qid: [(doc, score_fp)] top-k by (score desc, doc asc)}.
    `keep(doc_id)` restricts the CANDIDATE set before the cut while
    collection stats (N, total tokens, df) stay corpus-level —
    Lucene filter semantics, the Bm25.searchIndex docFilter
    contract."""
    toks = {int(r.doc_id): r.text.split(" ") for r in docs.itertuples()}
    lens = {d: len(ws) for d, ws in toks.items()}
    n_docs = len(toks)
    t_tokens = sum(lens.values())
    terms = []
    for _, q in queries:
        for t in q.split(" "):
            if t not in terms:
                terms.append(t)
    tf = {}  # (term, doc) -> count
    df = {t: 0 for t in terms}
    tset = set(terms)
    for d, ws in toks.items():
        seen = set()
        for w in ws:
            if w in tset:
                tf[(w, d)] = tf.get((w, d), 0) + 1
                seen.add(w)
        for w in seen:
            df[w] += 1
    idf = {t: lm_log2fix(2 * n_docs + 2, 2 * df[t] + 1) for t in terms}
    out = {}
    for qid, q in queries:
        qts = list(dict.fromkeys(q.split(" ")))
        scores = {}
        for t in qts:
            for (tt, d), f in tf.items():
                if tt != t:
                    continue
                num = 22 * f * t_tokens
                den = 10 * t_tokens * f + 3 * t_tokens + 9 * lens[d] * n_docs
                scores[d] = scores.get(d, 0) + (idf[t] * num) // den
        if keep is not None:
            scores = {d: s for d, s in scores.items() if keep(d)}
        out[int(qid)] = sorted(scores.items(),
                               key=lambda kv: (-kv[1], kv[0]))[:k]
    return out


def gen_bm25_topk(docs, queries=None, k=10):
    """Mirror of graft.pipeline.Bm25.topK: exact fixed-point BM25.
    idf_fp = lm_log2fix(2N+2, 2df+1); tf factor with k1=6/5, b=3/4,
    avgdl=T/N as the exact rational 22·tf·T / (10·T·tf + 3·T +
    9·len·N); contribution = floor(idf_fp·num/den); integer score sum;
    top-k by (score desc, doc asc)."""
    queries = queries or BM25_QUERIES
    lists = bm25_rank_lists(docs, queries, k)
    rows = []
    for qid, q in queries:
        for rk, (d, s) in enumerate(lists[int(qid)], 1):
            rows.append((int(qid), d, s, rk))
    write("bm25_topk",
          pd.DataFrame(rows, columns=["qid", "doc", "score_fp", "rk"]),
          {"qid": "BIGINT", "doc": "BIGINT", "score_fp": "BIGINT",
           "rk": "INT"})


def gen_hybrid_topk(docs, emb, queries=None, k_cand=20, k=10):
    """Mirror of graft.pipeline.Hybrid.hybridTopK: BM25 top-k_cand +
    brute-force cosine top-k_cand (sim desc, nid asc; self kept),
    RRF-fused with integer contributions floor(2^20/(60+rk)), top-k
    by (fused desc, doc asc)."""
    queries = queries or BM25_QUERIES
    lex = bm25_rank_lists(docs, queries, k_cand)
    vecs = dict(emb)
    rows = []
    for qid, _ in queries:
        qv = vecs[int(qid)]
        sims = sorted(((cosine_sim_d(v, qv), -i) for i, v in emb),
                      reverse=True)[:k_cand]
        fused = {}
        for rk, (d, _) in enumerate(lex[int(qid)], 1):
            fused[d] = fused.get(d, 0) + (1 << 20) // (60 + rk)
        for rk, (_, negi) in enumerate(sims, 1):
            d = -negi
            fused[d] = fused.get(d, 0) + (1 << 20) // (60 + rk)
        top = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        for rk, (d, s) in enumerate(top, 1):
            rows.append((int(qid), d, s, rk))
    write("hybrid_topk",
          pd.DataFrame(rows, columns=["qid", "doc", "rrf_fp", "rk"]),
          {"qid": "BIGINT", "doc": "BIGINT", "rrf_fp": "BIGINT",
           "rk": "INT"})


def _with_scrambled_decoys(docs):
    """The corpus + the tombstone fixture's decoys: scrambled texts
    (vowels -> 9, Spark's regexp_replace mirror) at doc_id + 100000 —
    they move N/avgdl/df, which is exactly what the Lucene-model rows
    must observe while the decoys stay masked from candidates."""
    rows = [(int(r.doc_id), r.text) for r in docs.itertuples()]
    return pd.DataFrame(
        rows + [(d + 100000, re.sub('[aeiou]', '9', t)) for d, t in rows],
        columns=["doc_id", "text"])


def gen_bm25_tombstoned(docs, queries=None, k=10):
    """Mirror of a TOMBSTONED Bm25.searchIndex (Lucene delete model):
    collection stats include the decoy docs (deleted-but-unmerged
    mass), candidates exclude them."""
    queries = queries or BM25_QUERIES
    corpus = _with_scrambled_decoys(docs)
    lists = bm25_rank_lists(corpus, queries, k,
                            keep=lambda d: d < 100000)
    rows = []
    for qid, q in queries:
        for rk, (d, s) in enumerate(lists[int(qid)], 1):
            rows.append((int(qid), d, s, rk))
    write("bm25_topk_tombstoned",
          pd.DataFrame(rows, columns=["qid", "doc", "score_fp", "rk"]),
          {"qid": "BIGINT", "doc": "BIGINT", "score_fp": "BIGINT",
           "rk": "INT"})


def gen_hybrid_tombstoned(docs, emb, queries=None, k_cand=20, k=10):
    """Mirror of a TOMBSTONED Hybrid.searchIndex: the lexical list
    under the Lucene delete model (stats carry the text decoys,
    candidates don't) fused with the dense list over the surviving
    vectors (the dense mask is exact — identical to never having
    indexed the vector decoys)."""
    queries = queries or BM25_QUERIES
    corpus = _with_scrambled_decoys(docs)
    lex = bm25_rank_lists(corpus, queries, k_cand,
                          keep=lambda d: d < 100000)
    vecs = dict(emb)
    rows = []
    for qid, _ in queries:
        qv = vecs[int(qid)]
        sims = sorted(((cosine_sim_d(v, qv), -i) for i, v in emb),
                      reverse=True)[:k_cand]
        fused = {}
        for rk, (d, _) in enumerate(lex[int(qid)], 1):
            fused[d] = fused.get(d, 0) + (1 << 20) // (60 + rk)
        for rk, (_, negi) in enumerate(sims, 1):
            d = -negi
            fused[d] = fused.get(d, 0) + (1 << 20) // (60 + rk)
        top = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        for rk, (d, s) in enumerate(top, 1):
            rows.append((int(qid), d, s, rk))
    write("hybrid_topk_tombstoned",
          pd.DataFrame(rows, columns=["qid", "doc", "rrf_fp", "rk"]),
          {"qid": "BIGINT", "doc": "BIGINT", "rrf_fp": "BIGINT",
           "rk": "INT"})


def gen_bm25_decoy_filtered(docs, queries=None, k=10):
    """Lexical side of the end-to-end production-serving row
    (hybrid_trimodal_filtered_tombstoned): VERBATIM text decoys at
    doc_id + 9e7 are tombstoned — collection stats carry their mass
    (Lucene delete model) while candidates exclude them — and the
    even-id payload filter restricts candidates further, both below
    the ranking cut."""
    queries = queries or BM25_QUERIES
    rows0 = [(int(r.doc_id), r.text) for r in docs.itertuples()]
    corpus = pd.DataFrame(
        rows0 + [(d + 90000000, t) for d, t in rows0 if d < 4],
        columns=["doc_id", "text"])
    lists = bm25_rank_lists(corpus, queries, k,
                            keep=lambda d: d < 90000000 and d % 2 == 0)
    rows = []
    for qid, q in queries:
        for rk, (d, s) in enumerate(lists[int(qid)], 1):
            rows.append((int(qid), d, s, rk))
    write("bm25_topk_decoy_filtered",
          pd.DataFrame(rows, columns=["qid", "doc", "score_fp", "rk"]),
          {"qid": "BIGINT", "doc": "BIGINT", "score_fp": "BIGINT",
           "rk": "INT"})


def gen_hybrid_grouped(docs, emb, labels, queries=None, k_cand=20, k=5):
    """Mirror of graft.pipeline.Hybrid.searchIndexGrouped: each side
    ranked WITHIN each (query, tenant) — BM25 with corpus-level stats
    and candidates restricted to the tenant (Lucene filter
    semantics), exact cosine over the tenant's vectors (self kept) —
    then RRF fused per (query, tenant) with the usual integer
    contributions and (fused desc, doc asc) top-k."""
    queries = queries or BM25_QUERIES
    vecs = dict(emb)
    groups = sorted(set(labels.values()))
    rows = []
    for g in groups:
        lex = bm25_rank_lists(docs, queries, k_cand,
                              keep=lambda d, g=g: labels.get(d) == g)
        for qid, _ in queries:
            qv = vecs[int(qid)]
            sims = sorted(((cosine_sim_d(v, qv), -i) for i, v in emb
                           if labels.get(i) == g), reverse=True)[:k_cand]
            fused = {}
            for rk, (d, _) in enumerate(lex[int(qid)], 1):
                fused[d] = fused.get(d, 0) + (1 << 20) // (60 + rk)
            for rk, (_, negi) in enumerate(sims, 1):
                d = -negi
                fused[d] = fused.get(d, 0) + (1 << 20) // (60 + rk)
            top = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            for rk, (d, s) in enumerate(top, 1):
                rows.append((int(qid), g, d, s, rk))
    write("hybrid_topk_grouped",
          pd.DataFrame(rows, columns=["qid", "label", "doc", "rrf_fp",
                                      "rk"]),
          {"qid": "BIGINT", "label": "INT", "doc": "BIGINT",
           "rrf_fp": "BIGINT", "rk": "INT"})


def gen_hybrid_topk_filtered(docs, emb, queries=None, k_cand=20, k=10):
    """Mirror of Hybrid.searchIndexFiltered under the even-id
    predicate: candidates restricted on BOTH sides before each
    side's cut (lexical keeps corpus-level stats — Lucene filter
    semantics; dense is the filtered exact cosine ranking, matching
    the exhaustive probe the query row requests), then RRF-fused."""
    queries = queries or BM25_QUERIES

    def keep(d):
        return d % 2 == 0

    lex = bm25_rank_lists(docs, queries, k_cand, keep=keep)
    vecs = dict(emb)
    rows = []
    for qid, _ in queries:
        qv = vecs[int(qid)]
        sims = sorted(((cosine_sim_d(v, qv), -i) for i, v in emb
                       if keep(i)), reverse=True)[:k_cand]
        fused = {}
        for rk, (d, _) in enumerate(lex[int(qid)], 1):
            fused[d] = fused.get(d, 0) + (1 << 20) // (60 + rk)
        for rk, (_, negi) in enumerate(sims, 1):
            d = -negi
            fused[d] = fused.get(d, 0) + (1 << 20) // (60 + rk)
        top = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        for rk, (d, s) in enumerate(top, 1):
            rows.append((int(qid), d, s, rk))
    write("hybrid_topk_filtered",
          pd.DataFrame(rows, columns=["qid", "doc", "rrf_fp", "rk"]),
          {"qid": "BIGINT", "doc": "BIGINT", "rrf_fp": "BIGINT",
           "rk": "INT"})


def gen_semdedup(emb, threshold=0.35, nlist=16, iters=3, seed=42,
                 hier=False, dist=False):
    """Mirror of graft.pipeline.Dedup.semDedup: IVF k-means clusters
    (same deterministic train as ivf_topk; two-level when hier; the
    fixed-point full-corpus fold when dist — semDedupDistributed),
    then within each cluster a row is dropped iff some LOWER-id
    cluster-mate has cosine > threshold (sequential-double fold, same
    as the Scala kernel)."""
    if hier:
        cents, l1, children = ivf_train_hier(emb, nlist=nlist, iters=iters,
                                             seed=seed)
    elif dist:
        cents, l1, children = (ivf_train_dist(emb, nlist=nlist,
                                              iters=iters, seed=seed),
                               [], [])
    else:
        cents, l1, children = (ivf_train(emb, nlist=nlist, iters=iters,
                                         seed=seed), [], [])
    assigned = [(vid, v, ivf_nearest_descend(cents, l1, children, v, 1)[0])
                for vid, v in emb]
    by_cluster = {}
    for vid, v, c in assigned:
        by_cluster.setdefault(c, []).append((vid, v))
    dropped = set()
    for mem in by_cluster.values():
        for (i1, v1) in mem:
            for (i2, v2) in mem:
                if i2 < i1 and cosine_sim_d(v1, v2) > threshold:
                    dropped.add(i1)
                    break
    rows = [(vid, c, vid not in dropped) for vid, _, c in assigned]
    rows.sort()
    name = ("semdedup_hier" if hier
            else "semdedup_dist" if dist else "semdedup")
    write(name, pd.DataFrame(rows, columns=["vec_id", "cluster", "keep"]),
          {"vec_id": "BIGINT", "cluster": "BIGINT", "keep": "BOOLEAN"})


def gen_e2e_dist_pipeline(emb, threshold=0.35, nlist=16, iters=3,
                          k=5, nprobe=4):
    """End-to-end replay of the 100 TB-shaped pipeline row
    (e2e_dist_pipeline): semDedupDistributed's keep set (flat
    fixed-point train + the lower-id drop rule) -> the HIERARCHICAL
    distributed trainer on the KEPT corpus -> int8 serve at PARTIAL
    probe over the kept, even-id-filtered corpus. The segment write
    path and tiered maintenance between train and serve are
    result-transparent by the witness-verified merge contracts (their
    own gates pin that), so this replay pins exactly the cross-feature
    semantics: dedup decides the corpus, the two-level model decides
    the probed candidates, int8 codes decide the scores."""
    # 1. the keep set — gen_semdedup(dist=True) verbatim
    cents0 = ivf_train_dist(emb, nlist=nlist, iters=iters)
    by_cluster = {}
    for vid, v in emb:
        by_cluster.setdefault(ivf_nearest(cents0, v, 1)[0], []).append(
            (vid, v))
    dropped = set()
    for mem in by_cluster.values():
        for (i1, v1) in mem:
            for (i2, v2) in mem:
                if i2 < i1 and cosine_sim_d(v1, v2) > threshold:
                    dropped.add(i1)
                    break
    kept = [(vid, v) for vid, v in emb if vid not in dropped]
    # 2. the hierarchical distributed model on the deduped corpus
    hc, l1, children = ivf_train_hier_dist(kept, nlist=nlist, iters=iters)
    # 3. partial-probe int8 serve over the kept, even-id candidates
    postings = {}
    for i, v in kept:
        postings.setdefault(
            ivf_nearest_descend(hc, l1, children, v, 1)[0], []).append(i)
    vec = dict(emb)
    codes = {i: int8_codes(v) for i, v in kept}
    queries = [i for i, _ in emb if i < 10]
    cands = {q: {} for q in queries}
    for q in queries:
        qc = int8_codes(vec[q])
        for cl in ivf_nearest_descend(hc, l1, children, vec[q], nprobe):
            for n in postings.get(cl, []):
                if n != q and n % 2 == 0 and n not in cands[q]:
                    cands[q][n] = int8_cosine(codes[n], qc)
    rows = rank_topk(cands, k)
    write("e2e_dist_pipeline",
          pd.DataFrame(rows, columns=["qid", "nid", "sim", "rk"]),
          {"qid": "BIGINT", "nid": "BIGINT", "sim": "DOUBLE", "rk": "BIGINT"})


def main():
    which = set(sys.argv[1:])

    def want(n):
        return not which or n in which

    docs = load_documents()
    if want("lang_id"):
        gen_lang_id(docs)
    if want("text_bpeish_tokens"):
        gen_bpeish(docs)
    if want("simhash_pairs"):
        gen_simhash_pairs(docs)
    if want("stream_neardup"):
        gen_stream_neardup(docs)
    if want("minhash_pairs"):
        gen_minhash_pairs(docs)
    if want("corpus_mix"):
        gen_corpus_mix(docs)
    if want("corpus_mix_temperature"):
        gen_corpus_mix_temperature(docs)
    if want("bpe_train") or want("bpe_token_count"):
        gen_bpe(docs)
    if want("bpe_train_capped"):
        gen_bpe_capped(docs)
    if want("corpus_curation_v2"):
        gen_corpus_curation_v2(docs)
    if want("corpus_shuffle"):
        gen_corpus_shuffle(docs)
    if want("dsir_select"):
        gen_dsir_select(docs)
    if want("nb_classifier_select"):
        gen_nb_classifier_select(docs)
    if want("corpus_split_assign"):
        gen_corpus_split_assign(docs)
    if want("corpus_weighted_sample") or want("corpus_weighted_sample_strat"):
        gen_weighted_sample(docs)
    if want("corpus_split_stratified"):
        gen_corpus_split_stratified(docs)
    if want("bm25_topk"):
        gen_bm25_topk(docs)
    if want("hybrid_topk"):
        gen_hybrid_topk(docs, load_embeddings())
    if want("hybrid_topk_filtered"):
        gen_hybrid_topk_filtered(docs, load_embeddings())
    if want("hybrid_topk_grouped"):
        gen_hybrid_grouped(docs, load_embeddings(), load_labels())
    if want("bm25_topk_decoy_filtered"):
        gen_bm25_decoy_filtered(docs)
    if want("bm25_topk_tombstoned"):
        gen_bm25_tombstoned(docs)
    if want("hybrid_topk_tombstoned"):
        gen_hybrid_tombstoned(docs, load_embeddings())
    emb = None
    for n in ("lsh_topk", "embed_neardup_lsh", "ivf_topk", "ivf_topk_dist",
              "e2e_dist_pipeline", "ivf_topk_int8",
              "ivf_topk_filtered_recall", "ivf_topk_int8_filtered",
              "ivf_index_stats", "ivf_tune_nprobe",
              "ivf_topk_hier", "ivf_topk_hier_dist",
              "semdedup", "semdedup_hier", "semdedup_dist", "embed_pca",
              "ann_topk_pca", "ann_topk_pca_dist",
              "ann_topk_pq", "ann_topk_pq_dist", "ivf_topk_pq", "ivf_topk_pqr",
              "ivf_topk_pq256", "ivf_topk_bq",
              "mmr_topk",
              "corpus_cluster_sample"):
        if want(n):
            emb = emb or load_embeddings()
    if want("embed_pca"):
        gen_embed_pca(emb)
    if want("ann_topk_pca"):
        gen_ann_pca(emb)
    if want("ann_topk_pca_dist"):
        gen_ann_pca_dist(emb)
    if want("ann_topk_pq"):
        gen_ann_pq(emb)
    if want("ann_topk_pq_dist"):
        gen_ann_pq_dist(emb)
    if want("ivf_topk_pq"):
        gen_ivf_pq(emb)
    if want("ivf_topk_bq"):
        gen_ivf_bq(emb)
    if want("ivf_topk_pqr"):
        gen_ivf_pqr(emb)
    if want("ivf_topk_pq256"):
        gen_ivf_pq(emb, ksub=256, out="ivf_topk_pq256")
    if want("semdedup"):
        gen_semdedup(emb)
    if want("corpus_cluster_sample"):
        gen_corpus_cluster_sample(emb)
    if want("semdedup_hier"):
        gen_semdedup(emb, hier=True)
    if want("semdedup_dist"):
        gen_semdedup(emb, dist=True)
    if want("ivf_topk_hier"):
        gen_ivf_topk_hier(emb)
    if want("ivf_topk_hier_dist"):
        gen_ivf_topk_hier_dist(emb)
    if want("lsh_topk"):
        gen_lsh_topk(emb)
    if want("mmr_topk"):
        gen_mmr_topk(emb)
    if want("embed_neardup_lsh"):
        gen_embed_neardup_lsh(emb)
    if want("ivf_topk"):
        gen_ivf_topk(emb)
    if want("ivf_topk_dist"):
        gen_ivf_topk_dist(emb)
    if want("e2e_dist_pipeline"):
        gen_e2e_dist_pipeline(emb)
    if want("ivf_topk_filtered_recall"):
        gen_ivf_topk_filtered_recall(emb)
    if want("ivf_index_stats"):
        gen_ivf_index_stats(emb)
    if want("ivf_tune_nprobe"):
        gen_ivf_tune(emb)
    if want("ivf_topk_int8"):
        gen_ivf_topk_int8(emb)
    if want("ivf_topk_int8_filtered"):
        gen_ivf_topk_int8_filtered(emb)
    if want("store_retrieve"):
        gen_store_retrieve(docs)
    if want("memory_context"):
        gen_memory_context()
    if want("memory_generate"):
        gen_memory_generate()
    if want("text_lm_quality"):
        gen_lm_quality(docs)
    if (want("text_dup_spans") or want("text_dup_fraction")
            or want("text_span_dedup")):
        gen_dup_spans(docs)
    if want("ingest_dir"):
        gen_ingest_dir()
    if want("policy_sections"):
        gen_policy_sections()
    if want("chunk_stats") or want("mapreduce_fold") or want("e2e_pipeline"):
        ns = reference_ns()
        if want("chunk_stats"):
            gen_chunk_stats(docs, ns)
        if want("mapreduce_fold"):
            gen_mapreduce_fold(docs, ns)
        if want("e2e_pipeline"):
            gen_e2e_pipeline(ns)


if __name__ == "__main__":
    main()

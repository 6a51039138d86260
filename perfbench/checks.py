"""Output checks for the perfbench workloads, independent of graft.

* pipeline_e2e: the paper's chain recomputed in Python/DuckDB from the
  generated JSON (tokens, smoothed IDF, dense L2 TF-IDF, Lloyd from the
  stage-2 centroids) and compared with the pipeline's Parquet sinks.
* pair_kernels: each consumer's oracle SQL run in DuckDB over the
  generated tables, compared with the entry's saved output by the
  rules of the repository's correctness gate (columns sorted by name,
  rows sorted by value, exact values, floats compared bit for bit with
  NaNs canonical and signed zeros distinct, dtypes equal).

Each check returns None when the output is right, or a one-line reason.
"""
import glob
import json
import math
import os
import re
from decimal import Decimal, ROUND_HALF_UP

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
SSE_REL_TOL = 1e-9
TOKEN = re.compile(r"\b\w\w+\b")


# --- registry oracle ----------------------------------------------------------

def _float_bits(s):
    arr = s.to_numpy(dtype="float64", na_value=np.nan).copy()
    arr[np.isnan(arr)] = np.nan
    return arr.view(np.int64)


def compare_frames(got, want):
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    gs = got.sort_values(by=list(got.columns), kind="mergesort").reset_index(drop=True)
    ws = want.sort_values(by=list(want.columns), kind="mergesort").reset_index(drop=True)
    for c in gs.columns:
        a, b = gs[c], ws[c]
        try:
            if a.dtype.kind == "f" and b.dtype.kind == "f":
                eq = pd.Series(_float_bits(a) == _float_bits(b))
            else:
                eq = (a == b) | (a.isna() & b.isna())
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = eq.idxmin()
            return f"column {c} row {i}: got {a[i]!r} want {b[i]!r}"
        if str(a.dtype) != str(b.dtype):
            return f"column {c}: dtype {a.dtype} vs {b.dtype}"
    return None


def oracle_check(tables_dir, out_dir, oracle, corrupt=None):
    """{name: reason-or-None} for every entry with an oracle. `corrupt`
    names one entry whose expected result is deliberately altered (the
    smoke test's injected wrong expectation)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    verdict = {}
    for name, sql in sorted(oracle.items()):
        path = os.path.join(out_dir, name)
        if not glob.glob(os.path.join(path, "*.parquet")):
            verdict[name] = "no output"
            continue
        try:
            got = pd.read_parquet(path)
            want = con.execute(sql).df()
        except Exception as e:  # a broken oracle or unreadable output is a failure
            verdict[name] = f"{type(e).__name__}: {e}"
            continue
        if name == corrupt:
            want = want.iloc[1:] if len(want) else pd.DataFrame({"injected": [1]})
        verdict[name] = compare_frames(got, want)
    return verdict


# --- pipeline recomputation ---------------------------------------------------

def _half_up(x, dp):
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP))


def read_corpus(corpus_dir):
    stop = set(open(os.path.join(corpus_dir, "stopwords.txt")).read().split())
    adj = open(os.path.join(corpus_dir, "adj.txt")).read().split()
    adj_set = set(adj)
    docs = {}
    for f in sorted(glob.glob(os.path.join(corpus_dir, "reviews", "*.jsonl"))):
        for line in open(f):
            if "review/text" in line:
                continue
            r = json.loads(line)
            if any(r.get(k) is None for k in ("reviewText", "reviewerID", "asin", "reviewerName")):
                continue
            toks = [t for t in TOKEN.findall(r["reviewText"].lower())
                    if t not in stop and t in adj_set]
            docs[r["reviewerID"]] = (r["asin"], toks)
    return docs, sorted(adj)


def lloyd(points, init, max_iter, scale=10):
    """KMeansOps.lloydInit restated: nearest centroid by Euclidean distance
    (ties to the lower id), HALF_UP-rounded means, clusters that lose all
    members vanish, converged when the rounded centroid maps are equal."""
    cents = {cid: np.asarray(v, dtype=np.float64) for cid, v in init}
    rounded = lambda cs: {c: tuple(_half_up(x, scale) for x in v) for c, v in cs.items()}
    it, converged, history, assign = 0, False, [], None
    while it < max_iter and not converged:
        ids = sorted(cents)
        mat = np.stack([cents[c] for c in ids])
        dist = np.sqrt(np.stack([((points - c) ** 2).sum(axis=1) for c in mat], axis=1))
        best = dist.argmin(axis=1)
        assign = np.array(ids)[best]
        bd = dist[np.arange(len(points)), best]
        new, sse = {}, 0.0
        for c in ids:
            m = assign == c
            if m.any():
                new[c] = np.array([_half_up(x, scale) for x in points[m].mean(axis=0)])
                sse += float((bd[m] ** 2).sum())
        history.append(sse)
        converged = rounded(new) == rounded(cents)
        cents = new
        it += 1
    return assign, history, it


def pipeline_check(corpus_dir, sink_dir, result, corrupt=False):
    """None if the final pass's sinks match the recomputation, else why.
    `corrupt` shifts one expected IDF weight (the smoke test's injected
    wrong expectation)."""
    docs, vocab = read_corpus(corpus_dir)
    s1 = pd.read_parquet(os.path.join(sink_dir, "stage1"), columns=["id", "reviewerID", "asin", "adjectiveWord"])
    if len(s1) != len(docs):
        return f"stage1 kept {len(s1)} docs, expected {len(docs)}"
    s1 = s1.sort_values("id").reset_index(drop=True)
    if list(s1["id"]) != list(range(1, len(s1) + 1)):
        return "stage1 ids are not 1..N"
    if not s1["asin"].is_monotonic_increasing:
        return "stage1 ids do not follow asin order"
    for rid, asin, toks in zip(s1["reviewerID"], s1["asin"], s1["adjectiveWord"]):
        want = docs.get(rid)
        if want is None or want[0] != asin or list(toks) != want[1]:
            return f"stage1 tokens differ for {rid}"
    n = len(s1)
    toks_by_id = dict(zip(s1["id"], (docs[r][1] for r in s1["reviewerID"])))
    df = {w: 0 for w in vocab}
    for toks in toks_by_id.values():
        for w in set(toks):
            df[w] += 1
    idf = {w: math.log((n + 1.0) / (df[w] + 1.0)) + 1.0 for w in vocab}
    if corrupt:
        idf[vocab[0]] += 1.0
    got_idf = pd.read_parquet(os.path.join(sink_dir, "idf"))
    gi = dict(zip(got_idf["word"], got_idf["idf"]))
    if set(gi) != set(vocab):
        return "idf vocabulary differs"
    for w in vocab:
        if _half_up(gi[w], 6) != _half_up(idf[w], 6):
            return f"idf({w}) {gi[w]} vs {idf[w]}"
    # dense TF-IDF, vocab-sorted, HALF_UP 6 dp
    widx = {w: j for j, w in enumerate(vocab)}
    idf_vec = np.array([idf[w] for w in vocab])
    ids = sorted(toks_by_id)
    mat = np.zeros((len(ids), len(vocab)))
    for i, d in enumerate(ids):
        toks = toks_by_id[d]
        if not toks:
            continue
        cnt = np.zeros(len(vocab))
        for t in toks:
            cnt[widx[t]] += 1
        w = cnt / len(toks) * idf_vec
        nrm = math.sqrt(float((w * w).sum()))
        nz = np.nonzero(w)[0]
        if nrm > 0:
            mat[i, nz] = [_half_up(x, 6) for x in w[nz] / nrm]
    con = duckdb.connect()
    got = con.execute(
        f"SELECT id, word, weight FROM read_parquet('{sink_dir}/tfidf/*.parquet') ORDER BY id, word").fetchnumpy()
    if len(got["id"]) != len(ids) * len(vocab):
        return f"tfidf has {len(got['id'])} rows, expected {len(ids) * len(vocab)}"
    gw = np.asarray(got["weight"], dtype=np.float64).reshape(len(ids), len(vocab))
    bad = np.argwhere(gw != mat)
    if len(bad):
        i, j = bad[0]
        return f"tfidf({ids[i]},{vocab[j]}) {gw[i, j]} vs {mat[i, j]} ({len(bad)} cells differ)"
    init = [(c["cid"], c["v"]) for c in result["init_centroids"]]
    assign, history, iters = lloyd(mat, init, result["max_iter"])
    last = result["pipeline_passes"][-1]
    if iters != last["iterations"]:
        return f"kmeans ran {last['iterations']} iterations, recomputation {iters}"
    for a, b in zip(last["sse"], history):
        if abs(a - b) > SSE_REL_TOL * max(1.0, abs(b)):
            return f"SSE {a} vs {b}"
    got_a = pd.read_parquet(os.path.join(sink_dir, "assignments"), columns=["id", "cluster"])
    ga = dict(zip(got_a["id"], got_a["cluster"]))
    want_a = dict(zip(ids, assign))
    if ga != want_a:
        diff = sum(1 for k in want_a if ga.get(k) != want_a[k])
        return f"assignments differ for {diff} docs"
    return None

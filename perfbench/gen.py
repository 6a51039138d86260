"""Seeded input generators for the perfbench workloads.

Everything here is a pure function of its arguments: the same seed gives
byte-identical files. Nothing reads the repository's test data; the
tables below are generated with the same schemas and value ranges the
graft registry queries are written against (see Tables.All).
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- pipeline_e2e: the JSON-lines review corpus ------------------------------

# Corpus parameters (also recorded in BENCHMARK.json's workload "why").
CORPUS = dict(docs=1000, files=16, vocab=2000, adjectives=120, stopwords=60,
              zipf_s=1.1, max_len=160, asins=300, empty_frac=0.03,
              missing_frac=0.02, header_lines=4)

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _words(rng, n, lo=3, hi=9):
    seen, out = set(), []
    while len(out) < n:
        w = "".join(rng.choice(_LETTERS) for _ in range(rng.randint(lo, hi)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def review_corpus(out_dir, seed, **over):
    """Write <out_dir>/reviews/part-NN.jsonl plus stopwords.txt and adj.txt.

    Vocabulary words are drawn Zipf(s) by rank. The stopword list is the
    most frequent ranks (a few of them are also in the adjective
    dictionary, where the stopword wins); the dictionary is spread over
    the rest of the ranks. Document lengths are lognormal; a fixed share
    of documents use only non-dictionary words, so they are empty after
    filtering and give zero TF-IDF vectors. Header lines containing
    "review/text" and records with a missing field are mixed in, and
    asins repeat (asins << docs).
    """
    p = dict(CORPUS, **over)
    rng = random.Random(seed)
    nrs = np.random.default_rng(seed)
    vocab = _words(rng, p["vocab"])
    stop = vocab[:p["stopwords"]]
    # dictionary: every k-th rank beyond the stopwords, plus 3 stopwords
    pool = vocab[p["stopwords"]:]
    step = max(1, len(pool) // p["adjectives"])
    adj = pool[::step][:p["adjectives"] - 3] + stop[:3]
    adj_set = set(adj)
    nonadj = [w for w in vocab if w not in adj_set]
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    probs = ranks ** -p["zipf_s"]
    probs /= probs.sum()
    asins = [f"B{n:09d}" for n in range(p["asins"])]
    rev_dir = os.path.join(out_dir, "reviews")
    os.makedirs(rev_dir, exist_ok=True)
    files = [open(os.path.join(rev_dir, f"part-{i:02d}.jsonl"), "w") for i in range(p["files"])]
    fields = ("reviewerID", "asin", "reviewerName", "reviewText")
    for i in range(p["header_lines"]):
        files[i % p["files"]].write('"review/text","review/summary"\n')
    for d in range(p["docs"]):
        n = int(min(p["max_len"], max(0, nrs.lognormal(3.3, 0.8))))
        if rng.random() < p["empty_frac"]:
            toks = [nonadj[int(j)] for j in nrs.integers(0, len(nonadj), n)]
        else:
            toks = [vocab[int(j)] for j in nrs.choice(len(vocab), n, p=probs)]
        rec = {"reviewerID": f"R{d:08d}", "asin": asins[int(nrs.integers(0, len(asins)))],
               "reviewerName": f"user {rng.randint(0, 99999)}",
               "reviewText": " ".join(w.capitalize() if rng.random() < 0.1 else w for w in toks)}
        if rng.random() < p["missing_frac"]:
            del rec[fields[rng.randrange(len(fields))]]
        files[d % p["files"]].write(json.dumps(rec) + "\n")
    for f in files:
        f.close()
    with open(os.path.join(out_dir, "stopwords.txt"), "w") as f:
        f.write("\n".join(stop) + "\n")
    with open(os.path.join(out_dir, "adj.txt"), "w") as f:
        f.write("\n".join(adj) + "\n")
    return p


# --- registry tables ---------------------------------------------------------

DOC_WORDS = ("join hash row batch scan customer column filter small slow merge "
             "order vector line data table agg value key stream window spark a "
             "group part big sort query fast the").split()
P_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old"]
P_NOUN = ["ring", "widget", "bolt", "gear", "rod", "plate", "anvil", "bolt"]


def _write(tbl, path):
    pq.write_table(tbl, path)


def _ts(days_from_epoch_us):
    return pa.array(days_from_epoch_us.astype("datetime64[us]"), pa.timestamp("us"))


def tables(out_dir, seed, sf=0.001, n_docs=500, n_vecs=500):
    """Write the ten registry tables as <out_dir>/<name>.parquet.

    Row counts scale with sf like the TPC-H-shaped tables the registry
    targets (customer 150k·sf, orders 1.5M·sf, lineitem 6M·sf, events
    1M·sf); documents and embeddings have their own sizes. Documents are
    uniform draws over a 30-word vocabulary, 5 % of them near-duplicates
    (an earlier original plus " dup"); embeddings are unit-norm 64-d
    Gaussian vectors with uniform labels 0..9.
    """
    os.makedirs(out_dir, exist_ok=True)
    r = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({"c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
                     "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
                     "c_mktsegment": segs[r.integers(0, 5, n_cust)]}),
           f"{out_dir}/customer.parquet")
    _write(pa.table({"s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
                     "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}),
           f"{out_dir}/supplier.parquet")
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    _write(pa.table({"p_partkey": pa.array(np.arange(n_part), pa.int64()),
                     "p_name": names[r.integers(0, len(names), n_part)],
                     "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
                     "p_type": np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                                         "PROMO"])[r.integers(0, 6, n_part)],
                     "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
                     "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}),
           f"{out_dir}/part.parquet")
    d0 = np.datetime64("1995-01-01", "D")
    odays = r.integers(0, 2404, n_ord)
    _write(pa.table({"o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                     "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
                     "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
                     "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
                     "o_orderdate": _ts(d0 + odays),
                     "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                  "4-NOT SPECIFIED", "5-LOW"])[r.integers(0, 5, n_ord)]}),
           f"{out_dir}/orders.parquet")
    _write(pa.table({"l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
                     "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
                     "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
                     "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
                     "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
                     "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_li), 2),
                     "l_discount": r.integers(0, 11, n_li) / 100.0,
                     "l_tax": r.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
                     "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
                     "l_shipdate": _ts(d0 + 1 + r.integers(0, 2498, n_li))}),
           f"{out_dir}/lineitem.parquet")
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + r.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(pa.table({"event_id": pa.array(np.arange(n_ev), pa.int64()),
                     "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
                     "user_id": pa.array(r.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
                     "event_type": np.array(["click", "error", "purchase", "signup",
                                             "view"])[r.integers(0, 5, n_ev)],
                     "value": np.round(r.uniform(0.01, 500.0, n_ev), 2),
                     "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}),
           f"{out_dir}/events.parquet")
    texts, originals = [], []
    for i in range(n_docs):
        if originals and r.random() < 0.05:
            # copies of originals only: every near-duplicate cluster is a
            # star of depth 1, so the clustering loop's round count does
            # not depend on the seed
            texts.append(texts[originals[int(r.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(DOC_WORDS[j] for j in r.integers(0, len(DOC_WORDS),
                                                                  int(r.integers(10, 100)))))
    langs = np.array(["en"] * 3 + ["de", "es", "fr", "zh"])
    lang = np.where(r.random(n_docs) < 0.44, "en", langs[3:][r.integers(0, 4, n_docs)])
    _write(pa.table({"doc_id": pa.array(np.arange(n_docs), pa.int64()),
                     "text": texts, "lang": lang,
                     "source": [f"src{i % 20}" for i in range(n_docs)],
                     "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
           f"{out_dir}/documents.parquet")
    v = r.standard_normal((n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({"vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                     "embedding": pa.array(list(v), pa.list_(pa.float32())),
                     "label": pa.array(r.integers(0, 10, n_vecs), pa.int32())}),
           f"{out_dir}/embeddings.parquet")

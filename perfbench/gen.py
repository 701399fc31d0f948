"""Seeded input generator for the benchmark.

Writes the ten engine tables (the TPC-H-shaped star, the `events`
stream, `documents` and `embeddings`) as one single-row-group parquet
file each, with the schemas, value distributions and row counts of the
engine's sf0.01 reference test data. `documents` is the exception: it
has 3,000 rows of Zipf-distributed text over a 4,000-word vocabulary
(about 0.7 MB of parquet, so `Tables.documentsFloored` splits it over
up to ceil(0.7 / 0.125) partitions). The same seed always yields
byte-identical tables; the row counts are fixed, so every seed carries
the same amount of work.

Usage: python3 perfbench/gen.py <out_dir> <seed>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 reference tables (lineitem: 4 per order).
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "events": 10000, "documents": 3000, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["click", "signup", "error", "view", "purchase"]
# The reference test data's vocabulary; the engine's search and eval
# keys query some of these words.
DOMAIN = ("agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table value vector window").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
# The engine's language-ID stopwords: about 30% of a document's tokens.
STOPWORDS = {"en": ["the", "a", "and", "of", "to", "is"],
             "zh": ["de", "shi", "le", "bu", "wo", "zai"],
             "de": ["der", "die", "und", "das", "ist", "nicht"],
             "fr": ["le", "la", "et", "les", "est", "pas"],
             "es": ["el", "los", "las", "y", "es", "no"]}
STOP_SHARE = 0.3
VOCAB_SIZE = 4000
ZIPF_S = 1.07
DIM = 64


def vocabulary():
    """The content vocabulary in rank order, the same for every seed: the
    domain words spread over the first 60 ranks, the rest made-up words
    of one to three syllables."""
    rng = np.random.default_rng(0)
    onset = "b c d f g h k l m n p r s t v w z br cl st tr sh ch".split()
    nucleus = "a e i o u ai ou ea".split()
    coda = ["", "n", "r", "s", "t", "l", "nd", "st", "ng", "ck"]
    taken = set(DOMAIN) | {w for ws in STOPWORDS.values() for w in ws}
    made = []
    while len(made) < VOCAB_SIZE - len(DOMAIN):
        w = "".join(onset[rng.integers(len(onset))] + nucleus[rng.integers(len(nucleus))]
                    for _ in range(rng.integers(1, 4))) + coda[rng.integers(len(coda))]
        if w not in taken:
            taken.add(w)
            made.append(w)
    ranks = sorted(rng.choice(60, len(DOMAIN), replace=False))
    words = made[:]
    for r, w in zip(ranks, rng.permutation(DOMAIN)):
        words.insert(int(r), str(w))
    return words


def _documents(rng, nd):
    """(text, lang) of `nd` documents: log-normal lengths (median 60
    tokens), each token a stopword of the document's language or a
    Zipf-ranked content word, in lines of 6-16 tokens."""
    vocab = np.array(vocabulary())
    p = np.arange(1, len(vocab) + 1) ** -ZIPF_S
    lang = np.array(LANGS)[rng.choice(len(LANGS), nd, p=LANG_P)]
    lens = np.clip(np.round(rng.lognormal(np.log(60), 0.6, nd)), 5, 400).astype(int)
    total = int(lens.sum())
    content = vocab[rng.choice(len(vocab), total, p=p / p.sum())]
    stops = np.array([STOPWORDS[l] for l in lang])  # nd x 6
    doc_of = np.repeat(np.arange(nd), lens)
    stop = stops[doc_of, rng.integers(0, 6, total)]
    toks = np.where(rng.random(total) < STOP_SHARE, stop, content)
    text = []
    for words in np.split(toks, np.cumsum(lens)[:-1]):
        cuts = np.cumsum(rng.integers(6, 17, len(words) // 6 + 1))
        cuts = cuts[cuts < len(words)]
        text.append("\n".join(" ".join(l) for l in np.split(words, cuts)))
    return text, lang


def _ts(days_from, span_days, n, rng, midnight):
    """n timestamps (microseconds) starting at `days_from` (a date)."""
    start = np.datetime64(days_from, "us")
    if midnight:
        off = rng.integers(0, span_days + 1, n).astype("timedelta64[D]")
        return start + off.astype("timedelta64[us]")
    off = rng.integers(0, span_days * 86_400_000_000, n)
    return start + off.astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sizes=SIZES):
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = sizes["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})

    ns = sizes["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})

    npart = sizes["part"]
    keys = np.arange(npart)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    no = sizes["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts("1995-01-01", 2404, no, rng, True),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})

    # ~4 lines per order (a fixed total), ~1.8% of orders without lines
    nl = 4 * no
    per = rng.multinomial(nl, np.full(no, 1.0 / no))
    okeys = np.repeat(np.arange(no), per)
    qty = rng.integers(1, 51, nl).astype(float)
    li = {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(500.0, 3500.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts("1995-01-02", 2498, nl, rng, True)}
    perm = rng.permutation(nl)
    t["lineitem"] = pa.table({k: (v.take(pa.array(perm)) if isinstance(v, pa.Array)
                                  else v[perm]) for k, v in li.items()})

    ne = sizes["events"]
    users = max(1, round(ne * 150 / 10000))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": np.sort(_ts("2024-01-01", 30, ne, rng, False)),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": np.array(ETYPES)[rng.integers(0, 5, ne)],
        "value": np.clip(np.round(rng.exponential(50.0, ne), 2), 0.01, None),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = sizes["documents"]
    text, lang = _documents(rng, nd)
    # ~5% near-duplicates: another document's text plus a marker word
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        text[i] = text[int(rng.integers(0, nd))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": text,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in text], pa.int64())})

    nv = sizes["embeddings"]
    centers = rng.normal(size=(10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, nv)
    v = rng.normal(size=(nv, DIM)) + 1.15 * centers[labels]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


MONDAYS = ["2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22",
           "2024-01-29"]


def requests(seed, n, n_vectors):
    """The serve request stream: `kind<TAB>args` lines, the three kinds
    in a fixed rotation (so every seed has the same mix) with
    parameters drawn from `seed` (a stream separate from the tables').
    ANN requests name a query vector, search requests 1-3 domain
    words, reach requests an event type and a range of 1-3 weeks."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for kind in np.arange(n) % 3:
        if kind == 0:
            out.append(f"ann\t{rng.integers(0, n_vectors)}")
        elif kind == 1:
            terms = rng.choice(len(DOMAIN), rng.integers(1, 4), replace=False)
            out.append("search\t" + ",".join(DOMAIN[t] for t in sorted(terms)))
        else:
            w0 = int(rng.integers(0, len(MONDAYS)))
            w1 = min(len(MONDAYS) - 1, w0 + int(rng.integers(0, 3)))
            out.append(f"reach\t{ETYPES[rng.integers(0, 5)]}\t"
                       f"{MONDAYS[w0]}\t{MONDAYS[w1]}")
    return out


def generate(out_dir, seed, n_requests=0, n_warmup=0):
    """Write every table under `out_dir`, plus `warmup.tsv` and
    `requests.tsv` when requests are asked for; returns
    {table: {rows, bytes}}."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, tbl in tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, compression="snappy")
        stats[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    if n_requests:
        reqs = requests(seed, n_warmup + n_requests, SIZES["embeddings"])
        for name, part in (("warmup", reqs[:n_warmup]),
                           ("requests", reqs[n_warmup:])):
            with open(os.path.join(out_dir, f"{name}.tsv"), "w") as f:
                f.write("\n".join(part) + "\n")
    return stats


if __name__ == "__main__":
    out, seed = sys.argv[1], int(sys.argv[2])
    print(json.dumps(generate(out, seed)))

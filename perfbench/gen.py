"""Seeded input generator for the benchmark.

Writes the engine's parquet tables (TESTDATA.md schemas: region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) at a chosen scale factor, the 8x token-decollided corpus the
RAG session indexes, and the RAG session's question script. The same
seed always gives byte-identical inputs; the engine only ever sees these
files.

Sizes and distributions follow the repository's test tables (TESTDATA.md,
at least 500 documents and embeddings at any scale): independent uniform
columns with the same key ranges, a 30-word vocabulary for document
text with 10-100 words per document, 5% "<text> dup" near-duplicates of
earlier documents, exponential event values and random unit embeddings.

Usage: python3 perfbench/gen.py <out_dir> <seed> <sf> [--corpus] [--only documents]
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
COPIES = 8            # corpus copies for the RAG session (ScaleUp-style)
QUESTIONS = 400       # scripted questions; the session reads a prefix
SHARE_CORPUS, SHARE_ABSENT = 0.70, 0.10   # the rest (20%) repeat earlier ones


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, lo, hi, n):
    """Uniform midnight timestamps in [lo, hi] as timestamp[ms]."""
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int)
    d = base + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[ms]"), pa.timestamp("ms"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    n_words = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, pos = [], 0
    for k in n_words:
        texts.append(" ".join(vocab[words[pos:pos + k]]))
        pos += k
    # 5% near-duplicates ("<earlier text> dup") and 0.15% exact copies
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif kind[i] < 0.0515:
            texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def decollided_copies(docs, copies):
    """`copies` statistically independent copies, made the way
    graft.ScaleUp makes them: copy i shifts doc_id by 10,000,000 * i and
    suffixes every token and the source with `~i`, so shingle and
    posting statistics per copy match the original with zero overlap."""
    d = docs.to_pydict()
    out = {k: [] for k in d}
    for i in range(copies):
        for doc_id, text, lang, source in zip(d["doc_id"], d["text"], d["lang"], d["source"]):
            if i:
                text = " ".join(w + f"~{i}" for w in text.split(" "))
                source = f"{source}~{i}"
            out["doc_id"].append(doc_id + 10_000_000 * i)
            out["text"].append(text)
            out["lang"].append(lang)
            out["source"].append(source)
            out["n_chars"].append(len(text))
    return pa.table(out, schema=docs.schema)


def questions(rng, corpus, n):
    """Question script: ~70% 2-6 consecutive tokens sampled from a corpus
    document, 10% tokens absent from the corpus, 20% repeats of an
    earlier question. Each line carries its kind for the summary."""
    texts = corpus.column("text").to_pylist()
    script = []
    for i in range(n):
        r = rng.random()
        if i and r < 1 - SHARE_CORPUS - SHARE_ABSENT:
            q, kind = script[int(rng.integers(0, i))]["q"], "repeat"
        elif r < 1 - SHARE_CORPUS:
            k = int(rng.integers(2, 5))
            q = " ".join(f"zq{int(rng.integers(0, 10**6))}" for _ in range(k))
            kind = "absent"
        else:
            toks = texts[int(rng.integers(0, len(texts)))].split(" ")
            k = int(rng.integers(2, 7))
            s = int(rng.integers(0, max(1, len(toks) - k)))
            q, kind = " ".join(toks[s:s + k]), "corpus"
        script.append({"q": q, "kind": kind})
    return script


def tables(rng, sf, only=None):
    """Every table, or just `only` (the random stream then differs, so a
    subset is its own input set: cache it under its own key)."""
    if only == "documents":
        return {"documents": documents(rng, max(500, int(round(50_000 * sf))))}
    n = lambda base: max(5, int(round(base * sf)))
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_li, n_ev, n_users = n(1_500_000), n(6_000_000), n(1_000_000), n(15_000)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust).tolist()})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array("blue old red small new large hot cold".split(), dtype=object)
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split(), dtype=object)
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": (adj[rng.integers(0, 8, n_part)] + " " + noun[rng.integers(0, 8, n_part)]).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist()})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(start + offs, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = documents(rng, max(500, n(50_000)))
    n_emb = max(500, n(20_000))
    v = rng.standard_normal((n_emb, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def generate(out_dir, seed, sf, corpus=False, only=None):
    """Write every input for one (seed, sf) into `out_dir` unless a
    completed earlier call already did (a `DONE` marker guards partial
    writes)."""
    done = os.path.join(out_dir, "DONE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, t in tables(rng, sf, only).items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    if corpus:
        base = pq.read_table(os.path.join(out_dir, "documents.parquet"))
        big = decollided_copies(base, COPIES)
        _write(big, os.path.join(out_dir, "corpus.parquet"))
        with open(os.path.join(out_dir, "questions.jsonl"), "w") as f:
            for q in questions(rng, big, QUESTIONS):
                f.write(json.dumps(q, ensure_ascii=False) + "\n")
    with open(done, "w") as f:
        f.write(dt.datetime.now(dt.timezone.utc).isoformat() + "\n")


if __name__ == "__main__":
    only = sys.argv[sys.argv.index("--only") + 1] if "--only" in sys.argv else None
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), "--corpus" in sys.argv, only)

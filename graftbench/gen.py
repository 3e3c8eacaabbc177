"""Seeded input generator for the graft benchmark.

Writes parquet with the schemas of graft's testdata tables, from a seed
alone (numpy's PCG64), so the same seed always gives byte-identical
content. Three input sets:

  ledger  - the ledger and relational tables (region ... events) at a
            fixed scale, one single-row-group file per table, like the
            testdata the ledger operations were written against;
  corpus  - a multi-file `documents` + `embeddings` directory whose text
            comes from a Zipf vocabulary of thousands of words, with
            near-duplicate clusters injected at a fixed rate and their
            true pairs written to `truth_pairs.parquet`;
  events  - a backlog of K upload-event files shaped like `events`,
            each covering the next slice of time, for the stream.

`digest(dir)` hashes the files of a generated directory, so
a run can check that the generator is reproducible.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
MONTH_US = 30 * 86400 * 10**6


def _write(table, path):
    # one row group per file: a file is the unit a scan splits on
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _events_table(rng, first_id, n, t_lo_us, t_hi_us):
    ts = np.sort(rng.integers(t_lo_us, t_hi_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array((EPOCH_2024 + ts.astype("timedelta64[us]")), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(
            ["click", "signup", "error", "view", "purchase"], n)),
        "value": pa.array(np.round(0.01 + rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def ledger(out, sf=0.01, seed=20240101):
    """Ledger and relational tables at scale `sf` (the testdata's sf0.01
    has 60k lineitem rows). The content depends only on `seed`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    nations = np.arange(25)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(nations.astype(np.int32)),
            "n_name": [f"NATION_{i}" for i in nations],
            "n_regionkey": pa.array((nations % 5).astype(np.int32))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
    }
    colors = ["red", "blue", "green", "small", "large", "shiny", "steel", "brass"]
    nouns = ["ring", "widget", "bolt", "gear", "valve", "panel", "spring", "cable"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    tables["events"] = _events_table(rng, 0, n_ev, 7 * 10**6, MONTH_US)
    for name, t in tables.items():
        _write(t, os.path.join(out, f"{name}.parquet"))


def _vocabulary(rng, n_words):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < n_words:
        w = "".join(rng.choice(letters, rng.integers(2, 10)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def corpus(out, seed, n_docs=8000, n_files=16, n_words=5000, dup_rate=0.1,
           n_vecs=8000, dim=64):
    """`documents` and `embeddings` as directories of `n_files` parquet
    files each, plus `truth_pairs.parquet`: every (a_id, b_id), a < b,
    of documents injected into the same near-duplicate cluster.

    A cluster is one base document and 1-3 copies; each copy replaces
    one word of the base (a word-3-gram Jaccard of about 0.9 to the
    base), and one copy in five is exact. About `dup_rate` of all
    documents are copies."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, n_words)
    zipf = 1.0 / np.arange(1, n_words + 1) ** 1.1
    zipf /= zipf.sum()
    texts, cluster = [], []
    while len(texts) < n_docs:
        base = rng.choice(n_words, rng.integers(40, 100), p=zipf)
        cid = len(texts)
        texts.append(base)
        cluster.append(cid)
        if rng.random() < dup_rate / 2.0:
            for _ in range(int(rng.integers(1, 4))):
                if len(texts) >= n_docs:
                    break
                copy = base.copy()
                if rng.random() >= 0.2:
                    copy[rng.integers(0, len(copy))] = rng.integers(0, n_words)
                texts.append(copy)
                cluster.append(cid)
    # doc ids are a permutation, so a cluster's members land in
    # different files
    doc_id = rng.permutation(n_docs).astype(np.int64)
    text = [" ".join(vocab[t]) for t in texts]
    langs = rng.choice(["en", "es", "zh", "de", "fr"], n_docs,
                       p=[0.44, 0.14, 0.14, 0.14, 0.14])
    docs = pa.table({
        "doc_id": doc_id,
        "text": text,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }).take(pa.array(np.argsort(doc_id)))
    members = {}
    for d, c in zip(doc_id, cluster):
        members.setdefault(c, []).append(int(d))
    pairs = sorted((a, b) for m in members.values() for a in m for b in m if a < b)
    truth = pa.table({"a_id": pa.array([p[0] for p in pairs], pa.int64()),
                      "b_id": pa.array([p[1] for p in pairs], pa.int64())})

    centers = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n_vecs)
    vec = centers[label] + rng.normal(0.0, 0.6, (n_vecs, dim))
    # near-duplicate vectors: a tenth of rows copy an earlier row, jittered
    src = rng.integers(0, n_vecs, n_vecs)
    dup = (rng.random(n_vecs) < 0.1) & (src < np.arange(n_vecs))
    vec[dup] = vec[src[dup]] + rng.normal(0.0, 0.01, (int(dup.sum()), dim))
    label[dup] = label[src[dup]]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    os.makedirs(out, exist_ok=True)
    for name, t in (("documents", docs), ("embeddings", emb)):
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        bounds = np.linspace(0, t.num_rows, n_files + 1).astype(int)
        for i in range(n_files):
            _write(t.slice(bounds[i], bounds[i + 1] - bounds[i]),
                   os.path.join(d, f"part-{i:05d}.parquet"))
    _write(truth, os.path.join(out, "truth_pairs.parquet"))


def events(out, seed, n_files=24, rows_per_file=2000):
    """A backlog of `n_files` event files; file i holds the events of
    the i-th slice of one month, so a stream reading them in order
    never sees an event behind its watermark. Modification times
    increase with i, which is the order a file stream picks them up."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    slice_us = MONTH_US // n_files
    for i in range(n_files):
        t = _events_table(rng, i * rows_per_file, rows_per_file,
                          i * slice_us, (i + 1) * slice_us)
        path = os.path.join(out, f"part-{i:05d}.parquet")
        _write(t, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def digest(root):
    """sha256 over the relative path and bytes of every parquet file
    under `root`, in path order (the writer is deterministic, so equal
    data gives equal bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()

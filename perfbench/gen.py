"""Seeded input generator for the benchmark.

Writes the retail star schema (lineitem, part) and the document table the
workloads read, plus the curation corpus, as parquet laid out like the
project's reference test data (pyarrow, one row group, snappy, naive
microsecond timestamps).  The shapes follow the reference generator at scale
factor `sf`: 6e6*sf line items over 2e5*sf parts and 1e4*sf suppliers, so
nearly every (part, supplier) series holds one or two weeks, and no quantity
is zero.  The same seed always gives the same files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
ADJ = "red new hot small cold large old blue".split()
NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
TYPES = "LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
FIRST_DAY = np.datetime64("1995-01-02")
N_DAYS = 2499
# each base document appears this many times in the curation corpus
CORPUS_COPIES = 20


def scale(sf):
    return {
        "lineitem": int(round(6e6 * sf)),
        "part": int(round(2e5 * sf)),
        "supplier": int(round(1e4 * sf)),
        "orders": int(round(1.5e6 * sf)),
        "documents": max(500, int(round(5e4 * sf))),
    }


def _write(path, table):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _texts(rng, n):
    n_words = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, n_words)]
    # 5% of documents carry a trailing marker; a few of those are exact
    # duplicates of an earlier document, as in the reference data
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] += " dup"
    dups = np.flatnonzero(rng.random(n) < 0.0016)
    for i in dups[dups > 0]:
        texts[i] = texts[int(rng.integers(0, i))]
    return texts


def _documents(rng, n):
    texts = _texts(rng, n)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _corpus(rng, docs):
    """CORPUS_COPIES copies of every base document.  Copy 0 is the original;
    each later copy is an exact duplicate with probability 1/2 and otherwise
    has one word swapped (a near-duplicate that exact dedup must keep), the
    choice and the swap drawn from the seed."""
    base = docs.column("text").to_pylist()
    n = len(base)
    texts, ids = [], []
    for c in range(CORPUS_COPIES):
        salt = rng.random(n) < 0.5
        pos = rng.random(n)
        word = rng.integers(0, len(VOCAB), n)
        for i, t in enumerate(base):
            if c > 0 and salt[i]:
                ws = t.split(" ")
                ws[int(pos[i] * len(ws))] = VOCAB[word[i]]
                t = " ".join(ws)
            texts.append(t)
            ids.append(c * n + i)
    rep = lambda col: pa.concat_arrays([docs.column(col).combine_chunks()] * CORPUS_COPIES)
    return pa.table({
        "doc_id": pa.array(np.array(ids, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": rep("lang"),
        "source": rep("source"),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _shape(li, part, docs, corpus):
    pk = li["l_partkey"] * (li["l_suppkey"].max() + 1) + li["l_suppkey"]
    week = (li["l_shipdate"].astype("datetime64[D]").astype(np.int64) + 3) // 7
    series_weeks = np.unique(np.stack([pk, week]), axis=1)[0]
    _, weeks_per_series = np.unique(series_weeks, return_counts=True)
    ctexts = corpus.column("text").to_pylist()
    return {
        "lineitem_rows": int(len(pk)),
        "part_rows": int(part.num_rows),
        "series": int(len(weeks_per_series)),
        "weeks_per_series": round(float(weeks_per_series.mean()), 4),
        "zero_qty_share": float((li["l_quantity"] == 0).mean()),
        "documents": int(docs.num_rows),
        "corpus_docs": int(corpus.num_rows),
        "corpus_distinct_texts": len(set(ctexts)),
    }


def generate(out_dir, sf, seed):
    """Write the tables for scale factor `sf` and `seed` into `out_dir` (the
    corpus under `corpus/`) and return the shape record, which is also
    written as shape.json."""
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    n = scale(sf)
    os.makedirs(out_dir, exist_ok=True)
    nl = n["lineitem"]
    li = {
        "l_orderkey": rng.integers(0, n["orders"], nl),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": (FIRST_DAY + rng.integers(0, N_DAYS, nl)).astype("datetime64[us]"),
    }
    _write(f"{out_dir}/lineitem.parquet", pa.table(li))
    np_ = n["part"]
    keys = np.arange(np_, dtype=np.int64)
    part = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, np_)], " "),
                              np.array(NOUN)[rng.integers(0, 8, np_)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": np.array(TYPES)[rng.integers(0, 6, np_)],
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    _write(f"{out_dir}/part.parquet", part)
    docs = _documents(rng, n["documents"])
    _write(f"{out_dir}/documents.parquet", docs)
    corp = _corpus(rng, docs)
    os.makedirs(f"{out_dir}/corpus", exist_ok=True)
    _write(f"{out_dir}/corpus/documents.parquet", corp)
    shape = _shape(li, part, docs, corp)
    shape.update({"sf": sf, "seed": seed})
    with open(f"{out_dir}/shape.json", "w") as f:
        json.dump(shape, f, indent=1, sort_keys=True)
    return shape


# Shape of the project's reference test data at each scale factor, which the
# generated inputs must keep (within TOLERANCE) for any seed.
REFERENCE = {
    0.001: {"series": 1905, "weeks_per_series": 3.1344},
    0.01: {"series": 51731, "weeks_per_series": 1.1593},
    0.1: {"series": 590973, "weeks_per_series": 1.0152},
}
TOLERANCE = 0.02


def shape_problems(shape):
    """Differences between a generated data set and the reference shape."""
    sf = shape["sf"]
    n = scale(sf)
    ref = REFERENCE[sf]
    out = []
    for key, want in (("lineitem_rows", n["lineitem"]), ("part_rows", n["part"]),
                      ("documents", n["documents"]),
                      ("corpus_docs", n["documents"] * CORPUS_COPIES)):
        if shape[key] != want:
            out.append(f"shape: {key} {shape[key]} != {want}")
    for key in ("series", "weeks_per_series"):
        if abs(shape[key] / ref[key] - 1) > TOLERANCE:
            out.append(f"shape: {key} {shape[key]} vs reference {ref[key]}")
    if shape["zero_qty_share"] != 0.0:
        out.append(f"shape: zero_qty_share {shape['zero_qty_share']} != 0")
    return out

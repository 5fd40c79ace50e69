"""Seeded input corpus for the benchmark.

Every table has the schema of the driver's testdata, so the gates run on
it unchanged. Only the tables the workloads' gates read are written: four
of the TPC-H-ish star schema (foreign keys into `part` and `supplier`
keep their ranges) and `documents`. The same
(spec, seed) always gives the same bytes.

Documents follow `graft.tools.GenZipf`, the repo's Zipf corpus for the
similarity-join measurements, where it gives a reason, and the driver's
testdata where it does not:
  - `n` documents, `lo` to `hi` words each, spread evenly: the driver's
    sf0.01 `documents` table has 500 rows of 10 to 100 words (quartiles
    32, 56 and 76, so about uniform);
  - word k of the vocabulary is drawn with probability ~ 1/k^`zipf_s`
    (GenZipf: zipf(1), the power law of natural text);
  - the vocabulary grows with the corpus as Heaps' law
    V = `heaps_k` * sqrt(total words) (GenZipf: 30 * sqrt);
  - a `dup_share` of documents are planted near-duplicates, each a copy of
    an earlier document with a `swap` share of its words replaced
    (GenZipf: about 1% of documents, about 4% of words).
The shape (the spread of lengths, the number of planted copies) is the
same for every seed; the seed draws the words, the copies' sources (a
copy keeps its source's length) and the other columns.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
SYLLABLES = ("ba be bi bo bu da de di do du ka ke ki ko ku la le li lo lu "
             "ma me mi mo mu na ne ni no nu ra re ri ro ru sa se si so su "
             "ta te ti to tu").split()


def _days(first, n_days, rng, n):
    """`n` midnights drawn uniformly from `n_days` days from `first`."""
    off = rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(np.datetime64(first, "us") + off.astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(rng, sf):
    n_c, n_s, n_p = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_o, n_l = int(1_500_000 * sf), int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": segs[rng.integers(0, 5, n_c)]})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_o),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_o),
        "o_orderpriority": prio[rng.integers(0, 5, n_o)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _days("1995-01-02", 2498, rng, n_l)})
    return t


def _zipf_vocab(rng, size):
    words = set()
    while len(words) < size:
        k = rng.integers(2, 5)
        words.add("".join(SYLLABLES[i] for i in
                          rng.integers(0, len(SYLLABLES), k)))
    return np.array(sorted(words))


def documents(rng, n, lo, hi, zipf_s, heaps_k, dup_share, swap):
    # the corpus's shape is fixed and only its content varies by seed:
    # lengths are a shuffled even spread over [lo, hi], exactly
    # round(n * dup_share) documents are planted near-copies, and each
    # copy replaces round(swap * length) of its words
    lengths = rng.permutation(np.linspace(lo, hi, n).round().astype(int))
    vocab = round(heaps_k * np.sqrt(lengths.sum()))
    words = _zipf_vocab(rng, vocab)
    cdf = np.cumsum(1.0 / np.arange(1, vocab + 1) ** zipf_s)
    cdf /= cdf[-1]
    planted = set(rng.choice(np.arange(1, n), round(n * dup_share),
                             replace=False).tolist())
    docs = []
    for i in range(n):
        if i in planted:
            toks = docs[rng.integers(0, i)].split(" ")
            k = max(1, round(swap * len(toks)))
            for j in rng.choice(len(toks), k, replace=False):
                toks[j] = str(words[rng.integers(0, len(words))])
            docs.append(" ".join(toks))
        else:
            idx = np.searchsorted(cdf, rng.random(int(lengths[i])))
            docs.append(" ".join(words[idx]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": docs,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": pa.array([len(d) for d in docs], pa.int64())})


def generate(spec, seed, out_dir):
    """Write every table `spec` asks for under `out_dir` (atomically).

    spec keys: `sf` (the TPC-H tables at that scale factor) and
    `documents` (the keyword arguments of `documents`)."""
    if os.path.isdir(out_dir):
        return
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # one child stream per table group, so adding one never shifts another
    streams = np.random.SeedSequence(seed).spawn(2)
    rng = [np.random.default_rng(s) for s in streams]
    tables = {}
    if spec.get("sf"):
        tables.update(tpch(rng[0], spec["sf"]))
    if spec.get("documents"):
        tables["documents"] = documents(rng[1], **spec["documents"])
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out_dir)

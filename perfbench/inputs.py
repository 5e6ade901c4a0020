"""Input generators for the benchmark.

Two kinds of input:

* ``write_tables``: the sf0.1-shaped Parquet tables the registry queries
  read (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings). They are fixed: always built from TABLE_SEED, so
  the committed oracle fingerprints stay valid and every run measures the
  same data. Each table is one Parquet file with a single row group.
* ``write_headlines``: an analyst_ratings-shaped CSV for the two reference
  jobs, built from the run's ``--seed``.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
HEADLINE_LINES = 486_634  # rows of the paper's analyst_ratings.csv, header included
N_TICKERS = 5_900

_DOC_WORDS = ("spark window merge table column vector stream value data small "
              "join filter big group hash customer sort order slow line part "
              "fast row the agg key query a scan batch").split()


def _ts_us(days_or_seconds, unit):
    base = np.datetime64("1970-01-01T00:00:00", "us")
    return base + np.asarray(days_or_seconds).astype(f"timedelta64[{unit}]")


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def write_tables(out_dir):
    """Writes the ten fixed tables into ``out_dir``; returns {name: rows}."""
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    rows = {}

    def put(name, cols):
        tbl = pa.table({k: pa.array(v, type=t) for k, (v, t) in cols.items()})
        _write(out_dir, name, tbl)
        rows[name] = tbl.num_rows

    put("region", {
        "r_regionkey": (np.arange(5), i32),
        "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    put("nation", {
        "n_nationkey": (np.arange(25), i32),
        "n_name": ([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": (np.arange(25) % 5, i32)})

    n_cust = 15_000
    put("customer", {
        "c_custkey": (np.arange(n_cust), i64),
        "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": (rng.integers(0, 25, n_cust), i32),
        "c_acctbal": (np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": (rng.choice(["BUILDING", "AUTOMOBILE", "MACHINERY",
                                     "HOUSEHOLD", "FURNITURE"], n_cust), s)})

    n_supp = 1_000
    put("supplier", {
        "s_suppkey": (np.arange(n_supp), i64),
        "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": (rng.integers(0, 25, n_supp), i32),
        "s_acctbal": (np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)})

    n_part = 20_000
    adjs = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
    nouns = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
    put("part", {
        "p_partkey": (np.arange(n_part), i64),
        "p_name": ([f"{adjs[a]} {nouns[b]}" for a, b in
                    zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": (rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                               "PROMO"], n_part), s),
        "p_size": (rng.integers(1, 51, n_part), i32),
        "p_retailprice": (np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1), f64)})

    n_ord = 150_000
    d0 = (np.datetime64("1995-01-01") - np.datetime64("1970-01-01")).astype(int)
    put("orders", {
        "o_orderkey": (np.arange(n_ord), i64),
        "o_custkey": (rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": (rng.choice(["O", "F", "P"], n_ord), s),
        "o_totalprice": (np.round(rng.uniform(1000.0, 500000.0, n_ord), 2), f64),
        "o_orderdate": (_ts_us(d0 + rng.integers(0, 2405, n_ord), "D"), ts),
        "o_orderpriority": (rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"], n_ord), s)})

    n_li = 600_000
    put("lineitem", {
        "l_orderkey": (rng.integers(0, n_ord, n_li), i64),
        "l_partkey": (rng.integers(0, n_part, n_li), i64),
        "l_suppkey": (rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": (rng.integers(1, 8, n_li), i32),
        "l_quantity": (rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": (np.round(rng.uniform(900.0, 105000.0, n_li), 2), f64),
        "l_discount": (rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": (rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": (rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": (rng.choice(["F", "O"], n_li), s),
        "l_shipdate": (_ts_us(d0 + 1 + rng.integers(0, 2499, n_li), "D"), ts)})

    n_ev = 100_000
    t0 = (np.datetime64("2024-01-01T00:00:00", "us")
          - np.datetime64("1970-01-01T00:00:00", "us")).astype(np.int64)
    gaps = np.maximum(1, rng.exponential(26.0e6, n_ev).astype(np.int64))
    put("events", {
        "event_id": (np.arange(n_ev), i64),
        "ts": (_ts_us(t0 + np.cumsum(gaps), "us"), ts),
        "user_id": (rng.integers(0, 1500, n_ev), i64),
        "event_type": (rng.choice(["click", "error", "purchase", "signup",
                                   "view"], n_ev), s),
        "value": (np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})

    n_doc = 5_000
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(rng.choice(_DOC_WORDS, n)) for n in lens]
    # near duplicates: 250 documents repeat an earlier one with a marker word
    for i in rng.choice(np.arange(1, n_doc), 250, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    # and a few exact duplicates
    for i in rng.choice(np.arange(1, n_doc), 8, replace=False):
        texts[i] = texts[rng.integers(0, i)]
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                       p=[0.41, 0.14, 0.15, 0.15, 0.15])
    put("documents", {
        "doc_id": (np.arange(n_doc), i64),
        "text": (texts, s),
        "lang": (langs, s),
        "source": ([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": ([len(t) for t in texts], i64)})

    n_emb = 2_000
    v = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": (np.arange(n_emb), i64),
        "embedding": (list(v), pa.list_(pa.float32())),
        "label": (rng.integers(0, 10, n_emb), i32)})
    return rows


# --- headlines ---------------------------------------------------------------

def _pseudo_words(rng, n):
    """n distinct lowercase pseudo-words of 3..10 letters. The i-th word
    has 3 + i % 8 letters whatever the seed, so that the seed changes the
    words but not the size of the file."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(letters, 3 + len(out) % 8))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _tickers(rng, n):
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    out, seen = [], set()
    while len(out) < n:
        t = "".join(rng.choice(letters, int(rng.integers(1, 6))))
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def _zipf_probs(n, s):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def write_headlines(path, seed, stop_words, lines=HEADLINE_LINES):
    """Writes a headerful id,headline,date,stock CSV of ``lines`` lines.

    Headlines draw from a Zipf vocabulary in which the stop words take the
    most frequent ranks among pseudo-words; words are sometimes
    capitalised or carry a possessive, a colon or a number, and about 3%
    of headlines hold an embedded comma. Tickers follow a Zipf skew over
    N_TICKERS symbols; a few rows are short (fewer than four fields) or end
    in an empty trailing field. Returns (lines, bytes)."""
    rng = np.random.default_rng(seed)
    base = _pseudo_words(rng, 20_000)
    # a fixed order, so that the stop words' ranks, and with them the size
    # of the file, are the same for every seed
    stops = list(stop_words)
    np.random.default_rng(TABLE_SEED).shuffle(stops)
    # stop words take every other rank among the first ~640
    vocab = []
    for i, w in enumerate(base):
        if i % 2 == 0 and stops:
            vocab.append(stops.pop())
        vocab.append(w)
    forms = np.array([f for w in vocab for f in
                      (w, w.capitalize(), w.capitalize(), w + "'s", w + ":",
                       w.upper(), w + ",")], dtype=object)
    form_p = np.array([0.50, 0.40, 0.0, 0.03, 0.02, 0.02, 0.03])
    form_p /= form_p.sum()
    tickers = np.array(_tickers(rng, N_TICKERS), dtype=object)
    n = lines - 1
    n_words = rng.integers(3, 16, n)
    total = int(n_words.sum())
    ids = (rng.choice(len(vocab), total, p=_zipf_probs(len(vocab), 1.05)) * 7
           + rng.choice(7, total, p=form_p))
    words = forms[ids]
    nums = rng.random(total) < 0.02
    words[nums] = [f"{k}%" for k in rng.integers(1, 1000, int(nums.sum()))]
    tick = tickers[rng.choice(N_TICKERS, n, p=_zipf_probs(N_TICKERS, 0.9))]
    dates = (np.datetime64("2009-02-14")
             + rng.integers(0, 4000, n).astype("timedelta64[D]")).astype(str)
    kind = rng.random(n)
    ends = np.cumsum(n_words)
    out = [",headline,date,stock"]
    for i in range(n):
        h = " ".join(words[ends[i] - n_words[i]:ends[i]])
        k = kind[i]
        if k < 0.0005:
            out.append(f"{i},{h},{tick[i]}")  # short row: filtered out
        elif k < 0.001:
            out.append(f"{i},{h},{dates[i]},")  # empty trailing field
        elif k < 0.3:
            out.append(f'{i},"{h}",{dates[i]} 10:30:00-04:00,{tick[i]}')
        else:
            out.append(f"{i},{h},{dates[i]} 00:00:00,{tick[i]}")
    data = ("\n".join(out) + "\n").encode("ascii")
    with open(path, "wb") as f:
        f.write(data)
    return lines, len(data)

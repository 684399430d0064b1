"""Seeded input generator for the benchmark workloads.

Everything here is derived from the workload seed alone, so the same seed
always writes byte-identical parquet files, and nothing the engine ships is
used to make them (the engine receives only the generated files).

The tables follow the shapes of the engine's sf0.1 test corpus:

- a TPC-H-like base (customer / orders / lineitem) plus an `events` click
  stream whose `user_id` joins `c_custkey`, scaled xK the way a derived
  scale corpus grows: every key domain shifts by copy x (domain size), so
  each copy's joins land inside that copy and per-key cardinalities stay
  what they were, and every text column goes through a per-copy bijective
  character map over [a-z0-9] so copies share no vocabulary;
- a `documents` corpus of word-salad text over a 30-word vocabulary (the
  calibration the engine's LM gate assumes), with language-specific
  function words, planted exact duplicates, planted near-duplicates and a
  junk tail.

Each generator returns a manifest of {table: {"rows", "bytes"}} that the
benchmark stamps into its output.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALPHA = "abcdefghijklmnopqrstuvwxyz0123456789"
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
# Each language over-uses its own six words of the shared vocabulary. The
# engine's LM gate is calibrated to a ~30-word vocabulary (a bigram's
# surprisal is about the number of distinct successors of its first
# word), so language signal comes from frequency, not from new words.
LANG_WORDS = {lang: VOCAB[6 * i:6 * i + 6] for i, lang in enumerate(LANGS)}
# junk documents draw from their own 40 tokens: bigrams the corpus rarely
# repeats, so the LM gate drops them
JUNK = [f"zz{i}" for i in range(40)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# 2024-01-01T00:00:00Z in microseconds; events and orders span 30 days
T0_US = 1704067200 * 1_000_000
SPAN_US = 30 * 86400 * 1_000_000

# sf0.1 row counts of the base tables
BASE = {"customer": 15000, "orders": 150000, "lineitem": 600000,
        "events": 100000, "users": 1500, "parts": 20000, "suppliers": 1000}


def rng(seed, *salt):
    """An independent, reproducible stream per (seed, purpose)."""
    return np.random.Generator(np.random.PCG64([seed, *salt]))


def char_perm(seed, copy):
    """Affine bijection i -> (a*i + b) mod 36 over [a-z0-9], chosen by
    (seed, copy). Distinct copies get distinct maps."""
    units = [a for a in range(1, 36) if np.gcd(a, 36) == 1]
    k = (seed * 131 + copy) % (len(units) * 36)
    a, b = units[k // 36], k % 36
    return str.maketrans(ALPHA, "".join(ALPHA[(a * i + b) % 36] for i in range(36)))


def money(g, lo, hi, n):
    return np.round(g.uniform(lo, hi, n), 2)


def _write(table, path, parts):
    """Write `table` as `parts` parquet files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = max(1, -(-n // parts))
    for i, off in enumerate(range(0, max(n, 1), step)):
        pq.write_table(table.slice(off, step), os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")
    return {"rows": n, "bytes": dir_bytes(path)}


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------- TPC-H-like

def base_tpch(seed, scale):
    """Base customer/orders/lineitem/events at `scale` x sf0.1 row counts."""
    n_c = int(BASE["customer"] * scale)
    n_o = int(BASE["orders"] * scale)
    n_l = int(BASE["lineitem"] * scale)
    n_e = int(BASE["events"] * scale)
    n_u = max(1, int(BASE["users"] * scale))
    n_p = max(1, int(BASE["parts"] * scale))
    n_s = max(1, int(BASE["suppliers"] * scale))

    g = rng(seed, 1)
    customer = {
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(n_c)], dtype=object),
        "c_nationkey": g.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": money(g, -999.99, 9999.99, n_c),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[g.integers(0, 5, n_c)],
    }
    g = rng(seed, 2)
    orders = {
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": g.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[g.integers(0, 3, n_o)],
        "o_totalprice": money(g, 900.0, 500000.0, n_o),
        "o_orderdate": T0_US + g.integers(0, SPAN_US, n_o),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], dtype=object)[g.integers(0, 5, n_o)],
    }
    g = rng(seed, 3)
    qty = g.integers(1, 51, n_l).astype(np.float64)
    lineitem = {
        "l_orderkey": np.sort(g.integers(0, n_o, n_l)).astype(np.int64),
        "l_partkey": g.integers(0, n_p, n_l).astype(np.int64),
        "l_suppkey": g.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": g.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900.0, 2000.0, n_l), 2),
        "l_discount": np.round(g.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(g.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[g.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[g.integers(0, 2, n_l)],
        "l_shipdate": T0_US + g.integers(0, SPAN_US, n_l),
    }
    g = rng(seed, 4)
    # strictly increasing timestamps: no two events share an instant
    ts = T0_US + np.cumsum(g.integers(1, 2 * SPAN_US // max(n_e, 1), n_e))
    user = g.integers(0, n_u, n_e).astype(np.float64)
    user[g.random(n_e) < 0.003] = np.nan  # required-null rows for Cleaning
    events = {
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": ts,
        "user_id": user,
        "event_type": np.array(EVENT_TYPES, dtype=object)[g.integers(0, 5, n_e)],
        "value": money(g, 0.0, 560.0, n_e),
        "props": np.array([f'{{"k": {k}}}' for k in g.integers(0, 100, n_e)], dtype=object),
    }
    return customer, orders, lineitem, events


TS_COLS = {"o_orderdate", "l_shipdate", "ts"}
NULLABLE_LONG = {"user_id"}


def _arrow(cols):
    arrays, names = [], []
    for name, v in cols.items():
        if name in TS_COLS:
            arrays.append(pa.array(v, type=pa.timestamp("us")))
        elif name in NULLABLE_LONG:
            mask = np.isnan(v)
            arrays.append(pa.array(np.nan_to_num(v).astype(np.int64), mask=mask, type=pa.int64()))
        else:
            arrays.append(pa.array(v))
        names.append(name)
    return pa.table(arrays, names=names)


def replicate(cols, seed, k, shifts, text_cols=()):
    """ScaleGen-style xK: key columns shift by copy x domain, text columns
    lowercase and go through the copy's character bijection."""
    out = {}
    for name, v in cols.items():
        parts = []
        for copy in range(k):
            if name in shifts:
                parts.append(v + copy * shifts[name])
            elif name in text_cols:
                perm = char_perm(seed, copy)
                parts.append(np.array([s.lower().translate(perm) for s in v], dtype=object))
            else:
                parts.append(v)
        out[name] = np.concatenate(parts)
    return out


def gen_etl(seed, out, k, parts, scale=1.0):
    """The etl_observations inputs: xK replica of a base at `scale` x the
    sf0.1 row counts (the benchmark runs k=1, scale=1)."""
    customer, orders, lineitem, events = base_tpch(seed, scale)
    cust_d, order_d, event_d = (len(customer["c_custkey"]), len(orders["o_orderkey"]),
                                len(events["event_id"]))
    tables = {
        "customer": replicate(customer, seed, k, {"c_custkey": cust_d}, ("c_name",)),
        "orders": replicate(orders, seed, k, {"o_orderkey": order_d, "o_custkey": cust_d}),
        "lineitem": replicate(lineitem, seed, k, {"l_orderkey": order_d}),
        # events.user_id joins c_custkey, so it shifts by the customer domain
        "events": replicate(events, seed, k, {"event_id": event_d, "user_id": cust_d}),
    }
    return {name: _write(_arrow(cols), os.path.join(out, f"{name}.parquet"), parts)
            for name, cols in tables.items()}


# ----------------------------------------------------------------- documents

def _salad(g, n_tok, lang):
    words = LANG_WORDS[lang]
    own = g.random(n_tok) < 0.3
    wi, vi = g.integers(0, len(words), n_tok), g.integers(0, len(VOCAB), n_tok)
    return [words[w] if o else VOCAB[v] for o, w, v in zip(own, wi, vi)]


def _near(g, toks):
    """One token replaced: a 3-shingle Jaccard of about 0.85-0.95 for the
    long documents this is applied to."""
    t = list(toks)
    i = int(g.integers(0, len(t)))
    t[i] = "dup" if t[i] != "dup" else "fast"
    return t


def _surface(g, toks):
    """Exact duplicate after normalization: case and punctuation change."""
    s = " ".join(toks)
    return (s[:1].upper() + s[1:] + "!") if g.random() < 0.5 else s.replace(" ", ",  ", 1)


def documents(seed, n):
    """n documents with planted exact/near duplicates among themselves."""
    g = rng(seed, 5)
    ids, texts, langs, toks_of = [], [], [], []
    for i in range(n):
        lang = LANGS[int(g.integers(0, 5))]
        r = g.random()
        if r < 0.03:
            toks = [JUNK[int(j)] for j in g.integers(0, len(JUNK), int(g.integers(10, 40)))]
            text = " ".join(toks)
        elif r < 0.11 and toks_of:
            j = int(g.integers(0, len(toks_of)))
            toks, lang = toks_of[j], langs[j]
            text = _surface(g, toks)
        elif r < 0.17 and toks_of:
            j = int(g.integers(0, len(toks_of)))
            if len(toks_of[j]) >= 40:
                toks, lang = _near(g, toks_of[j]), langs[j]
            else:
                toks = _salad(g, int(g.integers(10, 101)), lang)
            text = " ".join(toks)
        else:
            toks = _salad(g, int(g.integers(10, 101)), lang)
            text = " ".join(toks)
        ids.append(i)
        texts.append(text)
        langs.append(lang)
        toks_of.append(toks)
    return ids, texts, langs


def _docs_table(ids, texts, langs):
    return pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs, type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def gen_curate(seed, out, n_docs, graph_scale, parts):
    """curate_iterative inputs: a document corpus plus a small TPC-H-like
    customer/orders/lineitem set whose customer -> supplier edges form the
    link-analysis graph."""
    ids, texts, langs = documents(seed, n_docs)
    man = {"documents": _write(_docs_table(ids, texts, langs),
                               os.path.join(out, "documents.parquet"), parts)}
    customer, orders, lineitem, _ = base_tpch(seed, graph_scale)
    for name, cols in (("customer", customer), ("orders", orders), ("lineitem", lineitem)):
        man[name] = _write(_arrow(cols), os.path.join(out, f"{name}.parquet"), parts)
    return man

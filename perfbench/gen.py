#!/usr/bin/env python3
"""Seeded table generator for the benchmark.

Writes the engine's ten input tables as one parquet FILE each,
`<dir>/<table>.parquet` (the streaming readers' `pathGlobFilter` depends
on that layout), with the column names and types of the reference
testdata recorded in `schema.json`.

Row counts follow the reference testdata ratios at scale factor `sf`:
lineitem = 6M*sf, orders = lineitem/4, customers = orders/10,
parts = lineitem/30, suppliers = lineitem/600, events = lineitem/6,
users = events/66, documents = 50k*sf, embeddings = 20k*sf.

Modes:
  driver  uniform key draws and the closed 30-word vocabulary of the
          reference corpus.
  zipf    the same schema and row counts, but documents draw words from
          an open 1M-word Zipf vocabulary (`w<rank>`, log-uniform rank)
          and the fact-table foreign keys (o_custkey, l_partkey,
          events.user_id) have Zipf-headed rank distributions.

In both modes every 20th document is its predecessor plus the word
"dup" (the reference corpus has 5% such near-duplicates).

Every value is a function of (seed, mode, sf) only, so the same
arguments give byte-identical files.

Usage: gen.py <out_dir> <seed> <driver|zipf> <sf>
       gen.py --schema-of <dir>    print a directory's schema as JSON
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MODES = ("driver", "zipf")

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
OPEN_VOCAB = 1_000_000
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJS = ["small", "red", "blue", "hot", "old", "large", "green", "new"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "cog", "pin"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "MEDIUM", "SMALL", "PROMO"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DAY = np.timedelta64(1, "D")
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def row_counts(sf):
    li = int(6_000_000 * sf)
    orders = li // 4
    events = li // 6
    return {
        "lineitem": li, "orders": orders, "customer": orders // 10,
        "part": li // 30, "supplier": max(10, li // 600), "events": events,
        "users": max(15, events // 66), "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf), "nation": 25, "region": 5,
    }


def _rng(seed, table):
    # one independent stream per (seed, table): adding a column to one
    # table never shifts another table's values
    return np.random.default_rng([seed, TABLES.index(table)])


def _keys(rng, n, size, zipf):
    """Uniform keys over [0, n), or a Zipf(s~1) rank: the inverse CDF of
    the truncated 1/x density, so rank k has P ~ 1/((k+1) ln n)."""
    if not zipf:
        return rng.integers(0, n, size)
    u = rng.random(size)
    return np.minimum(n - 1, (np.exp(u * np.log(n)) - 1.0).astype(np.int64))


def _money(x):
    return np.round(x, 2)


def _pick(rng, choices, size):
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), size)]


def _documents(rng, n, zipf):
    lengths = rng.integers(10, 101, n)
    words = rng.random(int(lengths.sum()))
    if zipf:
        ranks = np.minimum(OPEN_VOCAB, np.exp(words * np.log(OPEN_VOCAB + 1.0)).astype(np.int64))
        tokens = np.char.add("w", ranks.astype(str))
    else:
        tokens = np.asarray(VOCAB)[(words * len(VOCAB)).astype(np.int64)]
    dup = np.arange(n) % 20 == 19
    texts, pos = [], 0
    for i in range(n):
        if dup[i]:
            texts.append(texts[-1] + " dup")
        else:
            texts.append(" ".join(tokens[pos:pos + lengths[i]]))
        pos += lengths[i]
    langs = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.2, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (n, 64))).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * 64, 64, dtype=np.int32)),
        pa.array(vecs.reshape(-1), pa.float32()))
    return {"vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb, "label": pa.array(labels)}


def tables(seed, mode, sf):
    """Every table as a dict of column name -> pyarrow array."""
    if mode not in MODES:
        raise ValueError("mode must be one of %s, got %r" % (MODES, mode))
    zipf = mode == "zipf"
    n = row_counts(sf)
    out = {}
    out["region"] = {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": pa.array(REGIONS, pa.string())}
    out["nation"] = {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": pa.array(["NATION_%d" % i for i in range(25)], pa.string()),
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}

    r = _rng(seed, "customer")
    nc = n["customer"]
    out["customer"] = {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(-999.99 + r.random(nc) * 10999.8)),
        "c_mktsegment": pa.array(_pick(r, SEGMENTS, nc), pa.string())}

    r = _rng(seed, "supplier")
    ns = n["supplier"]
    out["supplier"] = {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(-1000.0 + r.random(ns) * 11000.0))}

    r = _rng(seed, "part")
    npart = n["part"]
    ids = np.arange(npart, dtype=np.int64)
    names = np.char.add(np.char.add(np.asarray(ADJS)[r.integers(0, 8, npart)], " "),
                        np.asarray(NOUNS)[r.integers(0, 8, npart)])
    out["part"] = {
        "p_partkey": pa.array(ids),
        "p_name": pa.array(names.astype(object), pa.string()),
        "p_brand": pa.array(np.char.add("Brand#", r.integers(1, 26, npart).astype(str)).astype(object), pa.string()),
        "p_type": pa.array(_pick(r, PTYPES, npart), pa.string()),
        "p_size": pa.array(r.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(_money(900.0 + (ids % 1000) / 10.0))}

    r = _rng(seed, "orders")
    no = n["orders"]
    out["orders"] = {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(_keys(r, nc, no, zipf).astype(np.int64)),
        "o_orderstatus": pa.array(_pick(r, ["P", "O", "F"], no), pa.string()),
        "o_totalprice": pa.array(_money(1000.0 + r.random(no) * 499000.0)),
        "o_orderdate": pa.array(EPOCH_1995 + r.integers(0, 2404, no) * DAY, pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(r, PRIOS, no), pa.string())}

    r = _rng(seed, "lineitem")
    nl = n["lineitem"]
    qty = r.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = {
        "l_orderkey": pa.array(r.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(_keys(r, npart, nl, zipf).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(qty * (900.0 + r.random(nl) * 1200.0))),
        "l_discount": pa.array(_money(r.random(nl) * 0.1)),
        "l_tax": pa.array(_money(r.random(nl) * 0.08)),
        "l_returnflag": pa.array(_pick(r, ["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(_pick(r, ["O", "F"], nl), pa.string()),
        "l_shipdate": pa.array(EPOCH_1995 + r.integers(1, 2499, nl) * DAY, pa.timestamp("us"))}

    r = _rng(seed, "events")
    ne = n["events"]
    span_us = 30 * 86400 * 1_000_000
    ts = (np.arange(ne, dtype=np.int64) * (span_us // max(ne, 1))
          + (r.random(ne) * 6e7).astype(np.int64))
    out["events"] = {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(_keys(r, n["users"], ne, zipf).astype(np.int64)),
        "event_type": pa.array(_pick(r, EVENT_TYPES, ne), pa.string()),
        "value": pa.array(_money(np.minimum(500.0, np.exp(r.normal(3.54, 1.0, ne))))),
        "props": pa.array(['{"k": %d}' % k for k in r.integers(0, 100, ne)], pa.string())}

    out["documents"] = _documents(_rng(seed, "documents"), n["documents"], zipf)
    out["embeddings"] = _embeddings(_rng(seed, "embeddings"), n["embeddings"])
    return out


def schema_of(directory):
    """{table: [[column, type], ...]} of the parquet files in `directory`."""
    return {t: [[f.name, str(f.type)] for f in pq.read_schema(os.path.join(directory, t + ".parquet"))]
            for t in TABLES}


def expected_schema():
    with open(os.path.join(HERE, "schema.json")) as f:
        return json.load(f)


def write(out_dir, seed, mode, sf):
    """Generate into `out_dir` (replaced) and check names and types."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, cols in tables(seed, mode, sf).items():
        pq.write_table(pa.table(cols), os.path.join(tmp, name + ".parquet"))
    got, want = schema_of(tmp), expected_schema()
    if got != want:
        bad = [t for t in TABLES if got.get(t) != want.get(t)]
        raise RuntimeError("generated schema differs from schema.json in %s" % bad)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def _version():
    """Digest of this generator and its schema, so a changed generator
    never reuses tables an older one wrote."""
    h = hashlib.sha256()
    for name in ("gen.py", "schema.json"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure(cache_root, seed, mode, sf):
    """The data directory for (seed, mode, sf), generated once and reused."""
    out = os.path.join(cache_root, "%s-sf%s-seed%d-%s" % (mode, sf, seed, _version()))
    if not all(os.path.exists(os.path.join(out, t + ".parquet")) for t in TABLES):
        write(out, seed, mode, sf)
    return out


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--schema-of":
        print(json.dumps(schema_of(sys.argv[2]), indent=1))
    elif len(sys.argv) == 5:
        write(sys.argv[1], int(sys.argv[2]), sys.argv[3], float(sys.argv[4]))
    else:
        sys.exit(__doc__)

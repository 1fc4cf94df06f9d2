"""Seeded input generator for the graft benchmark.

Everything a workload reads is made here from the workload seed, under
``perfbench/.inputs/seed_<n>/<part>/`` and nowhere else, cached per seed
and part so generation stays out of every timed phase. Each part draws
from its own stream of the seed, so parts are independent:

* ``sf``   (dash_olap) TPC-H-ish star schema plus events in the shape of
           the repository's test data (same columns, types and value
           ranges; pyarrow-written parquet like that data, so ``events.ts``
           is a tz-naive microsecond timestamp, as in sf0.1's
           events.parquet) at sf0.01, and ``dash_mix.json``, the skewed
           query sequence the clients share.
* ``feed`` (corpus_stream, and the kernel probes of every traced run)
           the documents feed: 10 perturbed replicas of a 5,000-document
           base, in arrival order and cut into micro-batches, each batch
           with a planted exact and near copy of earlier documents.

Each part records the rows and bytes of its inputs in its manifest.json.

Replica perturbation follows BenchScale's rule (one transformation per
replica, ids offset by replica x 1e8, a replica tag token) so that a 10x
feed does not turn every document into a 10-member duplicate cluster.
BenchScale rotates every vowel; here only content words change (each
gets a replica-specific suffix) because the corpus gate's language id
keys on stopwords, and rotated stopwords would gate every replica out.
"""
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

OFF = 100_000_000
REPLICAS = 10
BASE_DOCS = 5_000
BATCH_DOCS = 500
COPY_KINDS = ("exact", "near")  # planted copies per batch
DASH_OPS = 20_000
DASH_BLOCK = 40
# dash_olap's tables are sf0.01-sized: small enough that per-query fixed
# cost (planning, scheduling, shuffle-partition count) dominates.
DASH_SF = 0.01

# dash_olap's dashboard: registry queries from the relational and
# wrangling groups that carry oracle SQL, most popular first. Twelve, so
# that warming each once stays a small part of set-up; they span scans,
# aggregation, joins, windows, rollups, semi-joins, time buckets, JSON
# and regex extraction, unpivot/pivot, and the EPE Shape-B and full EPE
# pipelines (the `operators.Reshape` and `pipeline` layers).
DASH_QUERIES = [
    "q1_agg", "q_pushdown_scan", "q_join_pricing", "q_rollup",
    "q_semi_anti", "q_time_buckets", "q_topn_per_group", "q_json_extract",
    "q_unpivot", "q_epe_shape_b", "q_regex_filter", "q_epe_pipeline",
]
SF_TABLES = ["region", "nation", "customer", "supplier", "part",
             "orders", "lineitem", "events"]

STOP = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"]
CONTENT = [
    "spark", "batch", "stream", "query", "table", "column", "row", "join",
    "hash", "sort", "merge", "window", "filter", "group", "agg", "value",
    "key", "part", "order", "line", "scan", "data", "vector", "customer",
    "fast", "slow", "big", "small", "shuffle", "sketch", "index", "plan",
    "stage", "task", "cache", "spill", "writer", "reader", "schema", "file",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "screw", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts(rng, n, lo, hi):
    """n uniform midnight timestamps in [lo, hi]."""
    lo_d = np.datetime64(lo, "D")
    days = (np.datetime64(hi, "D") - lo_d).astype(int)
    return (lo_d + rng.integers(0, days + 1, n)).astype("datetime64[us]")


def _write(df, path, row_group=None):
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, row_group_size=row_group)


def _orders(rng, n, n_cust):
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _ts(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n)})


def _sf_tables(rng, sf):
    """The star schema at scale factor `sf` (sf0.1: 600,000 lineitems)."""
    n_cust, n_supp, n_part, n_ord, n_li, n_ev = (
        int(n * sf / 0.1) for n in (15_000, 1_000, 20_000, 150_000, 600_000, 100_000))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    t["orders"] = _orders(rng, n_ord, n_cust)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, "1995-01-02", "2001-11-04")})
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1_500, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(100.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return t


def _doc(rng):
    """One document: 12..90 tokens, about a fifth of them stopwords."""
    n = int(rng.integers(12, 91))
    words = np.where(rng.random(n) < 0.2,
                     np.array(STOP)[rng.integers(0, len(STOP), n)],
                     np.array(CONTENT)[rng.integers(0, len(CONTENT), n)])
    return " ".join(words)


def _perturb(text, replica):
    """Replica transformation: tag token + replica-specific content words."""
    suffix = "" if replica == 0 else "qwxzjvkyhb"[replica - 1]
    words = [w if w in STOP else w + suffix for w in text.split(" ")]
    return f"r{replica} " + " ".join(words)


def _feed(rng):
    """Arrival-ordered documents feed with planted duplicates, cut into
    micro-batches of BATCH_DOCS.

    Each of the 10 replicas contributes the 5,000 base documents,
    perturbed; 3% of documents are junk (no stopwords, six tokens) that
    the quality gate rejects. From batch 2 on, every batch also carries
    one EXACT copy and one NEAR copy (one token swapped) of documents of
    the batch two before it, each with a fresh, larger id, at seeded
    positions. corpus_stream's two streams take alternate batches, so
    the originals are in the same stream's previous batch. The same
    count in every batch gives every batch the same dedup work whatever
    the seed; copies placed at random made some batches run the
    clustering tier and others not.
    """
    base = [_doc(rng) for _ in range(BASE_DOCS)]
    rows = []
    for r in range(REPLICAS):
        for i, text in enumerate(base):
            junk = rng.random() < 0.03
            if junk:
                text = " ".join(rng.choice(["zzq", "@@", "1234", "xk"], 6))
            rows.append((r * OFF + i, _perturb(text, r), f"src{i % 20}", junk))
    rows = [rows[i] for i in rng.permutation(len(rows))]
    per = BATCH_DOCS - len(COPY_KINDS)
    batches = [rows[i:i + per] for i in range(0, len(rows), per)]
    next_id = REPLICAS * OFF
    merged = []
    for b, batch in enumerate(batches):
        batch = [(d, t, src, "orig", -1) for d, t, src, _ in batch]
        if b >= 2:
            originals = [x for x in batches[b - 2] if not x[3]]
            picks = rng.choice(len(originals), len(COPY_KINDS), replace=False)
            for kind, k in zip(COPY_KINDS, picks):
                doc_id, text, src, _ = originals[k]
                if kind == "near":
                    toks = text.split(" ")
                    toks[int(rng.integers(1, len(toks)))] = CONTENT[int(rng.integers(0, len(CONTENT)))] + "n"
                    text = " ".join(toks)
                batch.insert(int(rng.integers(0, len(batch) + 1)), (next_id, text, src, kind, doc_id))
                next_id += 1
        merged.extend(row + (b,) for row in batch)
    df = pd.DataFrame(merged, columns=["doc_id", "text", "source", "planted", "orig_id", "batch"])
    df["doc_id"] = df["doc_id"].astype(np.int64)
    df["orig_id"] = df["orig_id"].astype(np.int64)
    df["batch"] = df["batch"].astype(np.int32)
    return df


def _dash_mix(rng):
    """The dashboard's op sequence, shared by all clients (each takes the
    next op). Popularity is Zipf(1.0) over DASH_QUERIES in list order, the
    same for every seed. The sequence is made of blocks of DASH_BLOCK ops
    that hold each query in its exact share, shuffled by the seed, so any
    run sees the same mix and the seed decides only the order.
    """
    w = 1.0 / np.arange(1, len(DASH_QUERIES) + 1)
    w *= DASH_BLOCK / w.sum()
    counts = np.floor(w).astype(int)
    counts[np.argsort(counts - w)[:DASH_BLOCK - counts.sum()]] += 1  # largest remainders
    block = np.repeat(DASH_QUERIES, counts)
    seq = np.concatenate([rng.permutation(block) for _ in range(DASH_OPS // DASH_BLOCK)])
    return {"queries": DASH_QUERIES, "block": dict(zip(DASH_QUERIES, counts.tolist())),
            "sequence": seq.tolist()}


def _size(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _make_sf(rng, tmp):
    tables = _sf_tables(rng, DASH_SF)
    os.makedirs(os.path.join(tmp, "sf"))
    inputs = {}
    for name in SF_TABLES:
        p = os.path.join(tmp, "sf", f"{name}.parquet")
        _write(tables[name], p)
        inputs[f"sf/{name}"] = {"rows": len(tables[name]), "bytes": _size(p)}
    with open(os.path.join(tmp, "dash_mix.json"), "w") as f:
        json.dump(_dash_mix(rng), f)
    return inputs


def _make_feed(rng, tmp):
    feed = _feed(rng)
    p = os.path.join(tmp, "feed.parquet")
    _write(feed, p, row_group=BATCH_DOCS * 4)
    return {"feed": {"rows": len(feed), "bytes": _size(p),
                     "batches": int(feed["batch"].max()) + 1,
                     "exact_copies": int((feed.planted == "exact").sum()),
                     "near_copies": int((feed.planted == "near").sum())}}


# part -> (generator, index in the seed sequence); parts are independent
PARTS = {"sf": (_make_sf, 0), "feed": (_make_feed, 2)}


def generate(root, seed, parts):
    """Make (or reuse) the named input parts for `seed` under
    root/seed_<seed>/<part>/ and return (dirs by part, merged manifest).
    """
    dirs, inputs = {}, {}
    for part in parts:
        make, k = PARTS[part]
        out = os.path.join(root, f"seed_{seed}", part)
        manifest = os.path.join(out, "manifest.json")
        if not os.path.exists(manifest):
            tmp = out + ".tmp"
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            os.makedirs(tmp)
            got = make(np.random.default_rng([seed, k]), tmp)
            with open(os.path.join(tmp, "manifest.json"), "w") as f:
                json.dump(got, f, indent=1)
            os.replace(tmp, out)
        with open(manifest) as f:
            inputs.update(json.load(f))
        dirs[part] = out
    return dirs, inputs

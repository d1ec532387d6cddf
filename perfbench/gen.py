"""Seeded input generator for the perfbench workloads.

The engine only ever sees the files written here. The same seed gives the
same files, byte for byte. run.py imports the two writers:

`gen_stream` writes the paper's two keyed event streams, `displays/` and
`clicks/` (and `warmup/`, their first event-second alone), one parquet
file per event-second, each file's mtime one second
after the previous one, so the file source replays them in event order.
Rows are (key string, value string, ts timestamp-UTC); value is a JSON
payload carrying a unique event id. The last file of each stream also
holds a sentinel row (a key that joins nothing, ts far past the last
event): it pushes the watermark beyond every real event, so the engine's
closing no-data batch makes each display's outcome final.

`gen_tables` writes the ten batch tables (region ... embeddings) with the
schemas `graft.Tables` reads.
"""
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Stream parameters: RATE displays per event-second over SECONDS
# event-seconds, keys drawn uniformly from KEYS. W (WINDOW_S) is the join
# window and WATERMARK_S the watermark delay; run.py passes both to the
# engine and W to the DuckDB reference. Every click lands in
# [display.ts, display.ts + MAX_DELAY_S), so about half the clicks fall
# outside W. LATE_FRAC of the rows of each second are written one file
# later than their own event-second: out of order, but by less than one
# second, inside the WATERMARK_S delay.
STREAM = dict(keys=100_000, seconds=2, rate=10_000, click_prob=0.3, window_s=1.0,
              max_delay_s=2.0, late_frac=0.1, watermark_s=2.0,
              t0="2024-01-01T00:00:00")
SENTINEL_GAP_S = 10
STREAM_SCHEMA = pa.schema([("key", pa.string()), ("value", pa.string()),
                           ("ts", pa.timestamp("us", tz="UTC"))])


def _write_files(d, files, sentinel):
    """One parquet file per entry, mtimes one second apart; the sentinel
    row goes into the last file."""
    os.makedirs(d, exist_ok=True)
    mtime0 = 1_700_000_000
    for f, (k, v, t) in enumerate(files):
        k, v, t = k.tolist(), v.tolist(), t.tolist()
        if f == len(files) - 1:
            k, v, t = k + [sentinel[0]], v + [sentinel[1]], t + [sentinel[2]]
        path = os.path.join(d, f"part-{f:05d}.parquet")
        pq.write_table(pa.table({"key": k, "value": v,
                                 "ts": pa.array(t, pa.timestamp("us", tz="UTC"))},
                                schema=STREAM_SCHEMA), path)
        os.utime(path, (mtime0 + f, mtime0 + f))


def gen_stream(out, seed):
    """Write displays/ and clicks/; return the generator's summary."""
    p = STREAM
    rate = p["rate"]
    rng = np.random.default_rng(seed)
    t0_us = int(pd.Timestamp(p["t0"], tz="UTC").value // 1000)
    n_disp = rate * p["seconds"]
    d_sec = np.repeat(np.arange(p["seconds"]), rate)
    d_ts = t0_us + d_sec * 1_000_000 + rng.integers(0, 1_000_000, n_disp)
    d_key = rng.integers(0, p["keys"], n_disp)
    clicked = rng.random(n_disp) < p["click_prob"]
    c_ts = d_ts[clicked] + rng.integers(0, int(p["max_delay_s"] * 1e6),
                                        int(clicked.sum()))
    c_key = d_key[clicked]
    n_click = len(c_ts)
    streams = {
        "displays": (d_key, d_ts, np.arange(n_disp), "display"),
        "clicks": (c_key, c_ts, n_disp + np.arange(n_click), "click"),
    }
    n_files = p["seconds"] + int(p["max_delay_s"])
    sentinel_ts = t0_us + (n_files + SENTINEL_GAP_S) * 1_000_000
    for name, (key, ts, ids, kind) in streams.items():
        sec = (ts - t0_us) // 1_000_000
        late = rng.random(len(ts)) < p["late_frac"]
        file_of = np.minimum(sec + late, n_files - 1)
        keys = np.char.add("k", key.astype(str))
        vals = np.char.add(np.char.add(f'{{"type":"{kind}","id":', ids.astype(str)), "}")
        sentinel = (f"~sentinel-{kind}", '{"type":"sentinel","id":-1}', sentinel_ts)
        files = [(keys[file_of == f], vals[file_of == f], ts[file_of == f])
                 for f in range(n_files)]
        _write_files(os.path.join(out, name), files, sentinel)
        # the untimed warm-up replays the first event-second alone
        _write_files(os.path.join(out, "warmup", name), files[:1], sentinel)
    return dict(p, seed=seed, displays=n_disp, clicks=n_click,
                files_per_stream=n_files)


WORDS = ("alpha bravo cache delta event frame graph index join kernel "
         "lattice merge node offset probe query range shard token union "
         "vector batch stream window table row key sort hash scan a the").split()
LANGS = (["en"] * 44 + ["zh"] * 14 + ["es"] * 14 + ["de"] * 14 + ["fr"] * 14)


def _dates(rng, n, lo, hi):
    days = rng.integers(0, (pd.Timestamp(hi) - pd.Timestamp(lo)).days + 1, n)
    return (pd.Timestamp(lo) + pd.to_timedelta(days, "D")).values.astype("datetime64[us]")


def gen_tables(out, seed, sf):
    """Write the ten batch tables at scale factor `sf`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = dict(customer=int(150_000 * sf), supplier=max(int(10_000 * sf), 10),
             part=int(200_000 * sf), orders=int(1_500_000 * sf),
             lineitem=int(6_000_000 * sf), events=int(1_000_000 * sf),
             users=max(int(15_000 * sf), 20), documents=int(50_000 * sf),
             embeddings=int(50_000 * sf))
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    nc = n["customer"]
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    ns = n["supplier"]
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    np_ = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 2)})
    no = n["orders"]
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _dates(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _dates(rng, nl, "1995-01-02", "2001-11-04")})
    ne = n["events"]
    start = pd.Timestamp("2024-01-01").value // 1000
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, ne))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.maximum(np.round(rng.exponential(50, ne), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_chars = int(rng.integers(48, 554))
        words = rng.choice(WORDS, n_chars // 3)
        texts.append(" ".join(words)[:n_chars].rstrip())
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, nd), "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    vec = centers[labels] + rng.normal(scale=1.5, size=(nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    for name, df in t.items():
        table = df if isinstance(df, pa.Table) else pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return dict(seed=seed, sf=sf, rows={k: len(v) for k, v in t.items()})


"""Seeded input generator for the graft benchmark.

Writes TPC-H-shaped tables plus `events`, `documents` and `embeddings`
(the same names, columns and types as the engine's test fixtures) as
single parquet files, and optionally a sequence of stream tick files.
The same seed always gives the same rows.

Tables are synthesized rather than copied so that the benchmark needs
nothing outside its checkout: row counts scale with `sf` exactly as the
fixtures do (lineitem = 6M x sf), keys are dense (0..n-1) so the gates'
oracles hold, and the seed drives every value a row draws, foreign keys
included.
"""
import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter big query key window row table stream "
         "merge data vector join index plan cache shuffle task stage").split()
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"], dtype=object)
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], dtype=object)
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"], dtype=object)
ADJ = np.array(["large", "hot", "blue", "old", "cold", "red", "green", "dark"], dtype=object)
NOUN = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe"], dtype=object)
LANGS = np.array(["fr", "en", "zh", "de", "es"], dtype=object)
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _days(start, n_days, rng, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _write(table, path):
    pq.write_table(table, path, compression="snappy")
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _texts(rng, n, lo, hi, dup_share):
    """Word-salad documents; `dup_share` of them are near-copies of an
    earlier one with a few words replaced (what the n-gram dedup finds)."""
    lens = rng.integers(lo, hi, n)
    words = np.array(WORDS, dtype=object)
    out = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    dups = np.nonzero(rng.random(n) < dup_share)[0]
    for i in dups[dups > 0]:
        src = out[int(rng.integers(0, i))].split(" ")
        for _ in range(max(1, len(src) // 25)):
            src[int(rng.integers(0, len(src)))] = str(words[rng.integers(0, len(words))])
        out[i] = " ".join(src)
    return np.array(out, dtype=object)


def events_table(rng, n, n_users, start, span_s, first_id=0):
    ts = np.sort(start + (rng.random(n) * span_s * 1e6).astype("timedelta64[us]"))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}").astype(object), pa.string()),
    })


def tables(seed, sf, out_dir):
    """Write every batch table under `out_dir`; returns {table: {rows, bytes}}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    info = {}
    info["region"] = _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        f"{out_dir}/region.parquet")
    info["nation"] = _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        f"{out_dir}/nation.parquet")
    ck = np.arange(n_cust, dtype=np.int64)
    info["customer"] = _write(pa.table({
        "c_custkey": pa.array(ck),
        "c_name": pa.array(np.char.add("Customer#", np.char.zfill(ck.astype(str), 9)).astype(object), pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)], pa.string())}),
        f"{out_dir}/customer.parquet")
    sk = np.arange(n_supp, dtype=np.int64)
    info["supplier"] = _write(pa.table({
        "s_suppkey": pa.array(sk),
        "s_name": pa.array(np.char.add("Supplier#", np.char.zfill(sk.astype(str), 9)).astype(object), pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))}),
        f"{out_dir}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    info["part"] = _write(pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(np.char.add(ADJ[rng.integers(0, len(ADJ), n_part)].astype(str), " "),
                                       NOUN[rng.integers(0, len(NOUN), n_part)].astype(str)).astype(object), pa.string()),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object), pa.string()),
        "p_type": pa.array(PTYPES[rng.integers(0, len(PTYPES), n_part)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2))}),
        f"{out_dir}/part.parquet")
    info["orders"] = _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"], dtype=object)[rng.integers(0, 3, n_ord)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(_days("1995-01-01", 2404, rng, n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)], pa.string())}),
        f"{out_dir}/orders.parquet")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    info["lineitem"] = _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["N", "A", "R"], dtype=object)[rng.integers(0, 3, n_li)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)], pa.string()),
        "l_shipdate": pa.array(_days("1995-01-02", 2498, rng, n_li), pa.timestamp("us"))}),
        f"{out_dir}/lineitem.parquet")
    info["events"] = _write(events_table(rng, n_ev, max(150, int(15000 * sf)), EPOCH_2024, 30 * 86400),
                            f"{out_dir}/events.parquet")
    text = _texts(rng, n_doc, 10, 90, 0.05)
    info["documents"] = _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(LANGS[rng.integers(0, 5, n_doc)], pa.string()),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n_doc).astype(str)).astype(object), pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64))}),
        f"{out_dir}/documents.parquet")
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centers[label] + rng.normal(0.0, 0.6, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    info["embeddings"] = _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))}),
        f"{out_dir}/embeddings.parquet")
    return info


def stream_ticks(seed, n_ticks, ev_per_tick, docs_per_tick, slice_s, late_share, out_dir):
    """One events file and one documents file per tick, each a seeded
    event-time slice of `slice_s` seconds. `late_share` of a slice's
    events are held back and shipped with the next tick (bounded
    out-of-order data: at most one slice late). Returns per-tick info."""
    rng = np.random.default_rng(seed + 7919)
    os.makedirs(f"{out_dir}/events", exist_ok=True)
    os.makedirs(f"{out_dir}/docs", exist_ok=True)
    held, ticks = None, []
    words_start = np.datetime64("2024-02-01T00:00:00", "us")
    for t in range(n_ticks):
        start = EPOCH_2024 + np.timedelta64(int(t * slice_s * 1e6), "us")
        ev = events_table(rng, ev_per_tick, 300, start, slice_s, first_id=t * ev_per_tick)
        late = rng.random(ev_per_tick) < late_share
        if t == n_ticks - 1:
            late[:] = False
        keep = ev.filter(pa.array(~late))
        if held is not None:
            keep = pa.concat_tables([held, keep])
        held = ev.filter(pa.array(late))
        ev_info = _write(keep, f"{out_dir}/events/t{t:05d}.parquet")
        ids = np.arange(t * docs_per_tick, (t + 1) * docs_per_tick, dtype=np.int64)
        text = _texts(rng, docs_per_tick, 12, 40, 0.15)
        docs = pa.table({
            "doc_id": pa.array(ids),
            "text": pa.array(text, pa.string()),
            "ts": pa.array(words_start + (ids * 1_000_000).astype("timedelta64[us]"), pa.timestamp("us"))})
        d_info = _write(docs, f"{out_dir}/docs/t{t:05d}.parquet")
        ticks.append({"events_rows": ev_info["rows"], "events_bytes": ev_info["bytes"],
                      "docs_rows": d_info["rows"], "docs_bytes": d_info["bytes"]})
    return ticks

"""Seeded input generators. The same seed and sizes give byte-identical
parquet inputs (pinned by tests/test_gen.py), so every workload's inputs
are a pure function of ``--seed``."""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Version timestamps are BASE + slot * SLOT_US + row_id seconds, with
# row_id < 1e6 < SLOT_US / 1e6: every generated row owns a distinct offset
# inside its slot, so (key, ts) is unique per key by construction.
BASE_US = 1_577_836_800 * 1_000_000  # 2020-01-01 00:00:00 UTC
SLOT_S = 1_000_000
TS = pa.timestamp("us", tz="UTC")

# scd2_ingest sizes: KEYS keys x VERSIONS versions of history, then a fixed
# sequence of BATCHES batches of BATCH_ROWS rows (a fifth of the keys each).
INGEST = dict(keys=10_000, versions=5, batches=48, batch_rows=2_000,
              backdated=0.3, deleted=0.02)
# asof_read sizes: DIM_ROWS version rows over DIM_KEYS Zipf-skewed keys
# (85% initial load, a 15% merge that re-slots history), FACTS facts.
ASOF = dict(dim_keys=10_000, dim_rows=60_000, facts=150_000, slots=64,
            zipf=1.2, deleted=0.02)


def _ts(slot, row_id):
    return pa.array(BASE_US + (slot * SLOT_S + row_id) * 1_000_000, TS)


def _payload(rng, n):
    return pc.binary_join_element_wise(
        "p", pa.array(rng.integers(0, 1 << 40, n)).cast(pa.string()), "")


def _deleted(rng, ts, share):
    mask = rng.random(len(ts)) < share
    return pc.if_else(pa.array(mask), ts, pa.nulls(len(ts), TS))


def _versions(rng, keys, slot, first_row_id, deleted):
    """One change-stream row per (key, slot): two low-cardinality change
    columns, an id and a payload excluded from change detection, and a
    ``deleted_at`` on a ``deleted`` share of rows."""
    n = len(keys)
    row_id = np.arange(first_row_id, first_row_id + n, dtype=np.int64)
    ts = _ts(slot, row_id)
    return pa.table({
        "key": pa.array(keys, pa.int64()),
        "_updated_at": ts,
        "tier": pa.array(rng.integers(0, 3, n), pa.int32()),
        "region": pa.array(rng.integers(0, 2, n), pa.int32()),
        "row_id": pa.array(row_id),
        "payload": _payload(rng, n),
        "deleted_at": _deleted(rng, ts, deleted),
    })


def _copy_successor_content(key, ts_s, batch, back, tier, region, dele, batches):
    """Give each back-dated row the change content of the row that follows
    it in its key's input timeline as of its arrival (batch order). A copy
    of a delete is a delete at the row's own time (``deleted_at`` must equal
    the version's start), so deletes stay unique and are never dropped.

    A back-dated row then either repeats its successor (which collapses as
    a redundant version) or is itself redundant, and it can never revive an
    earlier input row that a merge dropped as unchanged. That keeps
    "incremental merges == one full refresh over the same rows" exact for
    every prefix of the batch sequence while collapse fires on most
    back-dated rows. A back-dated row with no successor keeps its own."""
    order = np.lexsort((ts_s, key))
    ks, bs, backs, tss = key[order], batch[order], back[order], ts_s[order]
    cs = [tier[order], region[order], dele[order]]
    for b in range(batches):
        sel = np.nonzero(bs <= b)[0]
        kk = ks[sel]
        last = np.append(kk[1:] != kk[:-1], True)
        fixed = ~((bs[sel] == b) & backs[sel]) | last
        n = len(sel)
        nxt = np.minimum.accumulate(np.where(fixed, np.arange(n), n)[::-1])[::-1]
        p = np.nonzero(~fixed)[0]
        src, dst = sel[nxt[p + 1]], sel[p]
        cs[0][dst] = cs[0][src]
        cs[1][dst] = cs[1][src]
        cs[2][dst] = np.where(cs[2][src] >= 0, tss[dst], -1)
    out = [np.empty_like(c) for c in cs]
    for o, c in zip(out, cs):
        o[order] = c
    return out


def ingest_tables(seed, keys, versions, batches, batch_rows, backdated,
                  deleted):
    """(initial history, batches with a ``batch`` column). Initial versions
    sit in even slots; a batch's rows land in a fresh even slot, or, for a
    ``backdated`` share, in an odd slot between existing versions."""
    rng = np.random.default_rng([seed, 1])
    n0 = keys * versions
    key = [np.repeat(np.arange(keys, dtype=np.int64), versions)]
    slot = [np.tile(np.arange(versions, dtype=np.int64) * 2, keys)]
    batch = [np.full(n0, -1)]
    back = [np.zeros(n0, bool)]
    for b in range(batches):
        bk = rng.integers(0, keys, batch_rows)
        bb = rng.random(batch_rows) < backdated
        key.append(bk)
        slot.append(np.where(bb, 2 * rng.integers(0, versions + b, batch_rows) + 1,
                             2 * (versions + b)))
        batch.append(np.full(batch_rows, b))
        back.append(bb)
    key, slot, batch, back = (np.concatenate(x) for x in (key, slot, batch, back))
    n = len(key)
    row_id = np.arange(n, dtype=np.int64)
    ts_s = slot * SLOT_S + row_id
    tier = rng.integers(0, 3, n)
    region = rng.integers(0, 2, n)
    dele = np.where(rng.random(n) < deleted, ts_s, -1)
    tier, region, dele = _copy_successor_content(key, ts_s, batch, back,
                                                 tier, region, dele, batches)
    ts = pa.array(BASE_US + ts_s * 1_000_000, TS)
    del_us = pa.array(BASE_US + dele * 1_000_000, TS)
    table = pa.table({
        "key": pa.array(key),
        "_updated_at": ts,
        "tier": pa.array(tier, pa.int32()),
        "region": pa.array(region, pa.int32()),
        "row_id": pa.array(row_id),
        "payload": _payload(rng, n),
        "deleted_at": pc.if_else(pa.array(dele >= 0), del_us, pa.nulls(n, TS)),
        "batch": pa.array(batch, pa.int32()),
    })
    return (table.slice(0, n0).drop_columns(["batch"]), table.slice(n0))


def _zipf_keys(rng, n, keys, s):
    p = 1.0 / np.arange(1, keys + 1) ** s
    return rng.choice(keys, n, p=p / p.sum()).astype(np.int64)


def asof_tables(seed, dim_keys, dim_rows, facts, slots, zipf, deleted):
    """(dimension change stream with a ``batch`` column 0/1, facts). Keys
    are Zipf-skewed on both sides, so hot keys carry long version chains and
    many facts; fact times span the dimension's whole history."""
    rng = np.random.default_rng([seed, 2])
    dk = _zipf_keys(rng, dim_rows, dim_keys, zipf)
    # every key gets a first version in slot 0 so fact lookups mostly hit
    dk[:dim_keys] = np.arange(dim_keys)
    slot = rng.integers(1, slots, dim_rows)
    slot[:dim_keys] = 0
    dim = _versions(rng, dk, slot, 0, deleted)
    batch = (rng.random(dim_rows) >= 0.85).astype(np.int32)
    batch[:dim_keys] = 0
    dim = dim.append_column("batch", pa.array(batch, pa.int32()))
    fts = BASE_US + rng.integers(0, slots * SLOT_S * 1_000_000, facts)
    fact = pa.table({
        "fact_id": pa.array(np.arange(facts, dtype=np.int64)),
        "key": pa.array(_zipf_keys(rng, facts, dim_keys, zipf)),
        "fts": pa.array(fts, TS),
        "amount": pa.array(np.round(rng.exponential(50.0, facts), 2)),
    })
    return dim, fact


# ---- driver_mix: the TPC-H-ish star schema plus events/documents/embeddings
# that SparkEntry.queries read, same column names, types and value domains.
WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
DAY_US = 86_400 * 1_000_000
NAIVE = pa.timestamp("us")


def _date_us(rng, n, start_days, span_days):
    return pa.array((start_days + rng.integers(0, span_days, n)) * DAY_US, NAIVE)


def star_tables(seed, sf):
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = 500, 500
    d1995 = 9131  # days 1970-01-01 -> 1995-01-01
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _date_us(rng, n_ord, d1995, 2400),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _date_us(rng, n_line, d1995, 2500)})
    gaps = rng.exponential(30 * DAY_US / n_ev, n_ev).astype(np.int64)
    ev_ts = 19723 * DAY_US + np.cumsum(gaps)  # from 2024-01-01
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, NAIVE),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_ev)),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    text = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
            for _ in range(n_doc)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": text,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in text], pa.int64())})
    emb = (rng.standard_normal((n_emb, 64)) * 0.125).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def write(table, path, partition=None):
    """Write deterministically: one file (or one file per partition value)."""
    if partition is None:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    col = table.column(partition).to_numpy()
    rest = table.drop_columns([partition])
    for v in np.unique(col):
        d = os.path.join(path, f"{partition}={v}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(rest.filter(pa.array(col == v)), os.path.join(d, "part-0.parquet"))


def fingerprint(tables):
    """sha256 over the tables' Arrow IPC bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()

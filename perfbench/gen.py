"""Seeded input generators for the three workloads.

Everything the program receives is made here from the workload seed, with
numpy's PCG64 generator, so the same seed always gives byte-identical
inputs. Stream inputs are written as raw little-endian column files that the
JVM harness maps straight into arrays; batch tables are parquet with the same
schemas as the project's star-schema testdata (region .. embeddings).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Stream key model. Keys live in a universe of UNIVERSE equipment ids; a
# workload's active keys are a seeded sample of it. Equipment is replicated
# in full (every universe key), shifts on demand (only keys the operational
# stream has shown), so the universe/active ratio is the share of shifts CDC
# the on-demand filter has to discard.
UNIVERSE = 20_000
SHIFT_NAMES = ("day", "night", "swing")

STREAM_SHAPES = {
    # open loop: fixed-rate ticks; latency is set by per-trigger fixed cost
    "stream_live": dict(
        active=200, zipf=1.1, new_key_share=0.02, tick_ms=100,
        events_per_tick=200, equip_cdc_per_tick=20, shift_cdc_per_tick=50,
        cdc_every_ticks=10, tail_ticks=10, flush_ticks=40, topic_chunk_ticks=10,
        lead_ticks=0),
    # closed loop: a backlog replayed in large fixed batches; per-row work.
    # The backlog holds about --seconds of triggers at the nominal trigger
    # time of a 4-core box, and is replayed in full however long that takes.
    # Its first `lead_ticks` triggers are replayed untimed, after set-up: the
    # first full-size trigger of a JVM runs up to a quarter slower than the
    # later ones while the JIT catches up.
    "stream_catchup": dict(
        active=1_000, zipf=1.1, new_key_share=0.02, tick_ms=0,
        events_per_tick=50_000, equip_cdc_per_tick=5_000,
        shift_cdc_per_tick=20_000, cdc_every_ticks=1, tail_ticks=0, flush_ticks=40,
        topic_chunk_ticks=1, nominal_trigger_s=3.0, lead_ticks=1),
}


def planned_of(keys):
    """Planned rate per equipment key; fixed across CDC versions so the
    enriched output's checksum does not depend on trigger timing."""
    return 20.0 + (keys * 7919 % 80).astype(np.float64)


def shift_of(keys):
    return (keys % len(SHIFT_NAMES)).astype(np.int64)


def stream_inputs(workload, seed, ticks):
    """Column arrays for `ticks` data ticks plus the flush ticks.

    Tick 0 is the warm-up tick: one event per active key, so every active
    key is registered and back-filled during set-up. Ticks 1..ticks carry
    the workload's events; after them come `flush_ticks` one-event ticks the
    harness ingests only while parked events remain.
    """
    shape = STREAM_SHAPES[workload]
    rng = np.random.Generator(np.random.PCG64(seed))
    universe = np.arange(UNIVERSE, dtype=np.int64)
    perm = rng.permutation(universe)
    active = np.sort(perm[:shape["active"]])
    fresh = perm[shape["active"]:]  # never-seen keys, used once each, in order
    weights = 1.0 / np.arange(1, len(active) + 1) ** shape["zipf"]
    weights /= weights.sum()
    ranked = rng.permutation(active)  # which active key gets which Zipf rank

    ev_key, ev_tick, ev_qty, ev_new, tick_off = [], [], [], [], [0]
    fresh_used = 0
    n_flush = shape["flush_ticks"]
    for t in range(ticks + 1 + n_flush):
        if t == 0:
            keys = active.copy()
            new = np.zeros(len(keys), dtype=np.int64)
        elif t > ticks:
            keys = ranked[:1].copy()
            new = np.zeros(1, dtype=np.int64)
        else:
            n = shape["events_per_tick"]
            keys = ranked[rng.choice(len(ranked), size=n, p=weights)]
            new = (rng.random(n) < shape["new_key_share"]).astype(np.int64)
            k = int(new.sum())
            keys[new == 1] = fresh[fresh_used:fresh_used + k]
            fresh_used += k
        ev_key.append(keys)
        ev_tick.append(np.full(len(keys), t, dtype=np.int64))
        ev_qty.append(rng.integers(1, 101, size=len(keys)).astype(np.float64))
        ev_new.append(new)
        tick_off.append(tick_off[-1] + len(keys))

    # CDC: ord is one global counter, so every (key, ord) is unique and the
    # newest-wins fold has no ties; the initial versions all carry ord 1.
    ord_next = 2
    eq_key, eq_ord, eq_line, eq_off = [], [], [], [0]
    sh_key, sh_ord, sh_crew, sh_off = [], [], [], [0]
    for t in range(ticks + 1 + n_flush):
        churn = 1 <= t <= ticks and t % shape["cdc_every_ticks"] == 0
        n_eq = shape["equip_cdc_per_tick"] * shape["cdc_every_ticks"] if churn else 0
        n_sh = shape["shift_cdc_per_tick"] * shape["cdc_every_ticks"] if churn else 0
        k = active[rng.integers(0, len(active), size=n_eq)]
        eq_key.append(k)
        eq_ord.append(np.arange(ord_next, ord_next + n_eq, dtype=np.int64))
        ord_next += n_eq
        eq_line.append(rng.integers(0, 5, size=n_eq).astype(np.int64))
        eq_off.append(eq_off[-1] + n_eq)
        k = rng.integers(0, UNIVERSE, size=n_sh).astype(np.int64)
        sh_key.append(k)
        sh_ord.append(np.arange(ord_next, ord_next + n_sh, dtype=np.int64))
        ord_next += n_sh
        sh_crew.append(rng.integers(0, 10, size=n_sh).astype(np.int64))
        sh_off.append(sh_off[-1] + n_sh)

    ev_key = np.concatenate(ev_key)
    cols = {
        "ev_eid": np.arange(len(ev_key), dtype=np.int64),
        "ev_key": ev_key,
        "ev_tick": np.concatenate(ev_tick),
        "ev_qty": np.concatenate(ev_qty),
        "ev_new": np.concatenate(ev_new),
        "tick_off": np.asarray(tick_off, dtype=np.int64),
        "eq_key": np.concatenate(eq_key),
        "eq_ord": np.concatenate(eq_ord),
        "eq_line": np.concatenate(eq_line),
        "eq_off": np.asarray(eq_off, dtype=np.int64),
        "sh_key": np.concatenate(sh_key),
        "sh_ord": np.concatenate(sh_ord),
        "sh_crew": np.concatenate(sh_crew),
        "sh_off": np.asarray(sh_off, dtype=np.int64),
        # initial versions: equipment load (every key) and the compacted
        # shifts topic the on-demand back-fill reads
        "init_key": universe,
        "init_line": rng.integers(0, 5, size=UNIVERSE).astype(np.int64),
        "init_crew": rng.integers(0, 10, size=UNIVERSE).astype(np.int64),
    }
    meta = dict(shape, workload=workload, seed=seed, ticks=ticks,
                universe=UNIVERSE, shift_names=list(SHIFT_NAMES))
    return cols, meta


def write_stream_inputs(out_dir, workload, seed, ticks):
    cols, meta = stream_inputs(workload, seed, ticks)
    os.makedirs(out_dir, exist_ok=True)
    for name, arr in cols.items():
        arr.astype("<i8" if arr.dtype.kind == "i" else "<f8").tofile(
            os.path.join(out_dir, name + ".bin"))
    # The shifts topic as a compacted-topic reader sees it: a compacted base
    # (one version per key) plus the CDC log, in chunks of whole ticks.
    topic = os.path.join(out_dir, "topic")
    os.makedirs(topic, exist_ok=True)
    names = np.array(SHIFT_NAMES)

    def shifts(keys, ords, crews):
        return pa.table({"equip": keys, "ord": ords,
                         "shift": names[shift_of(keys)], "crew": crews})

    keys = cols["init_key"]
    pq.write_table(shifts(keys, np.ones(len(keys), np.int64), cols["init_crew"]),
                   os.path.join(topic, "base.parquet"))
    chunk, off = meta["topic_chunk_ticks"], cols["sh_off"]
    for first in range(1, ticks + 1, chunk):
        last = min(first + chunk - 1, ticks)
        lo, hi = off[first], off[last + 1]
        pq.write_table(shifts(cols["sh_key"][lo:hi], cols["sh_ord"][lo:hi],
                              cols["sh_crew"][lo:hi]),
                       os.path.join(topic, f"ticks-{first}-{last}.parquet"))
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f)
    return cols, meta


# ---------------------------------------------------------------- batch

BATCH_SCALE = 0.01  # lineitem ~60k rows: queries sit near the per-query floor
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def _ts_us(base, offsets_s):
    return pa.array((np.int64(base) + offsets_s.astype(np.int64)) * 1_000_000,
                    type=pa.timestamp("us"))


def batch_tables(seed, scale=BATCH_SCALE):
    """The star schema plus events/documents/embeddings, shaped like the
    project's testdata at the same scale factor."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_part, n_supp = int(150_000 * scale), int(200_000 * scale), int(10_000 * scale)
    n_ord, n_events = int(1_500_000 * scale), int(1_000_000 * scale)
    n_docs = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    day = 86_400
    d1995 = 788_918_400  # 1995-01-01 UTC

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array("small red blue hot old large new cold".split())
    noun = np.array("ring widget bolt gear gizmo plate anvil rod".split())
    ptype = np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())
    retail = np.round(900.0 + rng.integers(0, 1000, n_part) * 0.1, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptype[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})
    odate = d1995 + rng.integers(0, 2404, n_ord) * day
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts_us(0, odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    pkey = rng.integers(0, n_part, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey] * rng.uniform(0.02, 5.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(0, odate[okey] + rng.integers(1, 122, n_li) * day)})
    gaps = rng.exponential(259.0, n_events) + 1e-3
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array((1_704_067_200 * 1_000_000 + np.cumsum(gaps * 1e6)).astype(np.int64),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n_events // 66), n_events), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_events)],
        "value": np.round(np.maximum(rng.exponential(50.0, n_events), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, len(texts)))].split()
            cut = int(rng.integers(max(1, len(src) // 2), len(src) + 1))
            texts.append(" ".join(src[:cut] + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    langs = np.array(["de", "en", "es", "fr", "zh"])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, n_docs, p=[0.14, 0.44, 0.14, 0.13, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_batch_tables(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    tables = batch_tables(seed)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables

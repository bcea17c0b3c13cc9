#!/usr/bin/env python3
"""The repo benchmark: workloads over the graft engine's public API.
BENCHMARK.json gates stream_catchup and batch_mix; stream_live is kept
runnable for reference (NOTES.md says why it is not gated).

    python3 perfbench/run.py --workload <stream_live|stream_catchup|batch_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine's sources
(src/main/scala) and the harness (perfbench/scala) with the Scala compiler
shipped in Spark's jars into .bench_build/. Each run generates its inputs
from the seed, runs the JVM harness once (twice with --trace 1: untraced,
then traced, for the tracing overhead), checks the outputs and prints one
JSON result as the last line of stdout. The line before it is the run's full
record, including the box stamp. See NOTES.md for what each metric means.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import box  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
from stats import highest_percentile, self_times, weighted_percentile  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("stream_live", "stream_catchup", "batch_mix")
RUN_DEADLINE_S = 170  # a run must end within 180 s of its start, build aside

# At least one query per stratum of the query catalogue, plus enough cheap
# operator queries that the median query sits inside the per-query floor.
# One query per kernel family that pays a first-use cost (text, vectors), so
# that cost lands on the same query whatever the order. One first-submission
# sweep lasts about 18 s on a 4-core box.
BATCH_QUERIES = [
    # DataFrame operators: the per-query floor of planning, codegen, scheduling
    "q02_filter", "q08_running_max", "q09_semi_join", "q10_anti_join", "q13_json",
    "q16_group_agg", "q25_rollup", "q26_pivot",
    # enrichment, OEE and CDC operators
    "q03_enrich", "q04_dim_chain", "q06_oee", "q07_latest_by_key", "q12_cdc_upsert",
    "q17_window_agg",
    "q105_footer_prune",                    # sources + plans (footer-statistics pruning)
    "q101_cms_sql",                         # sketches
    "q23_quantiles",                        # statistics
    "d01_exact_dedup",                      # dedup
    "s01_ann_ivf",                          # search
    "t03_tokens_bpe",                       # text
    "m04_payload_neardup",                  # multimodal
    "c05_calibration",                      # compositions
]
# Run once, untimed, between set-up and the sweep: catalogue queries outside
# the sweep that share its joins, windows and sketches. Without them the first
# two queries of the sweep ran up to twice as slow as the same queries later.
BATCH_LEAD_QUERIES = ["q05_interval_join", "q31_rolling_range", "q100_hll_sql"]

# set-ups per untraced run; setup_s is their median. The first is the JVM's
# cold start, the second a warm rebuild of the session (and topology).
SETUP_REPS = 2

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        # the build's unmanagedBase names the Spark jars directory
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise BenchError("SPARK_HOME unset and build.sbt names no Spark jars")
        return m.group(1)
    return os.path.join(home, "jars")


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not engine:
        raise BenchError("no engine sources under src/main/scala: run from a repo checkout")
    jars = spark_jars()
    digest = hashlib.sha256()
    for p in engine + harness:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    cp = f"{classes}:{jars}/*"
    if os.path.exists(os.path.join(classes, ".done")):
        return cp
    for old in glob.glob(os.path.join(BUILD, "classes-*")):  # builds of other sources
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(engine + harness))
    log(f"compiling {len(engine)} engine + {len(harness)} harness sources")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-nowarn", "-classpath", f"{jars}/*", "-d", classes, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(classes, ".done"), "w").close()
    log(f"compiled in {time.time() - t0:.1f} s")
    return cp


# ---------------------------------------------------------------- JVM

def run_jvm(cp, workload, inputs, work, seconds, trace, cpus, queries, on_demand, trace_mode,
            deadline):
    """Run the harness in a fresh directory of its own (a checkpoint left by
    an earlier JVM would be restored by the next topology)."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.level=ERROR"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Main", "--workload", workload, "--inputs", inputs,
            "--work", work, "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cpus", str(cpus), "--queries", ",".join(queries), "--out", out,
            "--lead-queries", ",".join(BATCH_LEAD_QUERIES if queries else []),
            "--on-demand", "1" if on_demand else "0",
            # a traced run reports no set-up time, so it sets up once
            "--setup-reps", "1" if trace_mode else str(SETUP_REPS)])
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM/interrupt: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(logf) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"harness JVM failed ({rc}):\n{tail}")
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- stream metrics

def stream_expectations(cols, ticks):
    """Per (tick, new-key flag): count, sum eid, sum eid^2, sum performance,
    night-shift events, recomputed from the generated inputs."""
    off = cols["tick_off"]
    want = {}
    for t in ticks:
        sl = slice(off[t], off[t + 1])
        eid, key, nk = cols["ev_eid"][sl], cols["ev_key"][sl], cols["ev_new"][sl]
        perf = cols["ev_qty"][sl] / gen.planned_of(key)
        night = gen.shift_of(key) == gen.SHIFT_NAMES.index("night")
        for flag in (0, 1):
            m = nk == flag
            if m.any():
                want[(t, flag)] = (int(m.sum()), int(eid[m].sum()), int((eid[m] * eid[m]).sum()),
                                   float(perf[m].sum()), int(night[m].sum()))
    return want


def newest(keys, ords, vals):
    """Newest-wins fold: key -> (ord, val) of the highest ord."""
    order = np.lexsort((ords, keys))
    keys, ords, vals = keys[order], ords[order], vals[order]
    last = np.r_[keys[1:] != keys[:-1], True]
    return keys[last], ords[last], vals[last]


def mismatched(got, want, cols):
    """Keys present on one side only, or differing in any of `cols`."""
    m = got.merge(want, on="equip", how="outer", suffixes=("_got", "_want"), indicator=True)
    bad = m["_merge"] != "both"
    for c in cols:
        bad |= m[c + "_got"] != m[c + "_want"]
    return int(bad.sum())


def dimension_gate(cols, ticks, states_dir, on_demand):
    """Mismatched keys in the final equipment and shifts states: equipment
    is the newest-wins fold over every key, shifts the same fold over the
    keys the operational stream has shown (every key when replicated in
    full)."""
    import pandas as pd
    import pyarrow.parquet as pq

    def folded(prefix, init_val, val):
        off = cols[prefix + "_off"]
        idx = np.concatenate([np.arange(off[t], off[t + 1]) for t in ticks])
        init = cols["init_key"]
        keys, ords, vals = newest(np.r_[init, cols[prefix + "_key"][idx]],
                                  np.r_[np.ones(len(init), np.int64), cols[prefix + "_ord"][idx]],
                                  np.r_[cols[init_val], cols[prefix + "_" + val][idx]])
        return pd.DataFrame({"equip": keys, "ord": ords, val: vals}), cols[prefix + "_key"][idx]

    def state(name):
        return pq.read_table(os.path.join(states_dir, name)).to_pandas()

    equipment, _ = folded("eq", "init_line", "line")
    shifts, shift_cdc_keys = folded("sh", "init_crew", "crew")
    if on_demand:
        off = cols["tick_off"]
        observed = np.concatenate([cols["ev_key"][off[t]:off[t + 1]] for t in ticks])
        shifts = shifts[np.isin(shifts.equip, observed)]
    shifts["shift"] = np.array(gen.SHIFT_NAMES)[gen.shift_of(shifts.equip.values)]
    got_shifts = state("shifts")
    return {"equipment_keys": len(equipment),
            "equipment_bad": mismatched(state("equipment"), equipment[["equip", "ord"]], ["ord"]),
            "shift_keys": len(shifts),
            "shift_bad": mismatched(got_shifts, shifts, ["ord", "crew", "shift"]),
            "shift_snapshot_rows": len(got_shifts),
            "shift_cdc_distinct_keys": len(np.unique(shift_cdc_keys))}


def stream_metrics(cols, res, work, trace, on_demand):
    loop = res["loop"]
    measured = loop["measured_ticks"]
    lead = loop["lead_ticks"]  # replayed untimed before the measured ticks
    emits = res["emits"]  # batch, tick, nk, n, sumEid, sumEid2, perf, night, atNs
    ticks = res["ingested_ticks"]
    want = stream_expectations(cols, ticks)
    got = {}
    for b, t, nk, n, s1, s2, perf, night, _ in emits:
        g = got.setdefault((t, nk), [0, 0, 0, 0.0, 0])
        g[0] += n; g[1] += s1; g[2] += s2; g[3] += perf; g[4] += night
    failed = 0
    for key in set(want) | set(got):
        w, g = want.get(key), got.get(key)
        if w is None or g is None or (w[0], w[1], w[2], w[4]) != (g[0], g[1], g[2], g[4]) \
                or abs(w[3] - g[3]) > 1e-9 * max(1.0, abs(w[3])):
            failed += max(w[0] if w else 0, g[0] if g else 0)
    dims = dimension_gate(cols, ticks, os.path.join(work, "states"), on_demand)
    failed += dims["equipment_bad"] + dims["shift_bad"]
    attempted = int(res["ingested"]) + dims["equipment_keys"] + dims["shift_keys"]

    due = loop["due_ns"]
    lat, wts, lat_new, wts_new, last_emit = [], [], [], [], 0
    by_batch = {}  # (tick, micro-batch) -> [latency ms, events]
    for b, t, nk, n, s1, s2, perf, night, at in emits:
        if lead < t <= measured:
            ms = (at - due[t]) / 1e6
            lat.append(ms); wts.append(n)
            by_batch.setdefault((t, b), [ms, 0])[1] += n
            last_emit = max(last_emit, at)
            if nk == 1:
                lat_new.append(ms); wts_new.append(n)
    n_events = int(sum(wts))
    if loop["mode"] == "open":
        window_s = (last_emit - due[1]) / 1e9
        batch_at = sorted({(b, at) for b, t, *_r, at in emits if 1 <= t <= measured})
        gaps = [(b2[1] - b1[1]) / 1e9 for b1, b2 in zip(batch_at, batch_at[1:])]
        unit_s = statistics.median(gaps) if gaps else window_s
        total_s = window_s
        walls = None
    else:
        walls = [(d - s) / 1e9 for s, d in zip(due[lead + 1:], loop["done_ns"][lead + 1:])]
        total_s = sum(walls)
        unit_s = statistics.median(walls)
        window_s = total_s
        gaps = None
        # triggers are equal-sized, so the median trigger gives the rate
        # without letting one slow trigger (a GC, the first one) set it
        events_per_trigger = n_events / len(walls)
    e2e = {
        "live_latency_p50_ms": weighted_percentile(lat, wts, 50),
        "live_latency_p99_ms": weighted_percentile(lat, wts, 99),
        "catchup_events_per_s": (n_events / window_s if loop["mode"] == "open"
                                 else events_per_trigger / unit_s),
        "batch_total_s": total_s,
        "batch_query_p50_s": unit_s,
    }
    detail = {"latency_samples": n_events,
              "latency_top_percentile": highest_percentile(n_events),
              "generator_lag_ms_max": max(loop.get("gen_lag_ms") or [0.0]),
              "new_key_latency_p50_ms": weighted_percentile(lat_new, wts_new, 50),
              "flushed": res["flushed"], "dimension_gate": dims,
              "emitted_by_batch": [[t, b, round(v[0], 1), v[1]]
                                   for (t, b), v in sorted(by_batch.items())],
              "unit_s_all": gaps if loop["mode"] == "open" else walls}
    layer = stream_layers(res, dims, detail) if trace else {}
    return e2e, layer, detail, attempted, failed


def stream_layers(res, dims, detail):
    names = res["query_ids"]
    by_q = {}
    for p in res["trace"]["progress"]:
        if p["query"] in names:
            by_q.setdefault(names[p["query"]], []).append(p)
    out = {}
    for q in ("operational", "keyreg", "dim.equipment", "dim.shifts"):
        ps = by_q.get(q, [])

        def med(f):
            return statistics.median([f(p["duration_ms"]) for p in ps]) if ps else 0.0
        out[f"streaming.{q}.trigger_ms"] = med(lambda d: d.get("triggerExecution", 0.0))
        out[f"streaming.{q}.add_batch_ms"] = med(lambda d: d.get("addBatch", 0.0))
        out[f"streaming.{q}.planning_ms"] = med(lambda d: d.get("queryPlanning", 0.0))
        out[f"streaming.{q}.commit_ms"] = med(
            lambda d: d.get("walCommit", 0.0) + d.get("commitOffsets", 0.0))
    ops = by_q.get("operational", [])
    fed = res["ingested"] - res["ingested_at_arm"]
    out["streaming.operational.source_rows_per_event"] = (
        sum(p["rows"] for p in ops) / fed if fed else 0.0)
    # parked rows after each operational trigger: ingested through its end
    # offset minus emitted by the time its progress was reported
    rows_at = res["offset_rows"]
    sync_ns, sync_ms = res["clock_sync"]
    emit_ms = sorted((sync_ms + (e[8] - sync_ns) / 1e6, e[3]) for e in res["emits"])
    emit_t = np.array([t for t, _ in emit_ms])
    emit_cum = np.cumsum([n for _, n in emit_ms])
    parked = []
    for p in ops:
        if p.get("end_offset") is None:
            continue
        ingested = rows_at[min(int(p["end_offset"]) + 1, len(rows_at) - 1)]
        i = int(np.searchsorted(emit_t, p["at_ms"], side="right"))
        parked.append(ingested - (int(emit_cum[i - 1]) if i > 0 else 0))
    out["streaming.buffer.parked_rows_p50"] = float(np.median(parked)) if parked else 0.0
    out["streaming.buffer.parked_rows_max"] = float(max(parked)) if parked else 0.0
    out["streaming.keyreg.new_key_latency_p50_ms"] = detail["new_key_latency_p50_ms"]
    out["streaming.dim.shifts.applied_ratio"] = (
        dims["shift_snapshot_rows"] / dims["shift_cdc_distinct_keys"]
        if dims["shift_cdc_distinct_keys"] else 0.0)
    n_ops = max(len(ops), 1)
    out["streaming.state.bytes_written"] = res["fs_bytes_written"] / n_ops
    out["streaming.state.files_written"] = res["files_written"] / n_ops
    out["streaming.state.checkpoint_bytes"] = float(res["checkpoint_bytes"])
    return out


# ---------------------------------------------------------------- batch metrics

def batch_metrics(res, tables, work, trace):
    qs = res["queries"]
    totals = [q["total_ms"] for q in qs]
    verdict = oracle.compare(tables, os.path.join(work, "out"), [q["name"] for q in qs])
    bad = {q["name"]: q["error"] for q in qs if q["error"]}
    bad.update({n: why for n, why in verdict.items() if why and n not in bad})
    e2e = {
        "live_latency_p50_ms": float(np.percentile(totals, 50)),
        "live_latency_p99_ms": float(np.percentile(totals, 99)),
        "catchup_events_per_s": len(qs) / (sum(totals) / 1000.0),
        "batch_total_s": sum(totals) / 1000.0,
        "batch_query_p50_s": statistics.median(totals) / 1000.0,
    }
    detail = {"queries": {q["name"]: q["total_ms"] for q in qs}, "failed_queries": bad,
              "jvm_ms": res["harness_ms"],
              "latency_top_percentile": highest_percentile(len(qs))}
    layer = batch_layers(res) if trace else {}
    return e2e, layer, detail, len(qs), len(bad)


def batch_layers(res):
    qs = res["queries"]
    jobs = [s for s in res["trace"]["spans"] if s["kind"] == "job"]
    build_jobs = sum(1 for q in qs for j in jobs if q["t0"] <= j["start_ms"] < q["t1"])
    return {
        "queries.build_ms": sum(q["build_ms"] for q in qs),
        "queries.build_jobs": float(build_jobs),
        "operators.execute_ms": sum(q["execute_ms"] for q in qs),
        "spark.storage.pinned_rdds_after": float(res["pinned_rdds"]),
        "spark.storage.pinned_bytes_after": float(res["pinned_bytes"]),
    }


# ---------------------------------------------------------------- trace

def link_spans(spans):
    """Give every job span its parent: the batch query named by its
    `perfbench.span` property, the trigger of its streaming query and batch,
    or else the query span whose interval holds its start."""
    by_trigger = {(s["attrs"].get("stream_query"), s["attrs"].get("stream_batch")): s["id"]
                  for s in spans if s["kind"] == "trigger"}
    queries = [s for s in spans if s["kind"] == "query"]
    workload = next((s["id"] for s in spans if s["kind"] == "workload"), None)
    for s in spans:
        if s["kind"] in ("trigger", "query") and s.get("parent") is None:
            s["parent"] = workload
        if s["kind"] != "job":
            continue
        a = s["attrs"]
        parent = int(a["span"]) if a.get("span") else by_trigger.get(
            (a.get("stream_query"), a.get("stream_batch")))
        if parent is None:
            parent = next((q["id"] for q in queries
                           if q["start_ms"] <= s["start_ms"] < q["end_ms"]), workload)
        s["parent"] = parent
    return spans


def trace_layers(res, workload, seed):
    spans = link_spans(res["trace"]["spans"])
    selfs = self_times(spans)
    gap = sum(selfs[s["id"]] for s in spans if s["kind"] in ("query", "trigger"))
    by_kind = {}
    for s in spans:
        by_kind[s["kind"]] = by_kind.get(s["kind"], 0.0) + selfs[s["id"]]
    path = os.path.join(BUILD, "traces", f"{workload}-seed{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"spans": spans, "self_ms_by_kind": by_kind}, f)
    c = res["trace"]["counters"]
    keys = ["spark.catalyst.analysis_ms", "spark.catalyst.optimization_ms",
            "spark.catalyst.planning_ms", "spark.codegen.compiles", "spark.codegen.compile_ms",
            "spark.scheduler.jobs", "spark.scheduler.stages", "spark.scheduler.tasks",
            "spark.executor.run_ms", "spark.executor.cpu_ms", "spark.executor.gc_ms",
            "spark.shuffle.write_bytes", "spark.shuffle.read_bytes",
            "spark.shuffle.fetch_wait_ms", "spark.shuffle.spill_bytes",
            "sources.input_bytes", "sources.files_read"]
    out = {k: float(c.get(k, 0.0)) for k in keys}
    out["spark.scheduler.driver_gap_ms"] = gap
    return out, {"trace_file": os.path.relpath(path, ROOT), "self_ms_by_kind": by_kind}


# headline metric per workload for the tracing overhead, and whether higher is better
HEADLINE = {"stream_live": ("live_latency_p50_ms", False),
            "stream_catchup": ("catchup_events_per_s", True),
            "batch_mix": ("batch_total_s", False)}

# ---------------------------------------------------------------- main

def one_run(cp, args, inputs, work, trace, cols, queries, tables, deadline):
    t0 = time.time()
    work = os.path.join(work, f"jvm-trace{int(trace)}")
    on_demand = not args.replicate_all
    res = run_jvm(cp, args.workload, inputs, work, args.seconds, trace, args.cpus, queries,
                  on_demand, bool(args.trace), deadline)
    t1 = time.time()
    if args.workload == "batch_mix":
        e2e, layer, detail, attempted, failed = batch_metrics(res, tables, work, trace)
    else:
        e2e, layer, detail, attempted, failed = stream_metrics(
            cols, res, work, trace, on_demand)
    e2e["setup_s"] = statistics.median(res["setup_s"])
    e2e["heap_live_peak_mb"] = res["heap_live_peak_mb"]
    detail["setup_s_all"] = res["setup_s"]
    detail["harness_s"] = {"jvm": t1 - t0, "gate": time.time() - t1}
    if trace:
        more, tdetail = trace_layers(res, args.workload, args.seed)
        layer.update(more)
        detail.update(tdetail)
    return e2e, layer, detail, attempted, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # one-off reference runs (NOTES.md), not part of the gated benchmark
    ap.add_argument("--cpus", type=int, default=box.nproc(),
                    help="local[n] cores and shuffle partitions (default: all)")
    ap.add_argument("--replicate-all", action="store_true",
                    help="replicate shifts in full instead of on demand")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    steal_bound = min(m["bound"] for m in spec["end_to_end"])
    stamp = box.Stamp()
    cp = build()
    deadline = time.time() + RUN_DEADLINE_S
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    cols, queries, tables = None, [], None
    gen_start = time.time()
    try:
        if args.workload == "batch_mix":
            gen.write_batch_tables(inputs, args.seed)
            tables = inputs
            queries = [BATCH_QUERIES[i] for i in
                       np.random.Generator(np.random.PCG64(args.seed)).permutation(len(BATCH_QUERIES))]
        else:
            shape = gen.STREAM_SHAPES[args.workload]
            if shape["tick_ms"]:
                ticks = int(round(args.seconds * 1000 / shape["tick_ms"])) + shape["tail_ticks"]
            else:
                ticks = shape["lead_ticks"] + max(2, round(args.seconds / shape["nominal_trigger_s"]))
            cols, _ = gen.write_stream_inputs(inputs, args.workload, args.seed, ticks)
        gen_s = time.time() - gen_start
        e2e, layer, detail, attempted, failed = one_run(
            cp, args, inputs, work, False, cols, queries, tables, deadline)
        detail["harness_s"]["generate"] = gen_s
        if args.trace:
            t_e2e, layer, t_detail, t_att, t_failed = one_run(
                cp, args, inputs, work, True, cols, queries, tables, deadline)
            name, higher = HEADLINE[args.workload]
            base, traced = e2e[name], t_e2e[name]
            ratio = base / traced if higher else traced / base
            layer["trace.overhead_pct"] = (ratio - 1.0) * 100.0
            for m in spec["per_layer"]:  # a layer the workload does not use reads 0
                layer.setdefault(m["name"], 0.0)
            detail["traced"] = t_detail
            attempted += t_att
            failed += t_failed
    finally:
        shutil.rmtree(work, ignore_errors=True)
    box_stamp = stamp.finish(steal_bound)
    metrics = layer if args.trace else e2e
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    result = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())},
    }
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "box": box_stamp, "end_to_end": e2e, "detail": detail}
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(result))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except BenchError as e:
        log(str(e))
        sys.exit(2)

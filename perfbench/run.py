#!/usr/bin/env python3
"""Benchmark runner: one run of one workload.

    python3 perfbench/run.py --workload td_session --seed 1 --seconds 15 --trace 0

Builds the engine from source (perfbench/build.py), generates the seeded
inputs (perfbench/gen.py) into a fresh run directory under `.bench_build`,
drives them through the engine's public entry points in one JVM
(perfbench/scala/Main.scala), checks every answer against DuckDB
(perfbench/oracle.py), and prints the metrics. The last line of stdout is
one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`). Each run is also appended to `.bench_build/results.jsonl`
(or `--out`), which `perfbench/diff.py` compares.
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

CORES = len(os.sched_getaffinity(0))
HEAP = "3g"
SETUP_REPS = 3
OPERATOR_KEYS = ["p24_tpch_q1", "p3_tpch_q18", "j14_dedup_clusters", "j51_dedup_editdist",
                 "j65_decontam_fuzzy", "i8_stream_stream_join"]
WORKLOADS = {
    "td_session": {"sf": 0.01, "ops": 3000, "warmup": 3},
    "ingest_readback": {"batch_rows": 1000, "hours": 6, "warm_batches": 4, "blocks": 100},
    "operator_batch": {"sf": 0.001, "keys": OPERATOR_KEYS},
}
# the workload's primary operations, whose latency is `op_p50_s`
PRIMARY = {"td_session": "fresh", "ingest_readback": "read", "operator_batch": "key"}

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}
TD_SPANS = {"td.read_td_query_s": "td.read_td_query", "td.read_td_job_s": "td.read_td_job",
            "td.read_td_table_s": "td.read_td_table", "td.jobs_list_s": "td.jobs_list",
            "td.to_td_s": "td.to_td", "functions.presto_rewrite_s": "functions.presto_rewrite"}
PHASES = {"planning.parse_ms": "parsing", "planning.analysis_ms": "analysis",
          "planning.optimization_ms": "optimization", "planning.planning_ms": "planning"}
NODES = ["Scan", "Exchange", "HashAggregate", "ObjectHashAggregate", "Sort", "Window",
         "SortMergeJoin", "BroadcastHashJoin", "AsOfJoin", "IntervalJoin", "TopKPerGroup"]
LAYERS = ["client", "td", "functions", "planning", "exec", "ops", "streaming"]
PER_LAYER = (
    {k: "s" for k in TD_SPANS}
    | {"td.read_td_query_jobs": "count"}
    | {k: "ms" for k in PHASES}
    | {"cache.hit_ratio": "ratio",
       "sink.files_written": "count", "sink.bytes_written": "bytes", "sink.partitions": "count",
       "exec.scan_files": "count", "exec.scan_partitions_read": "count",
       "exec.scan_rows_out_per_in": "ratio"}
    | {f"ops.{k}.{p}_s": "s" for k in OPERATOR_KEYS for p in ("build", "action")}
    | {"exec.task_time_s": "s", "exec.task_wall_ratio": "ratio", "exec.gc_s": "s",
       "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
       "exec.spill_bytes": "bytes"}
    | {f"exec.op.{n}_ms": "ms" for n in NODES}
    | {"streaming.batches": "count", "streaming.batch_ms": "ms",
       "streaming.state_rows": "count", "streaming.state_memory_bytes": "bytes"}
    | {f"self.{layer}_s": "s" for layer in LAYERS}
    | {"trace.overhead_ratio": "ratio", "trace.spans_per_op": "count"})
JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
DEADLINE_S = 175


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------- inputs

def make_inputs(workload, seed, run_dir):
    """Writes the seeded tables and returns (plan fields, DuckDB views)."""
    w = WORKLOADS[workload]
    data = os.path.join(run_dir, "data")
    bench_db = os.path.join(data, "bench")
    os.makedirs(bench_db)
    plan = {"data_root": data, "db": "bench"}
    if workload == "ingest_readback":
        gen.write_tables(bench_db, gen.make_tables(seed, 0.01, ["nation"]))
        ops = gen.ingest_ops(seed, w["blocks"], w["hours"], w["warm_batches"])
        n_batches = sum(o["kind"] == "write" for o in ops)
        batches = os.path.join(data, "batches.parquet")
        pq.write_table(gen.ingest_batches(seed, n_batches, w["batch_rows"], w["hours"]), batches)
        plan.update(ops=ops, warmup=sum(o["block"] < 0 for o in ops), batches=batches,
                    batch_rows=w["batch_rows"], ingest_db=gen.INGEST_DB,
                    ingest_table=gen.INGEST_TABLE)
        return plan, {"batches": batches}
    tables = gen.make_tables(seed, w["sf"])
    gen.write_tables(bench_db, tables)
    views = {t: os.path.join(bench_db, f"{t}.parquet") for t in tables}
    if workload == "td_session":
        plan.update(ops=gen.td_session_ops(seed, w["ops"], w["warmup"]), warmup=w["warmup"])
    else:
        plan.update(keys=w["keys"])
    return plan, views


# ------------------------------------------------------------------ metrics

def kind(workload, o):
    """Operation kind, as the workload's fixed mix counts them."""
    if workload == "operator_batch":
        return o["key"]
    return "fresh" if o["kind"] in ("query", "issue") else o["kind"]


MIX = {"td_session": collections.Counter(gen.SESSION_BLOCK),
       "ingest_readback": collections.Counter(gen.INGEST_BLOCK),
       "operator_batch": collections.Counter(OPERATOR_KEYS)}


def mix_seconds(workload, timed):
    """Seconds one block of the workload's fixed mix takes, from the median
    latency of each operation kind in the run (None if a kind has no
    sample). Medians per kind keep one slow operation, and where the time
    limit cut the run, from moving the throughput."""
    med = {k: stats.median([o["t"] for o in timed if kind(workload, o) == k])
           for k in MIX[workload]}
    if None in med.values():
        return None
    return sum(n * med[k] for k, n in MIX[workload].items())


def end_to_end(workload, res, ok):
    """Gated metrics plus the workload's named metrics, each (value, unit, n)."""
    timed = [o for o, good in zip(res["ops"], ok) if o["timed"] and good]
    prim = [o["t"] for o in timed if o["cls"] == PRIMARY[workload]]
    block_s = mix_seconds(workload, timed)
    m = {"setup_s": (stats.median(res["setup_s"]), "s", len(res["setup_s"])),
         "op_p50_s": (stats.median(prim), "s", len(prim)),
         "ops_per_s": (sum(MIX[workload].values()) / block_s if block_s else None,
                       "1/s", len(timed))}
    named = {"td_session": "session_query", "ingest_readback": "readback"}.get(workload)
    if named:
        m[f"{named}_p50_s"] = m["op_p50_s"]
        t = stats.tail(prim)
        m[f"{named}_tail_s"] = ((t[1], f"s@p{100 * t[0]:.0f}", t[2]) if t
                                else (None, "s", len(prim)))
    if workload == "td_session":
        cached = [o["t"] for o in timed if o["cls"] == "cached"]
        m["session_cached_p50_s"] = (stats.median(cached), "s", len(cached))
        m["session_ops_per_s"] = m["ops_per_s"]
    elif workload == "ingest_readback":
        writes = [o for o in timed if o["cls"] == "write"]
        wt = sum(o["t"] for o in writes)
        m["ingest_rows_per_s"] = (sum(o["written_rows"] for o in writes) / wt if wt else None,
                                  "rows/s", len(writes))
        sink = res["sink_total"]
        m["ingest_bytes_per_row"] = (sink["bytes"] / sink["rows"] if sink["rows"] else None,
                                     "bytes/row", sink["rows"])
    else:
        m["batch_pass_s"] = (block_s, "s", len(timed))
    attempted = len(ok)
    m["failed_ratio"] = (sum(not g for g in ok) / attempted, "ratio", attempted)
    return m


def self_times(spans):
    """Self time per layer: each span's duration minus the part of it that
    its children cover. Root (`op.*`) spans are the client's own time."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                    for c in kids.get(s["id"], []))
        covered, cur_a, cur_b = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                covered += (cur_b - cur_a) if cur_b is not None else 0
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        covered += (cur_b - cur_a) if cur_b is not None else 0
        layer = s["name"].split(".")[0]
        layer = "client" if layer == "op" else layer
        out[layer] = out.get(layer, 0) + (s["end_ns"] - s["start_ns"] - covered)
    return out


def per_layer(workload, res, spans):
    tr = [o for o in res["trace_ops"] if not o.get("err")]
    n = len(tr) or 1
    m = {k: 0.0 for k in PER_LAYER}

    def med(xs):
        return stats.median(xs) or 0.0

    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"]) / 1e9)
    for k, name in TD_SPANS.items():
        m[k] = med(by_name.get(name, []))
    q = [o["jobs_in_span"]["td.read_td_query"] for o in tr
         if "td.read_td_query" in o["jobs_in_span"]]
    m["td.read_td_query_jobs"] = sum(q) / len(q) if q else 0.0
    for k, ph in PHASES.items():
        m[k] = med([o["phases_ms"][ph] for o in tr if ph in o["phases_ms"]])
    cached = [o for o in tr if o["cls"] == "cached"]
    m["cache.hit_ratio"] = sum(bool(o.get("hit")) for o in cached) / len(cached) if cached else 0.0
    writes = [o for o in res["ops"] if o["traced"] and o["cls"] == "write" and "sink" in o]
    m["sink.files_written"] = med([o["sink"]["files"] for o in writes])
    m["sink.bytes_written"] = med([o["sink"]["bytes"] for o in writes])
    m["sink.partitions"] = res.get("sink_total", {}).get("partitions", 0)
    m["exec.scan_files"] = sum(o["scan_files"] for o in tr) / n
    m["exec.scan_partitions_read"] = sum(o["scan_partitions"] for o in tr) / n
    scanned = sum(o["scan_rows"] for o in tr)
    m["exec.scan_rows_out_per_in"] = sum(o["rows"] for o in tr) / scanned if scanned else 0.0
    builds = {o["i"]: o.get("build", 0.0) for o in res["ops"]}
    for k in OPERATOR_KEYS:
        runs = [o for o in tr if o.get("key") == k]
        m[f"ops.{k}.build_s"] = med([builds[o["i"]] for o in runs])
        m[f"ops.{k}.action_s"] = med([o["t"] - builds[o["i"]] for o in runs])
    task_s = sum(o["task_ms"] for o in tr) / 1e3
    m["exec.task_time_s"] = task_s / n
    wall = sum(o["t"] for o in tr)
    m["exec.task_wall_ratio"] = task_s / wall if wall else 0.0
    m["exec.gc_s"] = sum(o["gc_ms"] for o in tr) / 1e3 / n
    m["exec.shuffle_write_bytes"] = sum(o["shuffle_write"] for o in tr) / n
    m["exec.shuffle_read_bytes"] = sum(o["shuffle_read"] for o in tr) / n
    m["exec.spill_bytes"] = sum(o["spill"] for o in tr) / n
    for node in NODES:
        m[f"exec.op.{node}_ms"] = sum(o["op_ms"].get(node, 0.0) for o in tr) / n
    streamed = [o for o in tr if o["stream_batches"]]
    if streamed:
        m["streaming.batches"] = sum(o["stream_batches"] for o in streamed) / len(streamed)
        m["streaming.batch_ms"] = med([x for o in streamed for x in o["stream_batch_ms"]])
        m["streaming.state_rows"] = max(x for o in streamed for x in o["stream_state_rows"])
        m["streaming.state_memory_bytes"] = max(
            x for o in streamed for x in o["stream_state_bytes"])
    for layer, ns in self_times(spans).items():
        m[f"self.{layer}_s"] = ns / 1e9 / n
    prim = PRIMARY[workload]
    timed = [o for o in res["ops"] if o["timed"] and not o.get("err") and o["cls"] == prim]
    on = [o["t"] for o in timed if o["traced"]]
    off = [o["t"] for o in timed if not o["traced"]]
    m["trace.overhead_ratio"] = stats.median(on) / stats.median(off) - 1 if on and off else 0.0
    m["trace.spans_per_op"] = len(spans) / n
    return m


# --------------------------------------------------------------- fingerprint

def cpu_ticks():
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def fingerprint(jvm, seed, source_stamp):
    mem = next((ln.split()[1] for ln in open("/proc/meminfo") if ln.startswith("MemTotal:")), "?")
    commit = "none"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        commit = r.stdout.strip() or "none"
    return {"nproc": CORES, "mem_total_kb": int(mem), "driver_heap": HEAP,
            "jdk": jvm["java"], "scala": jvm["scala"], "spark": jvm["spark"],
            "shuffle_partitions": int(jvm["shuffle_partitions"]),
            "git_commit": commit, "source_stamp": source_stamp, "seed": seed,
            "config": {k: v for k, v in WORKLOADS.items()}}


# --------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "results.jsonl"))
    a = ap.parse_args()
    t_start = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    source_stamp = build.ensure()

    run_dir = os.path.join(ROOT, ".bench_build", "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        plan, views = make_inputs(a.workload, a.seed, run_dir)
        plan.update(workload=a.workload, seconds=a.seconds, trace=bool(a.trace), cores=CORES,
                    run_dir=run_dir, setup_reps=SETUP_REPS)
        plan_file = os.path.join(run_dir, "plan.json")
        with open(plan_file, "w") as fh:
            json.dump(plan, fh)
        cds, dump = build.cds_args(source_stamp)
        # no hsperfdata file: the run writes only inside the checkout
        cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *JDK17_OPENS, *cds,
               f"-Djava.io.tmpdir={run_dir}/tmp",
               f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
               "-cp", build.classpath(), "perfbench.Main", plan_file]
        steal0, total0 = cpu_ticks()
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            try:
                r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                   timeout=max(10, DEADLINE_S - (time.monotonic() - t_start)))
            except subprocess.TimeoutExpired:
                fail("the engine run did not finish in time")
        steal1, total1 = cpu_ticks()
        # a shared host's hypervisor can take CPU time from this machine;
        # the share taken during the run says how far to trust its timings
        steal = (steal1 - steal0) / max(1, total1 - total0)
        if r.returncode != 0:
            sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
            fail(f"the engine run exited with {r.returncode}")
        if dump and os.path.exists(dump[0]):
            os.replace(*dump)
        with open(os.path.join(run_dir, "result.json")) as fh:
            res = json.load(fh)

        checker = oracle.Checker(views)
        if a.workload == "td_session":
            verdicts = oracle.check_td_session(checker, plan["ops"], res["ops"])
        elif a.workload == "ingest_readback":
            verdicts = oracle.check_ingest(checker, plan["ops"], res["ops"])
        else:
            verdicts = oracle.check_operator_batch(checker, res["oracle"], run_dir, res["ops"])
        ok = [v is None for v in verdicts]
        e2e = end_to_end(a.workload, res, ok)
        spans = []
        if a.trace:
            with open(os.path.join(run_dir, "spans.jsonl")) as fh:
                spans = [json.loads(ln) for ln in fh if ln.strip()]
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-s{a.seed}.spans.jsonl"))
        layers = per_layer(a.workload, res, spans) if a.trace else {}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(not g for g in ok)
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: "
          f"{len(ok)} operations checked, {failed} failed; "
          f"host CPU steal during the run {100 * steal:.1f}%")
    for (v, why) in [(v, why) for v, why in zip(res["ops"], verdicts) if why][:10]:
        print(f"  FAILED op {v['i']} ({v['kind']}): {why}")
    for name, (value, unit, n) in e2e.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"  {name:24s} {shown:>12s} {unit:10s} n={n}")
    for name, value in layers.items():
        print(f"  {name:40s} {value:14.6g} {PER_LAYER[name]}")

    metrics = ({k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()} if a.trace
               else {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END.items()})
    correct = failed == 0 and all(v["value"] is not None for v in metrics.values())
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "correct": correct,
              "attempted": len(ok), "failed": failed,
              "end_to_end": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in e2e.items()},
              "per_layer": layers,
              "timed_ops": [[o["cls"], o.get("key") or o["kind"], round(o["t"], 6)]
                            for o, good in zip(res["ops"], ok) if o["timed"] and good],
              "host_steal": steal,
              "fingerprint": fingerprint(res["fingerprint"], a.seed, source_stamp)}
    with open(a.out, "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps({"correct": correct, "attempted": len(ok), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

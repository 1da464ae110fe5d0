#!/usr/bin/env python3
"""Compare two benchmark result files (JSON lines appended by run.py).

    python3 perfbench/diff.py BASE.jsonl NEW.jsonl

For each workload and end-to-end metric it prints the median and quartiles
of both sides over their runs and flags the change against the metric's
bound in BENCHMARK.json: `REGRESSION` (worse by more than the bound),
`improved` (better by more than the bound), `unresolved` (the base's own
spread is wider than the bound and the runs overlap) or `ok`. From traced
runs it lists the per-layer metrics whose median moved by more than
`LAYER_BOUND`, naming the layer and the operator or key.

Both files must come from the same host and configuration (cores, memory,
driver heap, JDK/Scala/Spark versions, shuffle partitions, workload
sizes); otherwise the tool refuses to compare. Exits 1 when any
end-to-end metric regressed.
"""
import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

# a per-layer median that moved by more than this share is listed
LAYER_BOUND = 0.25
HOST_KEYS = ["nproc", "mem_total_kb", "driver_heap", "jdk", "scala", "spark",
             "shuffle_partitions", "config"]
# workload-named metrics: (gated metric whose bound applies, better)
NAMED = {"session_query_p50_s": ("op_p50_s", "lower"),
         "session_query_tail_s": ("op_p50_s", "lower"),
         "session_cached_p50_s": ("op_p50_s", "lower"),
         "session_ops_per_s": ("ops_per_s", "higher"),
         "readback_p50_s": ("op_p50_s", "lower"),
         "readback_tail_s": ("op_p50_s", "lower"),
         "ingest_rows_per_s": ("ops_per_s", "higher"),
         "ingest_bytes_per_row": ("op_p50_s", "lower"),
         "batch_pass_s": ("op_p50_s", "lower")}


def load(path):
    with open(path) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def host(rec):
    return {k: rec["fingerprint"].get(k) for k in HOST_KEYS}


def check_same_host(base, new):
    """None when every record shares one host fingerprint, else the diff."""
    ref = host(base[0])
    for r in base + new:
        h = host(r)
        if h != ref:
            return {k: (ref[k], h[k]) for k in HOST_KEYS if ref[k] != h[k]}
    return None


def verdict(b, n, bound, better):
    """Flag one metric from its base and new samples."""
    bm, nm = stats.median(b), stats.median(n)
    change = nm / bm - 1 if bm else 0.0
    worse = change if better == "lower" else -change
    all_better = (max(n) < min(b)) if better == "lower" else (min(n) > max(b))
    all_worse = (min(n) > max(b)) if better == "lower" else (max(n) < min(b))
    if worse > bound and (all_worse or stats.spread(b) <= bound):
        return change, "REGRESSION"
    if -worse > bound and (all_better or stats.spread(b) <= bound):
        return change, "improved"
    if stats.spread(b) > bound and not all_better:
        return change, "unresolved"
    return change, "ok"


def fmt_q(xs):
    q1, m, q3 = stats.quartiles(xs)
    return f"{m:10.4g} [{q1:.4g}, {q3:.4g}]"


def compare(base, new, bench, out=sys.stdout):
    """Prints the comparison; returns the number of regressions."""
    gated = {m["name"]: m for m in bench["end_to_end"]}
    regressions = 0
    steal = [stats.median([r.get("host_steal", 0.0) for r in runs]) for runs in (base, new)]
    print(f"host CPU steal, median over runs: base {100 * steal[0]:.1f}%, "
          f"new {100 * steal[1]:.1f}%", file=out)
    if abs(steal[0] - steal[1]) > 0.05:
        print("  warning: the host was busier for one side; timings may differ for that "
              "reason alone", file=out)
    workloads = sorted({r["workload"] for r in base} & {r["workload"] for r in new})
    print(f"{'workload':16s} {'metric':22s} {'base median [q1, q3]':>30s} "
          f"{'new median [q1, q3]':>30s} {'change':>8s}  flag", file=out)
    for w in workloads:
        b_runs = [r for r in base if r["workload"] == w and not r["trace"]]
        n_runs = [r for r in new if r["workload"] == w and not r["trace"]]
        if not b_runs or not n_runs:
            continue
        names = [k for k in b_runs[0]["end_to_end"] if k in gated or k in NAMED]
        for name in names:
            if name in gated:
                bound, better = gated[name]["bound"], gated[name]["better"]
            else:
                ref, better = NAMED[name]
                bound = gated[ref]["bound"]
            b = [r["end_to_end"][name]["value"] for r in b_runs]
            n = [r["end_to_end"][name]["value"] for r in n_runs]
            b = [x for x in b if x is not None]
            n = [x for x in n if x is not None]
            if not b or not n:
                continue
            change, flag = verdict(b, n, bound, better)
            regressions += flag == "REGRESSION" and name in gated
            print(f"{w:16s} {name:22s} {fmt_q(b):>30s} {fmt_q(n):>30s} "
                  f"{100 * change:+7.1f}%  {flag}", file=out)
        fb = sum(r["failed"] for r in b_runs)
        fn = sum(r["failed"] for r in n_runs)
        if fb or fn:
            print(f"{w:16s} {'failed operations':22s} {fb:>30d} {fn:>30d}", file=out)

    for w in workloads:
        b_runs = [r for r in base if r["workload"] == w and r["trace"]]
        n_runs = [r for r in new if r["workload"] == w and r["trace"]]
        if not b_runs or not n_runs:
            continue
        movers = []
        for name in b_runs[0]["per_layer"]:
            b = stats.median([r["per_layer"][name] for r in b_runs])
            n = stats.median([r["per_layer"].get(name, 0.0) for r in n_runs])
            if b == n or name.startswith("trace."):
                continue
            change = (n / b - 1) if b else float("inf")
            if abs(change) > LAYER_BOUND:
                movers.append((abs(change), name, b, n, change))
        movers.sort(reverse=True)
        if not movers:
            print(f"{w}: no per-layer metric moved by more than {100 * LAYER_BOUND:.0f}%", file=out)
            continue
        print(f"{w}: per-layer movers (> {100 * LAYER_BOUND:.0f}%)", file=out)
        for _, name, b, n, change in movers:
            parts = name.split(".")
            layer = parts[1].rsplit("_", 1)[0] if parts[0] == "self" else parts[0]
            what = f"layer {layer}"
            if name.startswith("exec.op."):
                what += f", operator {parts[2].rsplit('_', 1)[0]}"
            elif parts[0] == "ops":
                what += f", key {parts[1]}"
            print(f"  {name:40s} {b:12.4g} -> {n:12.4g} {100 * change:+8.1f}%  ({what})", file=out)
    return regressions


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    a = ap.parse_args()
    base, new = load(a.base), load(a.new)
    if not base or not new:
        sys.exit("perfbench diff: a result file is empty")
    other = check_same_host(base, new)
    if other:
        print("perfbench diff: refusing to compare results from different hosts or "
              "configurations:", file=sys.stderr)
        for k, (x, y) in other.items():
            print(f"  {k}: {x} vs {y}", file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    sys.exit(1 if compare(base, new, bench) else 0)


if __name__ == "__main__":
    main()

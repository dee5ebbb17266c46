"""Determinism self-check and tracing overhead.

    python3 graftbench/selfcheck.py [--seed N] [--seconds S]

For every workload: one untraced run and two traced runs, all with the same
seed. The two traced runs must agree exactly on the work counters below,
and each traced pass must be covered by its op spans (trace.span_cover of
at least 0.95: the harness itself spends almost nothing between ops). The
tracing overhead is the traced median pass over the untraced one. Exits
nonzero when a check fails.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import run  # noqa: E402

EXACT = ["sched.jobs", "exchange.shuffle_records", "op.join.output_rows", "bulksink.docs"]


def metrics(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return res, {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()
    bad = []
    for w in sorted(run.WORKLOADS):
        _, plain = metrics(w, a.seed, a.seconds, 0)
        (r1, t1), (r2, t2) = (metrics(w, a.seed, a.seconds, 1) for _ in range(2))
        for k in EXACT:
            same = t1[k] == t2[k]
            print("%-10s %-26s %14s %14s %s" % (w, k, t1[k], t2[k], "same" if same else "DIFFERENT"))
            if not same:
                bad.append("%s %s" % (w, k))
        for r, t in ((r1, t1), (r2, t2)):
            if t["trace.span_cover"] < 0.95:
                bad.append("%s span cover %.3f" % (w, t["trace.span_cover"]))
            if not r["correct"]:
                bad.append("%s traced run failed its output checks" % w)
        traced = (t1["trace.pass_s"] + t2["trace.pass_s"]) / 2
        print("%-10s tracing overhead: pass_s %.3f s untraced, %.3f s traced (%+.1f%%)" % (
            w, plain["pass_s"], traced, 100 * (traced / plain["pass_s"] - 1)))
    if bad:
        print("FAILED: " + "; ".join(bad))
        sys.exit(1)
    print("deterministic counters agree on every workload")


if __name__ == "__main__":
    main()

"""Run one benchmark workload and print its metrics.

    python3 graftbench/run.py --workload f1_dag --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run compiles the engine and the
harness (build.py). One JVM runs the workload at local[<nproc>] with one
closed-loop client; see README.md for the workloads, the metrics and the
host-noise columns. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Inputs: the f1_dag raw zone is generated from --seed under the run's own
directory; query_mix reads the testdata tables (see `testdata`). Everything the run writes lives under
graftbench/.work/ and the run directory is removed at the end.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import build  # noqa: E402
import digest  # noqa: E402
import f1zone  # noqa: E402

WORKLOADS = {"f1_dag": "sf0.1", "query_mix": "sf0.01"}
SETUP_REPS = 3
DEADLINE_S = 170
MODULES = ["Analytics", "AsofJoin", "Graph", "TextAnalysis", "Dedup",
           "Sampling", "Similarity", "DataQuality"]
MB = float(1 << 20)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class HostNoise:
    """Host-noise columns: CPU steal over the run, the overshoot of a 1 ms
    sleeper (sum of every wake-up later than 5 ms), and a fixed CPU kernel
    timed before and after the run."""

    def __init__(self):
        self.overshoot = 0.0
        self.wakeups = 0
        self._stop = threading.Event()

    @staticmethod
    def _stat():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:8]), v[7]

    @staticmethod
    def kernel():
        t = time.perf_counter()
        acc = 0
        for i in range(1500000):
            acc = (acc * 31 + i) % 1000003
        return time.perf_counter() - t

    def _sleeper(self):
        while not self._stop.is_set():
            t = time.perf_counter()
            time.sleep(0.001)
            late = time.perf_counter() - t - 0.001
            self.wakeups += 1
            if late > 0.005:
                self.overshoot += late

    def start(self):
        self.calib_before = self.kernel()
        self.stat0 = self._stat()
        self.thread = threading.Thread(target=self._sleeper, daemon=True)
        self.thread.start()

    def stop(self):
        self._stop.set()
        self.thread.join()
        total, steal = self._stat()
        dt = total - self.stat0[0]
        return {"steal_pct": 100.0 * (steal - self.stat0[1]) / dt if dt else 0.0,
                "sleep_overshoot_s": self.overshoot, "sleep_wakeups": self.wakeups,
                "calib_before_s": self.calib_before, "calib_after_s": self.kernel()}


def med(xs):
    return statistics.median(xs) if xs else 0.0


def heap_size():
    """Heap size the tier-1 suite gives its JVM: half of RAM, 2..8 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return "%dg" % min(8, max(2, kb // 2097152))


def testdata(root):
    """GRAFT_TESTDATA, else a `testdata` directory in the home directory or
    beside the checkout or one of its ancestors."""
    if "GRAFT_TESTDATA" in os.environ:
        return os.environ["GRAFT_TESTDATA"]
    dirs = [os.path.expanduser("~")]
    d = os.path.abspath(root)
    while os.path.dirname(d) != d:
        d = os.path.dirname(d)
        dirs.append(d)
    found = [os.path.join(d, "testdata") for d in dirs
             if os.path.isdir(os.path.join(d, "testdata"))]
    return found[0] if found else os.path.expanduser("~/testdata")


def launch(classes, work, args, data, zone, record):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(os.path.join(tmp, "spark"))
    mem = heap_size()
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xms" + mem, "-Xmx" + mem, "-Djava.io.tmpdir=" + tmp,
        "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-cp", classes + os.pathsep + jars, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", work, "--out", record,
        "--setup-reps", str(SETUP_REPS)]
    if zone:
        cmd += ["--zone", zone]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"))
    env.pop("GRAFT_SHUFFLE_PARTITIONS", None)
    log = open(os.path.join(work, "jvm.log"), "w")
    launch_ns = time.time_ns()
    proc = subprocess.Popen(cmd + ["--launch-ns", str(launch_ns)], stdout=log,
                            stderr=subprocess.STDOUT, env=env, cwd=work)
    return proc, log


def check(rec, expected_reg, expected_f1):
    """Mark each op attempt ok/failed against its expected output."""
    sf = WORKLOADS[rec["workload"]]
    usage_rows = {k.split("/", 1)[1]: v[1] for k, v in (expected_f1 or {}).items()
                  if k.startswith("usage/")}
    for p in rec["passes"]:
        for op in p["ops"]:
            why = op.get("err")
            if op["ok"] and why is None:
                if "digest" in op:
                    want = expected_reg.get("%s/%s" % (sf, op["name"]))
                    if op["digest"] != want:
                        why = "digest %s != expected %s" % (op["digest"], want)
                elif "sink" in op:
                    for s in op["sink"]:
                        n = usage_rows[s["index"]]
                        if not (s["docs"] == s["received"] == n and s["failed_docs"] == 0):
                            why = "index %s: docs %s received %s rows %s failed %s" % (
                                s["index"], s["docs"], s["received"], n, s["failed_docs"])
                            break
                else:
                    sub = op["sub"]
                    got = digest.parquet_digest(op["out"])
                    if got != expected_f1[sub]:
                        why = "%s: %s != expected %s" % (sub, got, expected_f1[sub])
            op["checked_ok"] = op["ok"] and why is None
            if why:
                op["why"] = why
                print("graftbench: %s failed its check: %s" % (op["name"], why),
                      file=sys.stderr)


def metrics(rec, gen_reps, trace):
    passes = rec["passes"]
    warm = passes[1:]
    cores = rec["cores"]
    ops = [op for p in passes for op in p["ops"]]
    warm_ops = [op["s"] for p in warm for op in p["ops"]]
    fixture_reps = [r["s"] for r in rec["setup_reps"]]
    session_s = (rec["session_done_ns"] - rec["launch_ns"]) / 1e9
    setup_s = med(gen_reps) + session_s + med(fixture_reps)

    def per_pass(key, scale=1.0):
        return med([p["counters"].get(key, 0.0) * scale for p in warm])

    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "pass_s": (med([p["wall_s"] for p in warm]), "s"),
        "op_p50_s": (med(warm_ops), "s"),
        "cpu_s": (per_pass("cpu_ns", 1e-9), "s"),
        "shuffle_mb": (per_pass("shuffle_write_bytes", 1 / MB), "MB"),
        "peak_exec_mem_mb": (per_pass("peak_exec_mem", 1 / MB), "MB"),
        "ok_frac": (sum(op["checked_ok"] for op in ops) / len(ops), "fraction"),
    }
    extra = {"passes": len(passes), "warm_passes": len(warm), "op_samples": len(warm_ops),
             "session_s": session_s, "gen_reps_s": gen_reps, "fixture_reps_s": fixture_reps}
    if len(warm_ops) >= 100:  # a p90 needs ten samples beyond it
        extra["op_p90_s"] = statistics.quantiles(warm_ops, n=10)[-1]
    if not trace:
        return e2e, extra

    spans = {s["id"]: s for s in rec["spans"]}
    pass_spans = [s for s in rec["spans"] if s["name"] == "pass"][1:]
    by_pass = {s["id"]: [] for s in pass_spans}
    for s in rec["spans"]:
        if s["parent"] in by_pass:
            by_pass[s["parent"]].append(s)

    def span_sum(pred):
        return med([sum((c["end_ns"] - c["start_ns"]) / 1e9 for c in kids if pred(c["name"]))
                    for kids in by_pass.values()])

    def sink(field):
        return med([sum(s[field] for op in p["ops"] if "sink" in op for s in op["sink"])
                    for p in warm])

    docs, batches, retries = sink("docs"), sink("batches"), sink("retries")
    layer = {
        "GraftSession.build_s": (rec["session_build_s"], "s"),
        "plan.analysis_s": (per_pass("plan_analysis_s"), "s"),
        "plan.optimize_s": (per_pass("plan_optimize_s"), "s"),
        "plan.physical_s": (per_pass("plan_physical_s"), "s"),
        "FixtureStore.build_s": (med(fixture_reps), "s"),
        "FixtureStore.builds": (med([r["builds"] for r in rec["setup_reps"]]), "count"),
        "FixtureStore.hits": (per_pass("store_scans"), "count"),
        "sched.jobs": (per_pass("jobs"), "count"),
        "sched.stages": (per_pass("stages"), "count"),
        "sched.tasks": (per_pass("tasks"), "count"),
        "sched.task_s": (per_pass("task_run_ms", 1e-3), "s"),
        "sched.idle_core_s": (med([p["wall_s"] * cores - p["counters"].get("task_run_ms", 0) / 1e3
                                   for p in warm]), "s"),
        "exchange.shuffle_records": (per_pass("shuffle_write_records"), "count"),
        "exchange.fetch_wait_s": (per_pass("fetch_wait_ms", 1e-3), "s"),
        "exchange.count": (per_pass("exchanges"), "count"),
        "memory.spill_mb": (per_pass("spill_mem_bytes", 1 / MB), "MB"),
        "jvm.gc_s": (med([p["gc_s"] for p in warm]), "s"),
        "op.scan.rows": (per_pass("scan_rows"), "count"),
        "op.scan.s": (per_pass("scan_ms", 1e-3), "s"),
        "op.join.output_rows": (per_pass("join_rows"), "count"),
        "op.agg.output_rows": (per_pass("agg_rows"), "count"),
        "op.window.output_rows": (per_pass("window_rows"), "count"),
        "op.sort.s": (per_pass("sort_ms", 1e-3), "s"),
        "plans.custom.nodes": (per_pass("custom_nodes"), "count"),
        "f1.format_s": (span_sum(lambda n: n.startswith("op:f1.format:")), "s"),
        "f1.combine_s": (span_sum(lambda n: n.startswith("op:f1.combine:")), "s"),
        "f1.usage_s": (span_sum(lambda n: n.startswith("op:f1.usage:")), "s"),
        "sources.read_rows": (per_pass("input_records"), "count"),
        "sources.write_mb": (per_pass("output_bytes", 1 / MB), "MB"),
        "sources.write_files": (per_pass("write_files"), "count"),
        "bulksink.s": (span_sum(lambda n: n.startswith("op:bulksink:")), "s"),
        "bulksink.docs": (docs, "count"),
        "bulksink.batches": (batches, "count"),
        "bulksink.retries": (retries, "count"),
        "bulksink.docs_per_attempt": (docs / (batches + retries) if batches else 0.0, "count"),
        "trace.pass_s": (med([p["wall_s"] for p in warm]), "s"),
        "trace.span_cover": (med([sum(c["end_ns"] - c["start_ns"] for c in kids)
                                  / (spans[pid]["end_ns"] - spans[pid]["start_ns"])
                                  for pid, kids in by_pass.items()]), "fraction"),
    }
    for m in MODULES:
        layer["operators.%s.s" % m] = (
            span_sum(lambda n, m=m: n.startswith("op:%s:" % m)), "s")
    return layer, extra


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    classes = build.build(root)
    t_start = time.time()
    data = testdata(root)
    sf_dir = os.path.join(data, WORKLOADS[args.workload])
    if not os.path.isdir(sf_dir):
        raise SystemExit("graftbench: testdata not found at %s" % sf_dir)
    with open(os.path.join(BENCH, "expected.json")) as f:
        expected_reg = json.load(f)

    work = os.path.join(BENCH, ".work", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    proc = log = None
    try:
        zone, gen_reps = None, []
        if args.workload == "f1_dag":
            for rep in range(SETUP_REPS):
                if zone:
                    shutil.rmtree(zone)
                zone = os.path.join(work, "zone%d" % rep)
                t = time.perf_counter()
                f1zone.generate(sf_dir, args.seed, zone)
                gen_reps.append(time.perf_counter() - t)
        host = HostNoise()
        host.start()
        record = os.path.join(work, "record.json")
        proc, log = launch(classes, work, args, data, zone, record)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
        noise = host.stop()
        log.close()
        if rc != 0 or not os.path.exists(record):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit("graftbench: JVM exited with %s" % rc)
        with open(record) as f:
            rec = json.load(f)
        expected_f1 = None
        if zone:
            expected_f1 = f1zone.expected(sf_dir, args.seed)
        check(rec, expected_reg, expected_f1)
        values, extra = metrics(rec, gen_reps, args.trace == 1)
    finally:
        if proc and proc.poll() is None:
            proc.kill()
            proc.wait()
        if log and not log.closed:
            log.close()
        shutil.rmtree(work, ignore_errors=True)

    ops = [op for p in rec["passes"] for op in p["ops"]]
    failed = sum(not op["checked_ok"] for op in ops)
    run = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "seconds": args.seconds, "host": noise, "detail": extra,
           "ops": [{k: op.get(k) for k in ("name", "s", "checked_ok", "why")}
                   for op in ops]}
    rec_dir = os.path.join(BENCH, ".work", "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, "%s-seed%d-trace%d-%d.json" % (
            args.workload, args.seed, args.trace, int(t_start))), "w") as f:
        json.dump(dict(run, metrics={k: v[0] for k, v in values.items()}), f)
    print("# host " + json.dumps(noise))
    print("# detail " + json.dumps(extra))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload one_plan --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds the engine and the harness
(perfbench/build.py), launches one harness JVM on the workload's queries
(perfbench/workloads.json) over the seed-42 sf0.1 fixture, checks the
cold-pass outputs against the pinned oracle answers (perfbench/check.py)
and prints the metrics by name, then one JSON result as the last line.

Times are steal-free: each is wall time less the share of it that the
hypervisor stole from this machine's vCPUs (steal_free in workloads.json);
the raw wall figures are printed beside them.

--trace 0 reports the end-to-end metrics; --trace 1 runs every query
untraced and traced back to back and reports the per-layer metrics and
the tracing overhead. Every run leaves its raw samples (and, traced, its
per-query rows) in .bench_build/results/, a traced run its spans in
.bench_build/trace/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import check  # noqa: E402

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_DEADLINE_S = 160
RUN_DIR = os.path.join(build.BUILD_DIR, "run")
TRACE_DIR = os.path.join(build.BUILD_DIR, "trace")
RESULT_DIR = os.path.join(build.BUILD_DIR, "results")  # raw per-run samples
# Counts a traced run must repeat exactly, per query.
COUNT_KEYS = ["build_jobs", "plan_jobs", "exec_jobs", "exec_stages", "exec_tasks",
              "exchanges", "scans", "smj", "bhj", "files_read", "rdds_left",
              "cached_plans_left", "stream_batches", "state_rows"]
MB = 1024 * 1024


def host_ticks():
    """Machine-wide (busy, stolen) CPU clock ticks from /proc/stat, read as
    HostCpu in the harness reads them."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def stolen_share(a, b):
    busy, stolen = b[0] - a[0], b[1] - a[1]
    return stolen / (busy + stolen) if busy + stolen else 0.0


def steal_free(wall_s, share):
    """Wall time less the share of it a hypervisor stole from this machine's
    vCPUs: what the time would be on a host no other tenant loads."""
    return wall_s * (1 - share)


def run_harness(cp, jvm_flags, harness_args, log_path):
    """Runs one harness JVM; returns ((setup wall s, its stolen share),
    peak_rss_kb, result)."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.abspath(os.path.join(RUN_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm_flags + opens +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", cp, "perfbench.Harness"] + harness_args)
    env = {k: os.environ[k] for k in ("PATH", "HOME") if k in os.environ}
    env.update(LANG="C.UTF-8", SPARK_LOCAL_IP="127.0.0.1")
    with open(log_path, "w") as log:
        t_launch, h_launch = time.monotonic(), host_ticks()
        p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                             stderr=log, cwd=RUN_DIR, env=env, text=True,
                             start_new_session=True)
        watchdog = threading.Timer(JVM_DEADLINE_S, lambda: os.killpg(p.pid, signal.SIGKILL))
        watchdog.start()
        setup = hwm_kb = result = None
        try:
            for line in p.stdout:
                if line.startswith("@@timed_start"):
                    setup = (time.monotonic() - t_launch, stolen_share(h_launch, host_ticks()))
                elif line.startswith("@@result "):
                    with open(f"/proc/{p.pid}/status") as f:
                        hwm_kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
                    result = json.loads(line[len("@@result "):])
                    p.stdin.close()
            p.wait(timeout=30)
        finally:
            watchdog.cancel()
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if result is None or setup is None:
        raise SystemExit(f"harness JVM exited {p.returncode} without a result; see {log_path}")
    return setup, hwm_kb, result


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(res, setup, hwm_kb):
    samples = {q: [steal_free(w, s) for w, s in zip(ws, res["stolen"][q])]
               for q, ws in res["samples"].items()}
    per_query = [statistics.median(xs) for xs in samples.values()]
    flat = [x for xs in samples.values() for x in xs]
    return {
        "pass_s": metric(sum(per_query), "s"),
        "query_p50_s": metric(statistics.median(flat), "s"),
        "setup_s": metric(steal_free(*setup), "s"),
        "peak_rss_mb": metric(hwm_kb / 1024, "MB"),
    }, len(flat)


def per_layer(res, workload, stamp):
    """Per-layer metrics of a traced run, summed over the workload's queries
    (times: each query's median over its traced samples; counts: exact)."""
    by_q = {}
    for r in res["rows"]:
        by_q.setdefault(r["query"], []).append(r)

    def med(q, k):
        return statistics.median(r[k] for r in by_q[q])

    def total(k):
        return sum(med(q, k) for q in by_q)

    counts = {q: {k: rs[0][k] for k in COUNT_KEYS} for q, rs in by_q.items()}
    unsteady = [f"{q}.{k}" for q, rs in by_q.items() for k in COUNT_KEYS
                if any(r[k] != rs[0][k] for r in rs)]
    # Cross-run self-check against the previous traced run of this workload
    # on the same code: the file is keyed by the build's source stamp.
    os.makedirs(TRACE_DIR, exist_ok=True)
    prev_path = os.path.join(TRACE_DIR, f"{workload}-{stamp[:16]}.counts.json")
    if os.path.exists(prev_path):
        with open(prev_path) as f:
            prev = json.load(f)
        unsteady += [f"{q}.{k}(prev)" for q in counts if q in prev
                     for k in COUNT_KEYS if prev[q].get(k) != counts[q][k]]
    with open(prev_path, "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)

    def csum(k):
        return sum(c[k] for c in counts.values())

    wall = sum(statistics.median(xs) for xs in res["traced_samples"].values())
    untraced = sum(statistics.median(xs) for xs in res["samples"].values())
    all_jobs = csum("build_jobs") + csum("plan_jobs") + csum("exec_jobs")
    batches = [b for r in res["rows"] for b in r["batch_ms"]]
    m = {
        "ops.build_s": metric(total("build_s"), "s"),
        "ops.build_jobs": metric(csum("build_jobs"), "count"),
        "catalyst.plan_s": metric(total("plan_s"), "s"),
        "exec.exec_s": metric(total("exec_s"), "s"),
        "exec.jobs": metric(csum("exec_jobs"), "count"),
        "exec.stages": metric(csum("exec_stages"), "count"),
        "exec.tasks": metric(csum("exec_tasks"), "count"),
        "exec.task_s": metric(total("exec_task_s"), "s"),
        "exec.task_cpu_s": metric(total("exec_task_cpu_s"), "s"),
        "exec.gc_s": metric(total("exec_gc_s"), "s"),
        "exec.s_per_job": metric(wall / all_jobs if all_jobs else 0.0, "s"),
        "shuffle.read_mb": metric(total("shuffle_read_b") / MB, "MB"),
        "shuffle.write_mb": metric(total("shuffle_write_b") / MB, "MB"),
        "shuffle.spill_mb": metric(total("spill_b") / MB, "MB"),
        "plan.exchanges": metric(csum("exchanges"), "count"),
        "plan.scans": metric(csum("scans"), "count"),
        "plan.smj": metric(csum("smj"), "count"),
        "plan.bhj": metric(csum("bhj"), "count"),
        "sources.files_read": metric(csum("files_read"), "count"),
        "sources.input_mb": metric(total("input_b") / MB, "MB"),
        "sources.output_mb": metric(total("output_b") / MB, "MB"),
        "pins.rdds_left": metric(csum("rdds_left"), "count"),
        "pins.cached_plans_left": metric(csum("cached_plans_left"), "count"),
        "streaming.batches": metric(csum("stream_batches"), "count"),
        "streaming.batch_p50_ms": metric(statistics.median(batches) if batches else 0.0, "ms"),
        "streaming.state_rows": metric(csum("state_rows"), "count"),
        "trace.overhead_frac": metric(wall / untraced - 1, "ratio"),
        "trace.unsteady_counts": metric(len(unsteady), "count"),
    }
    return m, unsteady


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # A terminated runner still stops its JVM (run_harness's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        raise SystemExit(f"unknown workload {a.workload}; one of {sorted(spec['workloads'])}")
    queries = spec["workloads"][a.workload]["queries"]
    fixture = os.path.abspath(spec["fixture"])
    if not os.path.isdir(fixture):
        raise SystemExit(f"fixture missing: {spec['fixture']}")

    t_build = time.monotonic()
    cp, stamp = build.build(".")
    print(f"build ready in {time.monotonic() - t_build:.1f} s", file=sys.stderr)

    check_dir = os.path.abspath(os.path.join(RUN_DIR, f"check-{a.workload}"))
    shutil.rmtree(check_dir, ignore_errors=True)
    spans = os.path.abspath(os.path.join(TRACE_DIR, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    setup, hwm_kb, res = run_harness(cp, spec["jvm"], [
        f"fixture={fixture}", f"queries={','.join(queries)}", f"seed={a.seed}",
        f"seconds={a.seconds}", f"trace={a.trace}", f"check={check_dir}", f"spans={spans}",
    ], os.path.join(build.BUILD_DIR, "harness.log"))

    os.makedirs(RESULT_DIR, exist_ok=True)
    with open(os.path.join(RESULT_DIR, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(dict(res, setup=setup, peak_rss_kb=hwm_kb), f)

    verdicts = check.verify(check_dir, queries)
    failed_execs = set(res["failures"])
    failed_execs |= {f"{q}@cold" for q, why in verdicts.items() if why}
    failed = len(failed_execs)
    attempted = res["attempted"]
    missing = [q for q in queries if not res["samples"].get(q)]

    print(f"workload {a.workload}: {len(queries)} queries, seed {a.seed}, "
          f"{res['passes']} timed passes, trace {a.trace}")
    for q, why in verdicts.items():
        if why:
            print(f"output check FAIL {q}: {why}")
    for k, why in res["failures"].items():
        print(f"execution FAIL {k}: {why}")
    print(f"output check: {sum(1 for w in verdicts.values() if not w)}/{len(queries)} "
          "queries match their pinned oracle answer")

    if a.trace:
        if not res["rows"]:
            raise SystemExit("no query completed a traced sample")
        metrics, unsteady = per_layer(res, a.workload, stamp)
        if unsteady:
            print("unsteady counts: " + ", ".join(unsteady))
    else:
        if missing and len(missing) == len(queries):
            raise SystemExit("no query completed a timed sample")
        metrics, n = end_to_end(res, setup, hwm_kb)
        print(f"timed samples: {n}" + (f"; none for {', '.join(missing)}" if missing else ""))
        shares = [x for xs in res["stolen"].values() for x in xs]
        raw_pass = sum(statistics.median(xs) for xs in res["samples"].values())
        print(f"times below are steal-free; as raw wall time: pass_s {raw_pass:.6g} s, "
              f"setup_s {setup[0]:.6g} s; stolen share: median {statistics.median(shares):.3f} "
              f"over the samples, {setup[1]:.3f} over set-up")
    for name, m in metrics.items():
        print(f"{name:24s} {m['value']:.6g} {m['unit']}")
    print(f"{'failed_frac':24s} {failed / attempted:.6g} ratio ({failed} of {attempted})")
    print(json.dumps({"correct": failed == 0 and not missing, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""End-to-end benchmark of the graft library.

Run from the root of a checkout:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the client (`perfbench/build.sbt`, compiled against the checkout's
library sources) on first use, generates the workload's inputs from the
seed, runs the client JVM (Spark local[nproc], one closed-loop client:
repeated set-ups, a few untimed settle passes, then whole passes of the
workload's ops: --seconds divided by the workload's nominal pass time at
the commit that defined the benchmark), checks every output, and prints
one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json; with --trace 1 the per-layer
ones, from listener spans recorded around each op. The full run record
(input properties, session parity, contention, per-op records, spans and
per-layer self times) is written to .bench_build/perfbench/<workload>/.

`lakehouse_dml` (DML on the `sources` tables) runs and checks like the
others but is not a BENCHMARK.json workload: its figures spread too much
between runs of the same code to bound.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

SETUPS = 3
JVM_HEAP = "1g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# trials per reserve job: ReserveMc.nSims in the client
N_SIMS = 10000

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "query_p50_ms": "ms", "query_tail_ms": "ms",
    "commit_p50_ms": "ms", "commit_tail_ms": "ms", "ok_frac": "ratio",
    "live_heap_mb": "MB", "stored_bytes_per_user_byte": "ratio",
}

PER_LAYER = {
    "scan.bytes": "bytes", "scan.records": "count", "scan.files": "count",
    "actuarial.call_ms": "ms", "actuarial.rows_generated": "count",
    "actuarial.strata": "count",
    "ops.call_ms": "ms",
    "dedup.candidate_pairs": "count", "dedup.pairs_kept": "count",
    "dedup.kept_per_candidate": "ratio",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.delay_ms": "ms", "sched.task_retries": "count",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms", "exec.cpu_per_run": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "shuffle.write_ms": "ms",
    "spill.mem_bytes": "bytes", "spill.disk_bytes": "bytes",
    "shuffle.bytes_per_scan_byte": "ratio",
    # the DML and read-path sources.* metrics (merge, delete, compact,
    # pruning, rows served) are non-zero only on lakehouse_dml, which is not
    # a BENCHMARK.json workload; its run records still hold them
    "sources.insert_ms": "ms", "sources.data_bytes": "bytes", "sources.meta_bytes": "bytes",
    "sources.live_files": "count",
    "output.rows": "count", "output.bytes": "bytes",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms", "driver.other_ms": "ms",
    "trace.wall_s": "s",
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout, or when this
    process is stopped, kills the whole group and waits for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode


def source_stamp(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(cp, tmp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # A fixed, pre-touched heap and the throughput collector: without them
    # op times kept falling for ~30 s into a run instead of levelling off.
    heap = ["-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}"]
    return cmd + heap + [f"-Djava.io.tmpdir={tmp}", "-cp", cp]


def build(root, out):
    """Compiles the library and the client once per source state; returns
    the runtime classpath and whether it built now."""
    os.makedirs(out, exist_ok=True)
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    stamp = source_stamp(root)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
            return open(cp_file).read().strip(), False
        log = os.path.join(out, "build.log")
        with open(log, "w") as fh:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                           cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
        lines = open(log).read().splitlines()
        if rc != 0:
            sys.stderr.write("\n".join(lines[-30:]) + "\n")
            fail(f"build failed (exit {rc}); log in {log}")
        cp = [line for line in lines if "perfbench" in line and "classes" in line
              and not line.startswith("[")][-1]
        with open(cp_file, "w") as fh:
            fh.write(cp + "\n")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        return cp, True


def bench_conf(root, cores):
    """The session configuration `graft.Bench` builds, read from its source:
    the benchmark's session must match it."""
    src = open(os.path.join(root, "src", "main", "scala", "graft", "Bench.scala")).read()
    body = src[src.index("SparkSession.builder()"):src.index(".getOrCreate()")]
    want = {"spark.master": f"local[{cores}]"}
    for k, v in re.findall(r'\.config\("([^"]+)",\s*("[^"]*"|\w+)\)', body):
        want[k] = v.strip('"') if v.startswith('"') else str(cores)
    return want


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    return [json.loads(line) for line in open(path) if line.strip()]


def per_pass(total, passes):
    return total / passes if passes > 0 else 0.0


def end_to_end(run, ops, wrong, n_failed, user_bytes):
    reads = [o["ms"] for o in ops if o["kind"] == "read" and o["ok"]]
    commits = [o["ms"] for o in ops if o["kind"] == "commit" and o["ok"]]
    q_tail, c_tail = stats.tail(reads), stats.tail(commits)
    stored = run["data_bytes"] + run["meta_bytes"]
    values = {
        "setup_s": stats.median(run["setup_ms"]) / 1000.0,
        # median pass: a host stall in a few passes does not move it
        "wall_s": stats.median(run["pass_s"]),
        "query_p50_ms": stats.median(reads),
        "query_tail_ms": q_tail["value"],
        "commit_p50_ms": stats.median(commits),
        "commit_tail_ms": c_tail["value"],
        "ok_frac": 1.0 - (n_failed + len(wrong)) / max(1, len(ops)),
        "live_heap_mb": run["live_heap_mb"],
        "stored_bytes_per_user_byte": stored / user_bytes if user_bytes else None,
    }
    tails = {"query_tail": q_tail, "commit_tail": c_tail}
    return values, tails


def layers(run, ops, spans, props, q41_rows):
    """Per-layer metrics of a traced run: totals per pass unless named as
    a ratio, a per-statement mean (sources.*_ms) or an end state."""
    passes = run["passes"]
    tot = {}
    for o in ops:
        for k, v in o.get("counts", {}).items():
            tot[k] = tot.get(k, 0.0) + v
    g = lambda k: tot.get(k, 0.0)  # noqa: E731
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    call_ms = {"ops.call": 0.0, "actuarial.call": 0.0}
    plan_ms = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    other_ms, self_by_layer, additivity = 0.0, {}, 0.0
    for i, ss in by_op.items():
        triples = [(s["name"], s["t0"], s["t1"]) for s in ss]
        selfs = stats.self_times(triples)
        root_ms = ss[0]["t1"] - ss[0]["t0"]
        additivity = max(additivity, abs(sum(selfs) - root_ms))
        other_ms += selfs[0]
        for s, st in zip(ss, selfs):
            self_by_layer[s["name"]] = self_by_layer.get(s["name"], 0.0) + st
            if s["name"] in call_ms:
                call_ms[s["name"]] += s["t1"] - s["t0"]
            if s["name"].startswith("plan."):
                ph = s["name"][5:]
                plan_ms[ph] = plan_ms.get(ph, 0.0) + s["t1"] - s["t0"]
    gen_rows = sum(o.get("counts", {}).get("generate_rows", 0.0) for o in ops
                   if o["layer"] == "actuarial.call")
    cand = sum(o.get("counts", {}).get("shingle_join_rows", 0.0) for o in ops
               if o["name"].startswith("q41_"))

    def mean_ms(kind):
        xs = [o["ms"] for o in ops if o["kind"] == "commit" and
              (o["name"].split(".")[-1].split("#")[0] == kind)]
        return sum(xs) / len(xs) if xs else 0.0

    planned, pruned = g("sources_files_planned"), g("sources_files_pruned")
    m = {
        "scan.bytes": per_pass(g("scan_bytes"), passes),
        "scan.records": per_pass(g("scan_records"), passes),
        "scan.files": per_pass(g("scan_files"), passes),
        "actuarial.call_ms": per_pass(call_ms["actuarial.call"], passes),
        "actuarial.rows_generated": per_pass(gen_rows, passes),
        "actuarial.strata": float(props.get("actuarial.strata", 0)),
        "ops.call_ms": per_pass(call_ms["ops.call"], passes),
        "dedup.candidate_pairs": per_pass(cand, passes),
        "dedup.pairs_kept": per_pass(q41_rows, passes),
        "dedup.kept_per_candidate": q41_rows / cand if cand else 0.0,
        "plan.analysis_ms": per_pass(plan_ms["analysis"], passes),
        "plan.optimization_ms": per_pass(plan_ms["optimization"], passes),
        "plan.planning_ms": per_pass(plan_ms["planning"], passes),
        "sched.jobs": per_pass(g("jobs"), passes),
        "sched.stages": per_pass(g("stages"), passes),
        "sched.tasks": per_pass(g("tasks"), passes),
        "sched.delay_ms": per_pass(g("delay_ms"), passes),
        "sched.task_retries": per_pass(g("task_retries"), passes),
        "exec.run_ms": per_pass(g("run_ms"), passes),
        "exec.cpu_ms": per_pass(g("cpu_ms"), passes),
        "exec.gc_ms": per_pass(g("gc_ms"), passes),
        "exec.cpu_per_run": g("cpu_ms") / g("run_ms") if g("run_ms") else 0.0,
        "shuffle.write_bytes": per_pass(g("shuffle_write_bytes"), passes),
        "shuffle.read_bytes": per_pass(g("shuffle_read_bytes"), passes),
        "shuffle.fetch_wait_ms": per_pass(g("shuffle_fetch_wait_ms"), passes),
        "shuffle.write_ms": per_pass(g("shuffle_write_ms"), passes),
        "spill.mem_bytes": per_pass(g("spill_mem_bytes"), passes),
        "spill.disk_bytes": per_pass(g("spill_disk_bytes"), passes),
        "shuffle.bytes_per_scan_byte":
            g("shuffle_write_bytes") / g("scan_bytes") if g("scan_bytes") else 0.0,
        "sources.insert_ms": mean_ms("insert"),
        "sources.merge_ms": mean_ms("merge"),
        "sources.delete_ms": mean_ms("delete"),
        "sources.compact_ms": mean_ms("compact"),
        "sources.files_planned": per_pass(planned, passes),
        "sources.files_pruned": per_pass(pruned, passes),
        "sources.prune_ratio": pruned / (planned + pruned) if planned + pruned else 0.0,
        "sources.bloom_skips": per_pass(g("sources_bloom_skips"), passes),
        "sources.rows_served": per_pass(g("sources_rows_served"), passes),
        "sources.data_bytes": float(run["data_bytes"]),
        "sources.meta_bytes": float(run["meta_bytes"]),
        "sources.live_files": float(run["data_files"]),
        "output.rows": per_pass(sum(o.get("rows", 0) for o in ops), passes),
        "output.bytes": per_pass(g("result_bytes"), passes),
        "jvm.gc_ms": per_pass(g("jvm_gc_ms"), passes),
        "jvm.jit_ms": per_pass(g("jvm_jit_ms"), passes),
        "driver.other_ms": per_pass(other_ms, passes),
        "trace.wall_s": stats.median(run["pass_s"]) or 0.0,
    }
    detail = {"self_ms_per_pass": {k: per_pass(v, passes) for k, v in self_by_layer.items()},
              "max_self_time_residual_ms": additivity}
    return m, detail


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS) + ["all"],
                    help="a workload of BENCHMARK.json, or all of them in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds through run_group's cleanup instead of orphaning the
    # build or the client JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.workload == "all":
        bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
        rcs = [subprocess.call([sys.executable, __file__, "--workload", w["name"],
                                "--seed", str(a.seed), "--seconds", str(a.seconds),
                                "--trace", str(a.trace)]) for w in bench["workloads"]]
        sys.exit(max(rcs))
    t_start = time.monotonic()
    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join("tools", "oracle_check.py")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a graft checkout: {need} is missing")
    out = os.path.join(root, ".bench_build", "perfbench")
    cp, built = build(root, out)

    work = os.path.join(out, a.workload, f"trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inp = os.path.join(work, "input")
    t_gen = time.monotonic()
    props = gen.generate(a.workload, a.seed, inp)
    t_jvm = time.monotonic()

    cores = len(os.sched_getaffinity(0))
    cmd = java_cmd(cp, os.path.join(work, "tmp"))
    cmd += ["perfbench.Main", "--workload", a.workload, "--input", inp,
            "--work", work, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--setups", str(SETUPS), "--cores", str(cores)]
    budget = (900 if built else RUN_TIMEOUT_S) - (time.monotonic() - t_start)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = run_group(cmd, budget, stdout=log, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, cwd=root)
    if rc != 0:
        sys.stderr.write("".join(open(os.path.join(work, "jvm.log")).readlines()[-20:]))
        fail(f"client exited with {rc}" if rc is not None else "client timed out")

    t_check = time.monotonic()
    run = json.load(open(os.path.join(work, "run.json")))
    ops = read_jsonl(os.path.join(work, "ops.jsonl"))
    spans = read_jsonl(os.path.join(work, "spans.jsonl"))
    failed = [o for o in ops if not o["ok"]]
    # a later run of a query that differs from its first run
    repeat_wrong = {o["i"]: o["wrong"] for o in ops if "wrong" in o}
    extra = {}
    if a.workload == "near_dup":
        wrong, extra["oracle"] = check.oracle(root, inp, work, ops)
        user_bytes = run["runlog_user_bytes"]
    elif a.workload == "reserve_mc":
        wrong, extra["clt_band"] = check.reserve_band(props, N_SIMS, ops)
        user_bytes = run["runlog_user_bytes"]
    else:
        wrong, extra["lakehouse"] = check.lakehouse(inp, work, ops)
        user_bytes = extra["lakehouse"]["user_bytes"]
        for flavor, good in extra["lakehouse"]["readback_ok"].items():
            if not good:
                wrong[f"readback.{flavor}"] = "read-back from the table path differs from the model"

    wrong.update(repeat_wrong)
    values, tails = end_to_end(run, ops, wrong, len(failed), user_bytes)
    want_conf = bench_conf(root, cores)
    parity = {k: {"bench": v, "run": run["conf"].get(k)} for k, v in want_conf.items()
              if run["conf"].get(k) != v}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "input": props, "cores": cores, "spark_version": run["spark_version"],
        "jvm_version": run["jvm_version"], "steal_pct": run["steal_pct"],
        "exec.cpu_per_run": run["exec_cpu_per_run"],
        "session_conf": run["conf"], "session_parity": not parity, "parity_diff": parity,
        "setup_ms": run["setup_ms"], "settle_s": run["settle_s"],
        "live_heap_pools_mb": run["live_heap_pools_mb"], "passes": run["passes"], "ops": len(ops),
        "tails": tails, "failed_ops": {o["i"]: o.get("err") for o in failed},
        "wrong_ops": {str(k): v for k, v in wrong.items()}, "checks": extra,
        "end_to_end": values,
        "timings_s": {"build": t_gen - t_start, "generate": t_jvm - t_gen,
                      "client": t_check - t_jvm, "check": time.monotonic() - t_check},
    }
    if a.trace:
        q41_rows = sum(o.get("rows", 0) for o in ops if o["name"].startswith("q41_") and o["ok"])
        per_layer, detail = layers(run, ops, spans, props, q41_rows)
        record["per_layer"] = per_layer
        record["trace"] = detail
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        missing = [k for k, v in values.items() if v is None]
        if missing:
            fail(f"no samples for {missing}; see {work}")
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    with open(os.path.join(work, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(f"perfbench: {a.workload} seed {a.seed}: {len(ops)} ops, {run['passes']:.2f} passes, "
          f"record {os.path.relpath(os.path.join(work, 'record.json'), root)}")
    n_bad = len(failed) + len(wrong)
    print(json.dumps({"correct": n_bad == 0, "attempted": len(ops), "failed": n_bad,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

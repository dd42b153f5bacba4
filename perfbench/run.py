#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and the
engine with sbt (into the checkout's sbt target directories and
`.bench_build/`); later runs reuse the build while the sources are
unchanged. Each run starts one JVM (`perfbench.Harness`) with
`local[<nproc>]` Spark, drives a closed loop of ops from one client thread,
checks every op's output, and prints a table followed by one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics of `BENCHMARK.json`; with `--trace 1`
they are its per-layer metrics. The exit code is non-zero when any output
is wrong or the run cannot complete. See `perfbench/README.md`.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import caic_model  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
DATA = os.path.join(HERE, "data", "sf0.01")
ENGINE_MARKER = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
# A fixed heap (-Xms = -Xmx) keeps GC sizing decisions out of the memory
# and time figures.
HEAP = "2g"
SETUPS = 3
CAIC_DOCS = 240
# Areas per CAIC invocation. Each pass of five invocations takes every size
# once, in a seeded order, so passes carry the same work whatever the seed.
CAIC_SIZES = [10, 15, 20, 25, 30]
PASS_ORDERS = 400
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
PASS_DEADLINE_S = 140
MB = 1048576.0

# Why each workload exists is in README.md. A pass runs each op of the mix
# once, in a seeded order; `warmup` is the op that ends each set-up. A run
# makes `priming` untimed passes, then round(seconds / pass_s) timed
# passes: `pass_s` is the warm pass time at the seed commit on a 4-core
# host, so a run measures a fixed amount of work that takes about
# `--seconds` there.
WORKLOADS = {
    "caic_etl": dict(warmup="caic", pass_s=2.2, priming=5, mix=["caic"] * 5),
    "engine_mix": dict(warmup="q30_ngram_jaccard", pass_s=1.45, priming=8,
                       mix=["q30_ngram_jaccard", "q189_mor_merge"]),
}

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def run_process(cmd, cwd, timeout, out_path, env=None):
    """Run `cmd` in its own process group with output to `out_path`; on
    timeout kill the whole group. Returns the exit code (None on timeout)
    after every process of the group has ended."""
    with open(out_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


# ------------------------------------------------------------------- build

def sources_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the harness classpath."""
    cp_file = os.path.join(BUILD, "harness.classpath")
    stamp = sources_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    build_log = os.path.join(BUILD, "build.log")
    log("building the engine and the harness with sbt")
    t0 = time.time()
    code = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                        "export Runtime/fullClasspath"],
                       HARNESS, BUILD_TIMEOUT_S, build_log, env)
    if code != 0:
        raise SystemExit(f"build failed (exit {code}):\n{tail(build_log)}")
    with open(build_log) as f:
        lines = [ln.strip() for ln in f if ".jar" in ln and not ln.startswith("[")]
    if not lines:
        raise SystemExit(f"build printed no classpath:\n{tail(build_log)}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


# --------------------------------------------------------------------- run

def prepare_inputs(workload, seed, run_dir):
    """Seeded inputs: the op order of every pass and, for caic_etl, the
    documents of every invocation."""
    rng = random.Random(seed)
    mix = WORKLOADS[workload]["mix"]
    with open(os.path.join(run_dir, "passes.txt"), "w") as f:
        for _ in range(PASS_ORDERS):
            order = list(mix)
            rng.shuffle(order)
            f.write(",".join(order) + "\n")
    docs = []
    if workload == "caic_etl":
        sizes = [20] * SETUPS  # the warm-up ops of the set-ups
        while len(sizes) < CAIC_DOCS:
            sizes += rng.sample(CAIC_SIZES, len(CAIC_SIZES))
        docs = [caic_model.invocation(rng, n) for n in sizes[:CAIC_DOCS]]
        with open(os.path.join(run_dir, "docs.jsonl"), "w") as f:
            for areas, products in docs:
                f.write(json.dumps(areas, separators=(",", ":")) + "\n")
                f.write(json.dumps(products, separators=(",", ":")) + "\n")
    return docs


def launch(workload, seed, seconds, trace, cp, run_dir, cores):
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cmd = [java_bin()] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"-Dlog4j2.configurationFile={os.path.join(HARNESS, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Harness",
        "--workload", workload, "--data", DATA,
        "--trace", "1" if trace else "0", "--launch-ms", str(int(time.time() * 1000)),
        "--passes", os.path.join(run_dir, "passes.txt"),
        "--timed-passes", str(max(1, round(seconds / WORKLOADS[workload]["pass_s"]))),
        "--deadline-s", str(PASS_DEADLINE_S),
        "--warmup", WORKLOADS[workload]["warmup"],
        "--docs", os.path.join(run_dir, "docs.jsonl"),
        "--out", out, "--cores", str(cores), "--setups", str(SETUPS),
        "--priming", str(WORKLOADS[workload]["priming"])]
    jvm_log = os.path.join(run_dir, "jvm.log")
    code = run_process(cmd, run_dir, RUN_TIMEOUT_S, jvm_log)
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(tail(jvm_log, 60))
        raise SystemExit(f"harness exited with {code}")
    with open(jvm_log, errors="replace") as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    with open(out) as f:
        return json.load(f)


def load_expected():
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)["queries"]


def check_ops(result, docs, run_dir):
    """Ids of failed ops. An op fails if it threw or its output is wrong;
    each failure goes to stderr with the op's name and the reason."""
    expected = load_expected()
    failed = set()
    for op in result["ops"]:
        reason = None
        if op["status"] != "ok":
            reason = f"{op['status']}: {op.get('error')}"
        elif op["name"] == "caic":
            areas, products = docs[op["doc"]]
            path = os.path.join(run_dir, "tmp", "caic_submit", op["submitted"])
            if not os.path.exists(path):
                reason = "nothing submitted"
            else:
                with open(path) as f:
                    reason = caic_model.check(areas, products, f.read())
        else:
            want = expected.get(op["name"])
            if want is None:
                reason = "no pinned result"
            elif (op["rows"], op["digest"]) != (want["rows"], want["digest"]):
                reason = (f"rows/digest {op['rows']}/{op['digest']}, "
                          f"pinned {want['rows']}/{want['digest']}")
        if reason:
            failed.add(op["id"])
            log(f"FAILED op {op['id']} {op['name']}: {reason}")
    return failed


def timed_passes(result, failed, traced):
    """Timed passes whose ops all succeeded, as lists of op records."""
    by_pass = {}
    for op in result["ops"]:
        if op["pass"] >= 1 and op["traced"] == traced:
            by_pass.setdefault(op["pass"], []).append(op)
    return [ops for _, ops in sorted(by_pass.items())
            if not any(op["id"] in failed for op in ops)]


def pass_wall_s(ops):
    return sum(op["op_ms"] + op["drain_ms"] for op in ops) / 1000.0


def per_query_medians(passes, f):
    """Median of f(op) for each query of the mix, over the timed passes."""
    by_name = {}
    for ops in passes:
        for op in ops:
            by_name.setdefault(op["name"], []).append(f(op))
    return {name: statistics.median(v) for name, v in by_name.items()}


def end_to_end(result, failed):
    """End-to-end metrics from the untraced timed passes. A pass's wall and
    CPU time are built from each query's median over the passes (a query
    that appears k times in the mix counts k times), so one slow op moves
    them less than it would move a median of pass totals; op_p50_ms is the
    median of the queries' median latencies."""
    passes = timed_passes(result, failed, traced=False)
    if not passes:
        return {}, {}
    mix = [op["name"] for op in passes[0]]
    wall = per_query_medians(passes, lambda op: op["op_ms"] + op["drain_ms"])
    cpu = per_query_medians(passes, lambda op: op["cpu_ms"])
    lat = per_query_medians(passes, lambda op: op["op_ms"])
    m = {
        "setup_s": statistics.median(result["setups_s"]),
        "wall_s": sum(wall[n] for n in mix) / 1000.0,
        "op_p50_ms": statistics.median(list(lat.values())),
        "cpu_s": sum(cpu[n] for n in mix) / 1000.0,
        "peak_rss_mb": result["peak_rss_mb"],
        # a mean, not a median: caic documents differ in size, and the
        # mean over every timed op averages that out
        "disk_mb_written": sum(op["write_bytes"] for ops in passes for op in ops) / MB / len(passes),
    }
    latencies = [op["op_ms"] for ops in passes for op in ops]
    tail_p = stats.tail_percentile(latencies)
    info = {"setups_s": " ".join(f"{s:.2f}" for s in result["setups_s"]),
            "passes": len(passes), "ops": len(latencies),
            "pass_walls_s": " ".join(f"{pass_wall_s(ops):.2f}" for ops in passes),
            "op_tail": (f"p{tail_p[0]:g} = {tail_p[1]:.1f} ms" if tail_p
                        else f"none (needs >= 10 samples beyond p75; n = {len(latencies)})")}
    for name, v in sorted(lat.items()):
        info[f"p50 {name}"] = f"{v:.1f} ms"
    return m, info


def per_layer(result, failed):
    passes = timed_passes(result, failed, traced=True)
    if not passes:
        return {}, []
    counters = result["counters"]
    spans = result["spans"]
    span_ops = {op["id"] for ops in passes for op in ops}
    traced_spans = [s for s in spans if s["op"] in span_ops]
    jobs_by_op = {}
    phase_ms = {}
    for s in traced_spans:
        if s["name"] == "sched.job":
            jobs_by_op.setdefault(s["op"], []).append((s["start"], s["end"]))
        if s["name"].startswith("catalyst."):
            phase_ms[s["name"]] = phase_ms.get(s["name"], 0.0) + s["end"] - s["start"]
    op_span = {s["op"]: s for s in traced_spans if s["name"] == "op"}
    # A caic op is one runOnce call. Split it at its first Spark job: build
    # is the fetch, parsing and planning before it, execute the rest.
    for op in (op for ops in passes for op in ops if op["name"] == "caic"):
        s = op_span.get(op["id"])
        if s is None:
            continue
        first = min((j[0] for j in jobs_by_op.get(op["id"], ())), default=s["end"])
        cut = min(max(first, s["start"]), s["end"])
        op["build_ms"], op["execute_ms"] = cut - s["start"], s["end"] - cut
        traced_spans += [dict(s, id=f"b{op['id']}", name="build", end=cut, parent=s["id"]),
                         dict(s, id=f"x{op['id']}", name="execute", start=cut, parent=s["id"])]

    def c(op, key):
        return counters.get(str(op["id"]), {}).get(key, 0)

    def per_pass(f):
        return sum(f(ops) for ops in passes) / len(passes)

    def total(key):
        return per_pass(lambda ops: sum(c(op, key) for op in ops))

    def op_total(key):
        return per_pass(lambda ops: sum(op.get(key, 0) for op in ops))

    def driver_gap(op):
        s = op_span.get(op["id"])
        return stats.driver_gap(s["start"], s["end"], jobs_by_op.get(op["id"], ())) if s else 0.0

    tasks = total("tasks")
    selfs = stats.self_times(traced_spans)
    n = len(passes)
    untraced = timed_passes(result, failed, traced=False)
    m = {
        "setup.first_s": result["setups_s"][0],
        "build_ms": op_total("build_ms"),
        "execute_ms": op_total("execute_ms"),
        "drain_ms": op_total("drain_ms"),
        "caic.fetch_ms": op_total("fetch_ms"),
        "caic.submit_ms": op_total("submit_ms"),
        "catalyst.analysis_ms": phase_ms.get("catalyst.analysis", 0.0) / n,
        "catalyst.optimization_ms": phase_ms.get("catalyst.optimization", 0.0) / n,
        "catalyst.planning_ms": phase_ms.get("catalyst.planning", 0.0) / n,
        "catalyst.actions": total("actions"),
        "sched.driver_gap_ms": per_pass(lambda ops: sum(driver_gap(op) for op in ops)),
        "sched.jobs": total("jobs"),
        "sched.stages": total("stages"),
        "sched.tasks": tasks,
        "sched.tasks_empty_frac": total("empty_tasks") / tasks if tasks else 0.0,
        "exec.run_ms": total("run_ms"),
        "exec.cpu_ms": total("cpu_ms"),
        "exec.gc_ms": total("gc_ms"),
        "exec.deser_ms": total("deser_ms"),
        "shuffle.write_mb": total("shuffle_write_bytes") / MB,
        "shuffle.read_mb": total("shuffle_read_bytes") / MB,
        "spill.mem_mb": total("spill_mem_bytes") / MB,
        "spill.disk_mb": total("spill_disk_bytes") / MB,
        "scan.input_mb": total("input_bytes") / MB,
        "storage.peak_mb": per_pass(lambda ops: max(c(op, "storage_peak_bytes") for op in ops)) / MB,
        "caches.registered": op_total("caches_registered"),
        "disk.files_written": op_total("disk_files"),
        "disk.mb_written": op_total("disk_bytes") / MB,
        "jvm.gc_ms": op_total("gc_ms"),
        "jvm.heap_peak_mb": statistics.median([p["heap_peak_mb"] for p in result["passes"]
                                          if p["traced"] and p["pass"] >= 1]),
        "self.build_ms": selfs.get("build", 0.0) / n,
        "self.execute_ms": selfs.get("execute", 0.0) / n,
        "self.drain_ms": selfs.get("drain", 0.0) / n,
        "self.catalyst_ms": sum(v for k, v in selfs.items() if k.startswith("catalyst.")) / n,
        "self.sched_job_ms": selfs.get("sched.job", 0.0) / n,
        "self.exec_stage_ms": selfs.get("exec.stage", 0.0) / n,
        "trace.spans": len(traced_spans) / n,
        "trace.overhead_ms": (1000.0 * (statistics.median([pass_wall_s(ops) for ops in passes])
                                        - statistics.median([pass_wall_s(ops) for ops in untraced]))
                              if untraced else 0.0),
    }
    return m, traced_spans


def run_one(workload, seed, seconds, trace, cp, spec, cores):
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        docs = prepare_inputs(workload, seed, run_dir)
        result = launch(workload, seed, seconds, trace, cp, run_dir, cores)
        failed = check_ops(result, docs, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted = len(result["ops"])
    if trace:
        computed, spans = per_layer(result, failed)
        names = spec["per_layer"]
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{workload}-seed{seed}.json"), "w") as f:
            json.dump({"spans": spans, "parents": stats.resolve_parents(spans)}, f)
        info = {}
    else:
        computed, info = end_to_end(result, failed)
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": computed[m["name"]], "unit": m["unit"]}
               for m in names if m["name"] in computed}
    correct = not failed and len(metrics) == len(names)
    print(f"workload {workload}  seed {seed}  trace {int(trace)}  cores {cores}  "
          f"heap {result['heap_max_mb']:.0f} MB  spark {result['spark_version']}")
    for name, v in metrics.items():
        print(f"  {name:28s} {v['value']:14.4f} {v['unit']}")
    print(f"  {'failed_frac':28s} {len(failed) / attempted:14.4f} (failed {len(failed)} of "
          f"{attempted} ops)")
    for k, v in info.items():
        print(f"  {k:28s} {v}")
    return {"correct": correct, "attempted": attempted, "failed": len(failed),
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(ENGINE_MARKER):
        log("the engine's sources are not in this checkout; nothing to benchmark")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    cores = len(os.sched_getaffinity(0))
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    results = [run_one(w, a.seed, a.seconds, bool(a.trace), cp, spec, cores) for w in names]
    if len(results) == 1:
        res = results[0]
    else:
        res = {"correct": all(r["correct"] for r in results),
               "attempted": sum(r["attempted"] for r in results),
               "failed": sum(r["failed"] for r in results),
               "metrics": {f"{w}.{k}": v for w, r in zip(names, results)
                           for k, v in r["metrics"].items()}}
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

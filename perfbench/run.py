#!/usr/bin/env python3
"""Seeded benchmark of the catabra operator surface.

    python3 perfbench/run.py --workload interval_join --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
benchmark with sbt; later runs reuse the build until a source changes. The
JVM side (perfbench/src) drives the public API as one closed-loop caller and
writes raw timings; this script turns them into metrics, saves the full
record under .bench_build/perfbench/results/ and prints one JSON line last.
With --trace 1 it also writes the spans of the traced iterations to
.bench_build/perfbench/traces/.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

WORKLOADS = ("interval_join", "resample_eav", "op_chain", "ann_lifecycle")
OUT = os.path.join(".bench_build", "perfbench")
# spark-submit adds these module openings; a plain java launch must too
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
DEADLINE_S = 170  # the whole run, build excluded, must end within 180 s
BUILD_DEADLINE_S = 850


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = ["src", os.path.join("perfbench", "src"), "project"]
    files = ["build.sbt", os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project", "build.properties")]
    for root in roots:
        for d, dirs, names in os.walk(root):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(digest):
    """Compiles library and benchmark unless the sources are unchanged since
    the last build; returns the runtime classpath and whether it built."""
    stamp = os.path.join(OUT, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("source_digest") == digest:
            return cached["classpath"], False
    print("[perfbench] building with sbt", file=sys.stderr)
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd="perfbench", stdout=subprocess.PIPE, stderr=sys.stderr,
            text=True, timeout=BUILD_DEADLINE_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})", 1)
    classpath = lines[-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"source_digest": digest, "classpath": classpath}, fh)
    return classpath, True


def host_cores():
    return len(os.sched_getaffinity(0))


def driver_memory():
    """Half of MemTotal, clamped to [2, 8] GiB, as the tier-1 tests use."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_jvm(classpath, args, cores, work, raw, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, f"-Xmx{driver_memory()}", "-XX:+UseG1GC", *opens,
           f"-Djava.io.tmpdir={work}/jvm-tmp", "-cp", classpath,
           "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
           str(args.trace), str(cores), work, raw]
    os.makedirs(os.path.join(work, "jvm-tmp"), exist_ok=True)
    started = time.time()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
        print(f"[perfbench] JVM ran {time.time() - started:.1f} s", file=sys.stderr)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("benchmark JVM ran past its deadline", 1)
    if code != 0:
        fail(f"benchmark JVM exited with {code}", 1)


def children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def call_metrics(call, kids, cores):
    """Per-layer metrics of one traced call, from its spans and counters."""
    a = call["attrs"]
    parts = {s["name"]: s for s in kids.get(call["id"], [])}
    jobs = [j for p in parts.values() for j in kids.get(p["id"], [])
            if j["layer"] == "scheduler"]
    stages = [st for j in jobs for st in kids.get(j["id"], [])]
    wall = (call["end"] - call["start"]) / 1e3
    api = parts.get("api")
    busy = stats.union_length(
        stats.clip([(j["start"], j["end"]) for j in jobs], call["start"], call["end"])) / 1e3

    def total(key):
        return sum(st["attrs"].get(key, 0.0) for st in stages)

    longest = max(stages, key=lambda st: st["end"] - st["start"], default=None)
    m = {
        "api.call_s": (api["end"] - api["start"]) / 1e3 if api else 0.0,
        "api.eager_jobs": len([j for j in jobs if api and j["parent"] == api["id"]]),
        "api.pins": a.get("api.pins", 0.0),
        "api.pins_live_after": a.get("api.pins_live_after", 0.0),
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": total("tasks"),
        "scheduler.job_busy_s": busy,
        "scheduler.driver_gap_s": wall - busy,
        "exec.task_s": total("task_s"),
        "exec.cpu_s": total("cpu_s"),
        "exec.gc_s": total("gc_s"),
        "exec.shuffle_write_mb": total("shuffle_write_mb"),
        "exec.shuffle_read_mb": total("shuffle_read_mb"),
        "exec.spill_mb": total("spill_mb"),
        "exec.peak_task_mem_mb": max((st["attrs"].get("peak_task_mem_mb", 0.0)
                                      for st in stages), default=0.0),
        "io.bytes_written_mb": total("bytes_written_mb"),
        "io.files_written": a.get("io.files_written", 0.0),
        "io.files_read": a.get("io.files_read", 0.0),
        "wall_s": wall,
        "longest_stage_s": (longest["end"] - longest["start"]) / 1e3 if longest else 0.0,
        "longest_stage_skew": (longest["attrs"]["task_max_s"] / longest["attrs"]["task_median_s"]
                               if longest and longest["attrs"].get("task_median_s") else 1.0),
    }
    for k in ("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
              "catalyst.graft_rules_s", "catalyst.codegen_compile_s",
              "kernel.sweep_rows_out", "kernel.sweep_degraded_keys", "kernel.sort_s",
              "kernel.agg_s", "kernel.join_rows_out", "result_rows"):
        m[k] = a.get(k, 0.0)
    m["exec.core_util"] = m["exec.task_s"] / (wall * cores) if wall else 0.0
    m["exec.task_skew"] = m["longest_stage_skew"]
    m["kernel.pair_yield"] = (m["result_rows"] / m["kernel.join_rows_out"]
                              if m["kernel.join_rows_out"] else 0.0)
    return m


ADDITIVE = [
    "api.call_s", "api.eager_jobs", "api.pins", "api.pins_live_after",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.graft_rules_s", "catalyst.codegen_compile_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.job_busy_s", "scheduler.driver_gap_s",
    "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.shuffle_write_mb",
    "exec.shuffle_read_mb", "exec.spill_mb",
    "kernel.sweep_rows_out", "kernel.sweep_degraded_keys", "kernel.sort_s",
    "kernel.agg_s", "io.bytes_written_mb", "io.files_written",
]
PER_LAYER = ADDITIVE + ["exec.peak_task_mem_mb", "exec.core_util", "exec.task_skew",
                        "kernel.pair_yield", "io.files_read_per_search",
                        "trace_overhead"]


def iteration_metrics(calls, wall, cores):
    """Per-layer metrics of one traced iteration: sums over its calls, and
    ratios taken over those sums."""
    m = {k: sum(c[k] for c in calls) for k in ADDITIVE}
    m["exec.peak_task_mem_mb"] = max((c["exec.peak_task_mem_mb"] for c in calls), default=0.0)
    m["exec.core_util"] = m["exec.task_s"] / (wall * cores) if wall else 0.0
    longest = max(calls, key=lambda c: c["longest_stage_s"], default=None)
    m["exec.task_skew"] = longest["longest_stage_skew"] if longest else 1.0
    joined = [c for c in calls if c["kernel.join_rows_out"]]
    m["kernel.pair_yield"] = (sum(c["result_rows"] for c in joined)
                              / sum(c["kernel.join_rows_out"] for c in joined)
                              if joined else 0.0)
    searches = [c for c in calls if c["kind"] == "ann.search"]
    m["io.files_read_per_search"] = (sum(c["io.files_read"] for c in searches)
                                     / len(searches) if searches else 0.0)
    return m


def layer_self_times(spans, kids):
    """Self time per layer, summed over the spans of the traced calls (the
    iteration spans and the untimed checks between calls have no call id)."""
    out = {}
    for s in spans:
        if s["op"] == -1:
            continue
        children = [(c["start"], c["end"]) for c in kids.get(s["id"], [])]
        out[s["layer"]] = out.get(s["layer"], 0.0) + \
            stats.self_time(s["start"], s["end"], children) / 1e3
    return out


def traced_metrics(raw, cores):
    spans = raw["spans"]
    kids = children(spans)
    its = [s for s in spans if s["layer"] == "iteration"]
    per_iter, per_kind = [], {}
    for it in its:
        calls = []
        for call in kids.get(it["id"], []):
            cm = call_metrics(call, kids, cores)
            cm["kind"] = call["name"]
            calls.append(cm)
            per_kind.setdefault(call["name"], []).append(cm)
        wall = sum(c["wall_s"] for c in calls)
        per_iter.append(iteration_metrics(calls, wall, cores))
    metrics = {k: stats.median([m[k] for m in per_iter]) for k in PER_LAYER[:-1]}
    walls = {True: [], False: []}
    for it in raw["iterations"]:
        walls[it["traced"]].append(it["wall_s"])
    metrics["trace_overhead"] = (stats.median(walls[True]) / stats.median(walls[False])
                                 if walls[True] and walls[False] else float("nan"))
    by_kind = {k: {m: stats.median([c[m] for c in v]) for m in v[0] if m != "kind"}
               for k, v in per_kind.items()}
    selfs = {k: v / max(1, len(its)) for k, v in layer_self_times(spans, kids).items()}
    return metrics, by_kind, selfs


def end_to_end(raw):
    its = raw["iterations"]
    walls = [it["wall_s"] for it in its]
    calls = [c for it in its for c in it["calls"]]
    p50 = stats.median(walls)
    tail, pct, beyond, n = stats.tail(walls)
    metrics = {
        "setup_s": raw["jvm_start_s"] + raw["session_s"] + stats.median(raw["setup_rep_s"]),
        "iter_p50_s": p50,
        "iter_tail_s": tail,
        "rows_per_s": raw["rows_per_iteration"] / p50,
    }
    kinds = {}
    for c in calls:
        kinds.setdefault(c["kind"], []).append(c["wall_s"])
    # The old generation after a collection holds promoted garbage until the
    # next marking cycle, so this peak moves with GC timing (a quarter of
    # its median between runs of op_chain); it is reported, not gated.
    detail = {"iter_tail_pct": pct, "iter_tail_beyond": beyond, "iterations": n,
              "fail_ratio": sum(1 for c in calls if not c["ok"]) / len(calls),
              "peak_live_heap_mb": raw["peak_live_heap_mb"],
              "call_p50_s": stats.median([c["wall_s"] for c in calls])}
    for k, v in kinds.items():
        if k.startswith("join.") or k.startswith("resample.") or k == "ann.search":
            detail[f"{k}_p50_s"] = stats.median(v)
    chain = [w for k, v in kinds.items() if k.startswith("chain.") for w in v]
    if chain:
        detail["chain.op_p50_s"] = stats.median(chain)
    if raw["workload"] == "ann_lifecycle":
        build = [sum(c["wall_s"] for c in it["calls"] if c["kind"] != "ann.search")
                 for it in its]
        detail["ann.build_p50_s"] = stats.median(build)
        detail["ann.write_amp"] = (stats.median([it["fs_bytes_written"] for it in its])
                                   / raw["input_bytes"])
    detail.update(raw["extras"])
    return metrics, detail


UNITS = {"rows_per_s": "1/s", "iter_tail_pct": "%", "iter_tail_beyond": "count",
         "iterations": "count"}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count" if name.split(".")[-1] in (
        "eager_jobs", "pins", "pins_live_after", "jobs", "stages", "tasks",
        "sweep_rows_out", "sweep_degraded_keys", "files_written",
        "files_read_per_search") else "ratio"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    load_start = os.getloadavg()

    if not (os.path.isfile("build.sbt") and os.path.isdir(os.path.join("src", "main", "scala"))):
        fail("run from the repository root: the library sources (build.sbt, src/) are missing")
    digest = source_digest()
    classpath, built = build(digest)
    if built:
        deadline = time.time() + DEADLINE_S

    cores = host_cores()
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}"
    work = os.path.abspath(os.path.join(OUT, "work", name))
    raw_path = os.path.join(work, "raw.json")
    os.makedirs(work, exist_ok=True)
    try:
        run_jvm(classpath, args, cores, work, raw_path, deadline)
        with open(raw_path) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, detail = end_to_end(raw)
    calls = [c for it in raw["iterations"] for c in it["calls"]]
    attempted = len(calls)
    failed = sum(1 for c in calls if not c["ok"])
    leaks = [x for it in raw["iterations"] for x in it["leaks"]]
    correct = failed == 0 and not leaks and not raw["setup_failures"]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "host": {"nproc": cores, "driver_memory": driver_memory(),
                 "load_start": load_start, "load_end": os.getloadavg(),
                 "java": raw["java_version"], "spark": raw["spark_version"],
                 "git_commit": git_commit(), "source_digest": digest},
        "input_digest": raw["input_digest"], "expected": raw["expected"],
        "correct": correct, "attempted": attempted, "failed": failed,
        "leaks": leaks, "setup_failures": raw["setup_failures"],
        "setup": {"jvm_start_s": raw["jvm_start_s"], "session_s": raw["session_s"],
                  "rep_s": raw["setup_rep_s"], "oracle_s": raw["oracle_s"],
                  "main_s": raw["main_s"]},
        "measured_s": raw["measured_s"], "iteration_s": [it["wall_s"] for it in raw["iterations"]],
        "end_to_end": e2e, "detail": detail,
    }
    if args.trace:
        per_layer, by_kind, selfs = traced_metrics(raw, cores)
        record.update(per_layer=per_layer, per_call=by_kind, layer_self_s=selfs)
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        with open(os.path.join(OUT, "traces", name + ".json"), "w") as fh:
            json.dump({"record": record, "spans": raw["spans"]}, fh)
        shown = per_layer
    else:
        shown = e2e
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", name + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print("detail " + json.dumps({k: {"value": v, "unit": unit_of(k)}
                                  for k, v in detail.items()}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": unit_of(k)}
                                  for k, v in shown.items()}}))


if __name__ == "__main__":
    main()

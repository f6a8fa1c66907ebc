#!/usr/bin/env python3
"""Chunked bench runner: split the query list over several fresh JVMs.

Why: queries measured 200+ executions into one shared-JVM run read
3-9x their fresh-session cost (accumulated heap/GC state; isolated
A/B shows the operators unchanged — see Bench.scala). One JVM per
query would be honest but pays ~15 s of session startup 115 times;
chunks of ~30 bound the accumulation while amortizing startup.

The baseline probes (q_bench_contain/overlap) get their own dedicated
JVM (probes-first protocol inside Bench), matching how the reference's
published numbers were produced.

Usage:
  python3 tools/bench_chunked.py <sfDir> <outJson> [chunks] [jar]
Writes a merged bench_details-format JSON to <outJson>.
"""
import json
import os
import subprocess
import sys
import tempfile

def driver_mem():
    """Half of MemTotal clamped to 2-8g, as the tier-1 tests use."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"

def run_bench(jar, sf, workdir, env_extra):
    env = dict(os.environ)
    env.update(env_extra)
    env["SPARK_GRAFT_SF_DIR"] = sf
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    subprocess.run(
        ["/opt/spark/bin/spark-submit", "--driver-memory",
         os.environ.get("SPARK_DRIVER_MEM", driver_mem()),
         "--class", "graft.Bench", jar],
        cwd=workdir, env=env,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=True)
    with open(os.path.join(workdir, "bench_details.json")) as f:
        return json.load(f)

def main():
    sf = sys.argv[1]
    out = sys.argv[2]
    chunks = int(sys.argv[3]) if len(sys.argv) > 3 else 0  # 0 = auto
    jar = (sys.argv[4] if len(sys.argv) > 4 else
           "target/scala-2.13/catabrapandasspark_2.13-0.1.0.jar")
    jar = os.path.abspath(jar)

    # enumerate the query registry from the jar itself (SPARK_GRAFT_LIST
    # short-circuits Bench before any Spark work): always current, never
    # a stale committed artifact
    list_env = dict(os.environ)
    list_env["SPARK_GRAFT_LIST"] = "1"
    listing = subprocess.run(
        ["/opt/spark/bin/spark-submit", "--class", "graft.Bench", jar],
        env=list_env, capture_output=True, text=True, check=True).stdout
    names = sorted(l.strip() for l in listing.splitlines()
                   if l.strip().startswith("q_"))
    assert names, "query enumeration returned nothing"

    probes = [n for n in names if n.startswith("q_bench_")]
    rest = [n for n in names if not n.startswith("q_bench_")]
    # auto: ~16 queries per JVM. Isolated A/B showed 32-query chunks
    # still read queries 2-5x their fresh-session cost late in the chunk
    # (accumulated heap/GC + JIT state); 16 bounds the drift at ~1 extra
    # minute of JVM startups per full run.
    if chunks <= 0:
        chunks = max(4, -(-len(rest) // 16))
    parts = [rest[i::chunks] for i in range(chunks)]

    merged = {}
    drift = {}
    loads = []
    start_loads = []
    gate_waits = []
    for i, part in enumerate(parts):
        with tempfile.TemporaryDirectory() as td:
            # min-of-2 warm passes: a single pass times first-execution
            # janino/JIT compilation, not the operator
            d = run_bench(jar, sf, td,
                          {"SPARK_GRAFT_RUNS": "2",
                           "SPARK_GRAFT_PROBE_RUNS": "0",
                           "SPARK_GRAFT_ONLY": ",".join(part)})
        merged.update(d["queries"])
        # each chunk JVM reprobes its own drifting queries (vs the
        # SPARK_GRAFT_PREV artifact, absolute path — the sf1 drift
        # protocol); carry the triples through the merge
        drift.update(d.get("drift", {}))
        loads.append(d.get("load_avg", -1))
        start_loads.append(d.get("load_avg_start", -1))
        gate_waits.append(d.get("load_gate_waited_sec", -1))
        print(f"[chunk {i+1}/{chunks}] {len(part)} queries, "
              f"{sum(v for v in d['queries'].values() if v > 0):.1f} s, "
              f"load {d.get('load_avg')}", flush=True)

    with tempfile.TemporaryDirectory() as td:
        pd_ = run_bench(jar, sf, td,
                        {"SPARK_GRAFT_RUNS": "1",
                         "SPARK_GRAFT_PROBE_RUNS": "3",
                         "SPARK_GRAFT_ONLY": ",".join(probes)})
    merged.update(pd_["queries"])
    loads.append(pd_.get("load_avg", -1))
    start_loads.append(pd_.get("load_avg_start", -1))
    gate_waits.append(pd_.get("load_gate_waited_sec", -1))
    print(f"[probes] {pd_['probe_median']}, load {pd_.get('load_avg')}",
          flush=True)

    drift.update(pd_.get("drift", {}))
    failed = [k for k, v in merged.items() if v < 0]
    total = sum(v for v in merged.values() if v >= 0)
    result = {
        "metric": "total", "value": round(total, 3), "unit": "sec",
        "queries": merged, "drift": drift, "failed": failed, "runs": 2,
        "agg": "min", "protocol": f"chunked x{chunks} + dedicated probe JVM",
        "probe_passes": pd_.get("probe_passes", {}),
        "probe_median": pd_.get("probe_median", {}),
        "n_queries": len(merged), "load_avg_per_jvm": loads,
        "load_avg_start_per_jvm": start_loads,
        "load_gate_waited_sec_per_jvm": gate_waits,
        "probe_pass_loads": pd_.get("probe_pass_loads", []),
        "nproc": pd_.get("nproc"), "sf": sf,
    }
    with open(out, "w") as f:
        json.dump(result, f)
    print(f"[done] {len(merged)} queries, total {total:.1f} s -> {out}",
          flush=True)

if __name__ == "__main__":
    main()

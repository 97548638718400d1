#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one resident Spark session.

    python3 perfbench/run.py --workload nh_etl --seed 1 --seconds 10 --trace 0

Builds graft from the checkout's sources (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the harness JVM
(perfbench/harness), checks every op's output (perfbench/checks.py) and
prints, as its last line, one JSON object with the metrics BENCHMARK.json
names: the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1. It exits non-zero when any check fails. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build    # noqa: E402
import checks   # noqa: E402
import gen      # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("nh_etl", "doc_curation")
# Pinned so counters repeat: partial-aggregate shuffle records depend on the
# partition count, and Packing's bucket count is this value.
SHUFFLE_PARTITIONS = 8
# One set-up per run, in a cold JVM. A second one (session restart + warm op)
# adds 6-10 s to a 55-65 s run on a 4-core host, more than the benchmark's
# time budget leaves; setup_s is steadied by the median over runs instead.
SETUPS = 1
# Untimed ops between set-up and measurement. Pass time falls for minutes as
# the JIT compiles Spark's driver code; the first two ops after set-up are the
# steepest part of that curve (the nh_etl pipeline alone on a 4-core host:
# 5.9 s, 5.1 s, then 4.1 s and a slow slide).
WARMUPS = 2
# A fixed heap and young generation, so peak RSS follows what graft retains
# rather than how the collector happened to grow the heap (measured spread of
# peak_rss_mb over seeds: 16-57% with an adaptive heap, 1-4% fixed).
HEAP, YOUNG = "3g", "768m"
DEADLINE_S = 170
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def host():
    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) / 1024 / 1024
    return {"nproc": len(os.sched_getaffinity(0)), "mem_gb": round(mem, 1),
            "loadavg": os.getloadavg()[0]}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # A terminated run still stops its harness JVM (see the finally below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build.build()
    t_start = time.time()  # the harness deadline excludes a first build

    work = os.path.join(ROOT, ".bench_build", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return run(a, spec, classpath, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, spec, classpath, work, t_start):
    inputs = os.path.join(work, "in")
    plan = {"workload": a.workload, "seconds": a.seconds, "trace": bool(a.trace),
            "cores": len(os.sched_getaffinity(0)),
            "shuffle_partitions": SHUFFLE_PARTITIONS, "setups": SETUPS,
            "warmups": WARMUPS,
            "work": work, "result": os.path.join(work, "result.json"),
            "config": os.path.join(ROOT, "config", "datasets.yml")}
    trace_dir = os.path.join(ROOT, ".bench_build", "trace")
    os.makedirs(trace_dir, exist_ok=True)
    plan["spans"] = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.spans.jsonl")
    if a.workload == "doc_curation":
        truth = gen.gen_doc_curation(a.seed, inputs)
        plan.update(docs=truth["docs"], eval=truth["eval"], seq_len=truth["seq_len"],
                    build_dir="", pbj_dir="")
    else:
        truth = gen.gen_nh_etl(a.seed, inputs)
        plan.update(build_dir=truth["build_dir"], pbj_dir=truth["pbj_dir"],
                    queries=gen.gen_dash_queries(a.seed, truth, 200))
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)

    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Xss8m",
            "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", os.path.join(work, "plan.json")])
    log_path = os.path.join(work, "jvm.log")
    t_jvm = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            code = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.stderr.write(f"perfbench: harness exited with {code}\n")
        return 1
    with open(plan["result"]) as f:
        result = json.load(f)

    t_check = time.time()
    failures = check_ops(a.workload, result["ops"], truth)
    sys.stderr.write(f"perfbench: inputs {t_jvm - t_start:.1f} s, harness "
                     f"{t_check - t_jvm:.1f} s, checks {time.time() - t_check:.1f} s\n")
    attempted = len(result["ops"])
    failed = len(failures)
    for pass_id, why in failures:
        sys.stderr.write(f"perfbench: op {pass_id} failed: {why}\n")

    measured = [o for o in result["ops"] if o["phase"] == "measure" and "error" not in o]
    plain = [o for o in measured if not o["traced"]]
    traced = [o for o in measured if o["traced"]]
    wall = [o["wall_s"] for o in plain]
    e2e = {
        "setup_s": median(result["setup_s"]),
        "pass_s_p50": median(wall),
        "cpu_s_per_pass": median([o["cpu_s"] for o in plain]),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    queries = [q for o in plain for q in o.get("queries", [])]
    q_ms = [q["ms"] for q in queries]
    p90 = statistics.quantiles(q_ms, n=10)[-1] if len(q_ms) >= 10 else 0.0
    h = host()
    print(f"perfbench {a.workload} seed={a.seed}: "
          + ", ".join(f"{k}={v:.4f}" for k, v in e2e.items())
          + f", fail_ratio={failed}/{attempted}, passes={len(wall)}"
          + f", setups_s={[round(s, 2) for s in result['setup_s']]}"
          + f", warmups_s={[round(o['wall_s'], 2) for o in result['ops'] if o['phase'] == 'warmup']}"
          + f", passes_s={[round(w, 2) for w in wall]}"
          + (f", query_ms_p50={median(q_ms):.2f} query_ms_p90={p90:.2f} "
             f"(n={len(q_ms)})" if q_ms else "")
          + f"; host nproc={h['nproc']} mem_gb={h['mem_gb']} "
            f"loadavg={h['loadavg']:.2f} local[{result['cores']}] "
            f"shuffle_partitions={result['shuffle_partitions']}")

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if a.trace:
        values = per_layer(spec, traced, plain)
    else:
        values = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    print(json.dumps(out))
    return 0 if failed == 0 else 1


def check_ops(workload, ops, truth):
    """[(pass, why)] for every op whose output is wrong or that raised."""
    bad = []
    for o in ops:
        if "error" in o:
            bad.append((o["pass"], o["error"]))
            continue
        try:
            if workload == "doc_curation":
                why = checks.check_doc_curation(o, truth)
            else:
                why = checks.check_nh_etl(o, truth)
                oracle = checks.DashOracle(o["out"], truth)
                why += [w for q in o["queries"] for w in oracle.check(q)]
        except Exception as e:  # a malformed output is a failed check
            why = [f"{type(e).__name__}: {e}"]
        if why:
            bad.append((o["pass"], "; ".join(why[:3])))
    return bad


def per_layer(spec, traced, plain):
    """Medians over the traced passes of each layer's numbers. Layers a
    workload never enters read 0. Service numbers are per query."""
    names = [m["name"] for m in spec["per_layer"]]
    vals = {n: [] for n in names}
    for o in traced:
        layers = o["layers"]["by_layer"]
        for layer, m in layers.items():
            per = m["calls"] if layer == "service" else 1
            for k, v in m.items():
                n = f"{layer}.{k}"
                if n in vals:
                    vals[n].append(v / per)
        vals["jvm.gc_s"].append(o["gc_s"])
    out = {n: median(v) for n, v in vals.items()}
    out["sched.task_failures"] = sum(o["layers"]["task_failures"] for o in traced)
    base = median([o["wall_s"] for o in plain])
    out["trace.overhead_ratio"] = median([o["wall_s"] for o in traced]) / base if base else 0.0
    queries = [q for o in plain for q in o.get("queries", [])]
    for kind in ("options", "filter_preview", "grouped_mean", "pivot",
                 "numeric_means", "catalog"):
        out[f"service.op.{kind}.p50_ms"] = median(
            [q["ms"] for q in queries if q["kind"] == kind])
    q_ms = [q["ms"] for q in queries]
    out["service.query_ms_p50"] = median(q_ms)
    out["service.query_ms_p90"] = (statistics.quantiles(q_ms, n=10)[-1]
                                   if len(q_ms) >= 10 else 0.0)
    return {n: out.get(n, 0.0) for n in names}


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark for graft, run from the root of a source checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It compiles the program's sources (src/main/scala) together with the
benchmark's JVM harness (perfbench/scala) into .bench_build, generates the
workload's inputs from the seed, runs the workload in one JVM at local[4],
checks the outputs, and prints one JSON line with the end-to-end metrics
(--trace 0) or the per-layer metrics of a traced run (--trace 1).
See perfbench/NOTES.md for the workloads and the metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402

CPUS = 4
TABLE_SEED = 42  # catalog tables are fixed; the seed orders the operations
JVM_TIMEOUT_S = 150

# The query workloads' operations: a cold pass runs them in catalog order,
# warm passes in the seeded order.
QUERY_OPS = {
    "catalog_sf0.01": ["q04_join_star", "q12_asof_join", "q20_json_fns", "q24_tumbling_window",
                       "x08_langid", "x108_degree_assortativity", "x162_xml_decode"],
    "stream_gates": ["x144_stream_dedup", "x156_stream_restart", "x164_stream_static_join",
                     "x195_stream_rocksdb_sliding"],
}
# etl_graph runs, but BENCHMARK.json holds it back: at this tree its node
# check fails (see perfbench/NOTES.md, "Held back")
WORKLOADS = (*QUERY_OPS, "etl_graph")
# nominal warm-pass length per workload on a 4-CPU host: turns --seconds
# into a fixed number of warm passes, so both sides of an A/B run the same work
PASS_S = {"catalog_sf0.01": 5, "stream_gates": 30, "etl_graph": 30}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """$SPARK_HOME/jars, or the jars of the first Spark install on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jars found; set SPARK_HOME")


def build(root, build_dir):
    """Compiles program + harness once per source hash; returns the class dir."""
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala; "
                         "run from the root of a graft checkout")
    h = hashlib.sha256()
    for f in main + harness:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    jars = spark_jars()
    compiler = ":".join(glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
                        + glob.glob(os.path.join(jars, "scala-library-*.jar"))
                        + glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")]
                       + main + harness, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)  # an interrupted build's leftovers
    os.rename(tmp, out)
    log(f"compiled {len(main)} program + {len(harness)} harness files in {time.time() - t0:.1f} s")
    return out


def noise_index(seconds=0.2):
    """1-thread CPU throughput (work units per second); lower means a busier host."""
    units, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        acc = 0
        for i in range(20000):
            acc += i * i
        units += 1
    return units / (time.perf_counter() - t0)


def tail_percentile(n):
    """Highest integer percentile with at least ten samples beyond it, or None."""
    if n < 11:
        return None
    return int(100 * (n - 10) // n)


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-p * len(s) // 100) - 1))
    return s[k]


def warm_passes(workload, seconds):
    return max(1, round(seconds / PASS_S[workload]))


def score_queries(outputs, expected, ops, checked_passes=2):
    """Names of operations whose output is missing from a checked pass (cold
    and last) or differs from the record."""
    import canon
    bad = []
    for op in ops:
        exp, dirs = expected.get(op), outputs.get(op, [])
        if exp is None or len(dirs) < checked_passes:
            bad.append(op)
            continue
        for d in dirs:
            got = canon.fingerprint_dir(d)
            if got != exp:
                log(f"{op} ({os.path.basename(d)}): output {got} != expected {exp}")
                bad.append(op)
                break
    return bad


def score_etl(checks, expected):
    """Names of failed checks: generator counts and the sink/resume invariants."""
    bad = [k for k, v in checks.items() if v is False]
    for k, v in expected.items():
        if checks.get(k) != v:
            log(f"etl check {k}: got {checks.get(k)}, generator says {v}")
            bad.append(k)
    return bad


def outcome(executions, bad):
    """The result line's correctness fields: every operation that raised and
    every failed output check counts as a failed operation."""
    failed = min(sum(1 for op in executions if op["error"]) + len(bad), len(executions))
    return {"correct": failed == 0, "attempted": len(executions), "failed": failed}


def setup_seconds(gen_s, launch_ms, setup):
    """Input generation plus the JVM's set-up, from launch to the first
    timed operation."""
    log(f"set-up: inputs {gen_s:.2f} s, JVM launch to ready "
        f"{(setup['ready_ms'] - launch_ms) / 1e3:.2f} s")
    return gen_s + (setup["ready_ms"] - launch_ms) / 1e3


def end_to_end(result, gen_s, launch_ms):
    passes = result["passes"]
    cold = [p for p in passes if p["cold"]][0]
    warm = [p for p in passes if not p["cold"] and not p["traced"]]
    warm_ops = [op["s"] for p in warm for op in p["ops"]]
    for op in cold["ops"]:
        log(f"{op['name']}: cold {op['s']:.2f} s, warm " + " ".join(
            f"{w['s']:.2f}" for p in warm for w in p["ops"] if w["name"] == op["name"]))
    pct = tail_percentile(len(warm_ops))
    tail = f"p{pct} {percentile(warm_ops, pct):.3f} s" if pct else "n/a"
    log(f"warm ops n={len(warm_ops)}, tail {tail}")
    return {
        "setup_s": (setup_seconds(gen_s, launch_ms, result["setup"]), "s"),
        "cold_s": (sum(op["s"] for op in cold["ops"]), "s"),
        "wall_s": (statistics.median(sum(op["s"] for op in p["ops"]) for p in warm), "s"),
        "op_p50_s": (statistics.median(warm_ops), "s"),
        # the whole timed region: per warm pass it falls as the JIT catches
        # up, so a per-pass figure depends on how far the JIT got
        "cpu_s": (cold["cpu_s"] + sum(p["cpu_s"] for p in warm), "s"),
        "heap_retained_mb": (result["heap_retained_mb"], "MB"),
    }


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build(root, build_dir)
    ops = list(QUERY_OPS.get(a.workload, ()))
    random.Random(a.seed).shuffle(ops)

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    work = os.path.join(run_dir, "work")
    for d in ("tmp", "work"):
        os.makedirs(os.path.join(run_dir, d))
    proc = None
    try:
        noise_before = noise_index()
        inputs = os.path.join(run_dir, "in")
        t0 = time.perf_counter()
        if a.workload == "etl_graph":
            expected = gen.etl(inputs, a.seed)
        else:
            gen.tables(inputs, TABLE_SEED)
        gen_s = time.perf_counter() - t0
        out = os.path.join(run_dir, "result.json")
        spans = os.path.join(build_dir, "traces", f"{a.workload}-s{a.seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        cmd = (["java", *ADD_OPENS, "-Xmx3g", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={run_dir}/tmp",
                f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-cp", f"{classes}:{spark_jars()}/*", "perfbench.Main",
                "--workload", a.workload, "--trace", str(a.trace),
                "--warm-passes", str(warm_passes(a.workload, a.seconds)),
                "--cpus", str(CPUS), "--input", inputs, "--work", work,
                "--out", out, "--spans", spans]
               + ["--ops", ",".join(map(str, sorted(gen.SHEETS)) if a.workload == "etl_graph"
                                   else ops)])
        launch_ms = time.time() * 1e3
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=run_dir)
        proc.wait(timeout=JVM_TIMEOUT_S)
        proc = None
        noise_after = noise_index()
        result = json.load(open(out))
        if "fatal" in result:
            raise SystemExit(f"perfbench: workload failed: {result['fatal']}")

        if a.workload == "etl_graph":
            bad = score_etl(result["checks"], expected)
        else:
            recorded = json.load(open(os.path.join(HERE, "expected.json")))
            bad = score_queries(result["outputs"], recorded, ops)
        if bad:
            log(f"failed checks: {', '.join(bad)}")

        if a.trace:
            layers = dict(result.get("layers", {}))
            layers["host.noise_before"] = noise_before
            layers["host.noise_after"] = noise_after
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in bench["per_layer"]}
        else:
            log(f"host noise index before {noise_before:.0f}, after {noise_after:.0f}")
            e2e = end_to_end(result, gen_s, launch_ms)
            metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                       for m in bench["end_to_end"]}
        executions = [op for p in result["passes"] for op in p["ops"]]
        print(json.dumps({**outcome(executions, bad), "metrics": metrics}))
    finally:
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark of the planet-dump pipeline and the gate suite.

    python3 perfbench/run.py --workload planet-all|changesets|gate-suite \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM side from source into .bench_build (perfbench/build.py).
Each run starts one JVM with pinned resources, checks the program's
outputs, prints each metric with its unit, and prints one JSON object as
the last line of standard output. With --trace 0 the metrics are the
end-to-end ones; with --trace 1 a separate, traced run gives the
per-layer ones and the tracing overhead. perfbench/README.md explains the
workloads, the metrics and what each layer metric should move.
"""
import argparse
import glob
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402
import dumpgen  # noqa: E402

# Every run must end within this many seconds of its start.
RUN_LIMIT_S = 170
GATE_SF = os.path.join(HERE, "testdata", "sf0.01")
# Every 48th gate query in SparkEntry.allQueries order, starting at the
# first: a systematic sample of the 272-query suite (see README.md).
# graft.Bench times each GATE_REPEAT times and reports the median.
GATE_QUERIES = [
    "q01_scan_filter_project", "q90_tpch_q19", "q30b_simhash_md5",
    "q158_stratified_split", "q170_join_size_estimate", "q218_stream_current_view",
]
GATE_REPEAT = 5
# A warm x0.25 planet-all PlanetDump.run takes about this long on 4
# cores; --seconds buys about seconds / PLANET_ITER_S timed runs.
PLANET_ITER_S = 10.0
# Multiple of the Liechtenstein extract's row counts in the planet dumps.
PLANET_SCALE = 0.25
# changesets is not in BENCHMARK.json (see README.md); run it by hand.
WORKLOADS = ["planet-all", "changesets", "gate-suite"]
# cold_s is printed but not gated: it is setup_s less the dump generation,
# one sample per run, and spread up to 25 % on a noisy box.
END_TO_END = [("setup_s", "s"), ("warm_s", "s"), ("output_mb", "MB"), ("peak_rss_mb", "MB")]
OUTPUT_FILES = {
    "changesets.osm.bz2": ("changesets", "xml"), "discussions.osm.bz2": ("discussions", "xml"),
    "planet.osm.bz2": ("planet", "xml"), "history.osm.bz2": ("history", "xml"),
    "planet.osm.pbf": ("planet", "pbf"), "history.osm.pbf": ("history", "pbf"),
}
# A fixed heap: the planet dump and the sf0.01 gate tables need well
# under 2 GiB, and with -Xms = -Xmx G1 does not resize the heap during the
# run, a source of run-to-run spread in time and in peak RSS.
# ADD_OPENS: the JDK 17 module opens of build.sbt's javaOptions.
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def run_jvm(run_dir, deadline, args, env_extra=None):
    """Run perfbench.Main with pinned resources; return its stderr."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-cp", build.classpath(), "perfbench.Main"] + [str(a) for a in args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               SPARK_GRAFT_CPUS=str(cpus()))
    env.pop("SPARK_GRAFT_JAVA_OPTS", None)
    env.update(env_extra or {})
    out_path = os.path.join(run_dir, "jvm.out")
    err_path = os.path.join(run_dir, "jvm.err")
    with open(out_path, "w") as out, open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=err,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the JVM's own children (pg_restore) share its session
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    with open(err_path) as f:
        stderr = f.read()
    if rc != 0:
        tail = [l for l in stderr.splitlines() if " INFO " not in l][-30:]
        raise RuntimeError(f"JVM {args[0]} {'timed out' if rc is None else f'exited {rc}'}:\n"
                           + "\n".join(tail))
    return stderr


def run_planet(name, a, run_dir, deadline):
    dump = os.path.join(run_dir, "input.dmp")
    t0 = time.perf_counter()
    counts = dumpgen.generate(dump, a.seed, PLANET_SCALE)
    gen_s = time.perf_counter() - t0
    log(f"[perfbench] generated x{PLANET_SCALE} dump, {counts['rows']} rows, in {gen_s:.2f} s")
    out = os.path.join(run_dir, "out")
    result_file = os.path.join(run_dir, "result.json")
    run_jvm(run_dir, deadline, [
        "planet", "--workload", name, "--dump", dump, "--work", os.path.join(run_dir, "work"),
        # a traced run times an untraced and a traced run per iteration
        "--out", out, "--iters", max(1, round(a.seconds / PLANET_ITER_S / (1 + a.trace))),
        "--trace", a.trace, "--cpus", cpus(), "--result", result_file])
    with open(result_file) as f:
        r = json.load(f)
    plain = os.path.join(out, "plain")
    names = [f for f, (kind, _) in OUTPUT_FILES.items()
             if name == "planet-all" or kind in ("changesets", "discussions")]
    files = {OUTPUT_FILES[f]: os.path.join(plain, f) for f in names}
    missing = [f for f in names if not os.path.exists(os.path.join(plain, f))]
    for f in missing:
        log(f"[check] FAIL {f} was not written")
    checked, failed = checks.check_planet(
        {k: p for k, p in files.items() if os.path.exists(p)}, counts, log)
    checked, failed = checked + len(missing), failed + len(missing)
    if a.trace:
        # the benchmark's traced copy of the orchestration must not drift
        for f in names:
            checked += 1
            if not checks.same_output(os.path.join(plain, f), os.path.join(out, "traced", f)):
                failed += 1
                log(f"[check] FAIL traced {f} differs from the PlanetDump.run output")
    runs = 1 + len(r["iter_s"]) + len(r.get("traced_s", []))
    metrics = {
        "setup_s": gen_s + r["cold_s"],
        "warm_s": statistics.median(r["iter_s"]),
        "cold_s": r["cold_s"],
        "output_mb": sum(os.path.getsize(p) for p in files.values() if os.path.exists(p)) / 1e6,
        "peak_rss_mb": r["peak_rss_mb"],
    }
    log(f"[perfbench] cold run {r['first_run_s']:.2f} s, timed {r['iter_s']}")
    return metrics, r, runs + checked, failed


def run_gate(a, run_dir, deadline):
    # GATE_SF is a copy of the oracle-scale gate tables; SHA256SUMS holds
    # the hashes of the originals
    bad = checks.manifest_mismatches(GATE_SF)
    if bad:
        raise RuntimeError(f"gate tables differ from testdata/sf0.01/SHA256SUMS: {bad}")
    verify_out = os.path.join(run_dir, "verify")
    result_file = os.path.join(run_dir, "result.json")
    bench_file = os.path.join(run_dir, "bench.json")
    names = "|".join(re.escape(q) for q in GATE_QUERIES)
    stderr = run_jvm(
        run_dir, deadline,
        ["gate", "--sf", GATE_SF, "--verify", verify_out, "--trace", a.trace,
         "--queries", ",".join(GATE_QUERIES), "--repeat", GATE_REPEAT, "--cpus", cpus(),
         "--result", result_file],
        {"SPARK_GRAFT_SF_DIR": GATE_SF, "SPARK_GRAFT_BENCH_FILTER": names,
         "SPARK_GRAFT_BENCH_REPEAT": str(GATE_REPEAT), "SPARK_GRAFT_BENCH_OUT": bench_file,
         "SPARK_GRAFT_VERIFY_FILTER": names})
    with open(result_file) as f:
        r = json.load(f)
    with open(bench_file) as f:
        bench = json.load(f)
    r["bench_total_s"] = bench["value"]
    repeats = {m.group(1): [float(x) for x in m.group(2).split()]
               for m in re.finditer(r"\[bench\] (\S+) repeats: ([\d. ]+)", stderr)}
    missing = set(GATE_QUERIES) - set(repeats)
    if missing or set(bench["queries"]) != set(GATE_QUERIES):
        raise RuntimeError(f"graft.Bench did not time {sorted(missing)}")
    threw = bench["failed"] + r.get("traced_failed", [])
    for q in threw:
        log(f"[check] FAIL {q} threw")
    checked, oracle_failed = checks.check_oracle(
        GATE_SF, verify_out, log, timeout=max(5.0, deadline - time.time()))
    log(f"[check] oracle: {checked - oracle_failed}/{checked} gate results match DuckDB")
    if checked != len(GATE_QUERIES):
        oracle_failed += len(GATE_QUERIES) - checked
        log(f"[check] FAIL graft.Verify wrote {checked} of {len(GATE_QUERIES)} results")
    timed = sum(sum(v) for v in repeats.values())
    metrics = {
        # JVM start to the end of Verify's pass, plus Bench's session,
        # warm-up query and prepares: everything but the timed queries
        "setup_s": r["bench_end_s"] - timed,
        "warm_s": bench["value"],
        "cold_s": r["verify_end_s"],
        "output_mb": sum(os.path.getsize(p) for p in glob.glob(
            os.path.join(verify_out, "**", "*.parquet"), recursive=True)) / 1e6,
        "peak_rss_mb": r["peak_rss_mb"],
    }
    r["query_p50_s"] = statistics.median(bench["queries"].values())
    attempted = len(GATE_QUERIES) * GATE_REPEAT * (1 + a.trace) + len(GATE_QUERIES)
    return metrics, r, attempted, len(threw) + oracle_failed


def layer_report(workload, r):
    """Per-layer metrics, tracing overhead, span self times, predictions."""
    layers = dict(r["layers"])
    if workload == "gate-suite":
        layers["trace.untraced_s"] = r["bench_total_s"]
        layers["trace.traced_s"] = r["traced_s"]
    else:
        layers["trace.untraced_s"] = statistics.median(r["iter_s"])
        layers["trace.traced_s"] = statistics.median(r["traced_s"])
    print(f"tracing overhead: traced {layers['trace.traced_s']:.3f} s vs untraced "
          f"{layers['trace.untraced_s']:.3f} s")
    print(f"{'span':28} {'wall_s':>9} {'self_s':>9} {'jobs_s':>9}  parent")
    for name, s in r["spans"].items():
        if workload == "gate-suite" and name.startswith("q"):
            continue
        print(f"{name:28} {s['wall_s']:9.3f} {s['self_s']:9.3f} {s['job_wall_s']:9.3f}  {s['parent']}")
    shares = {
        "load": layers["load.wall_s"], "assemble": layers["assemble.wall_s"],
        "xml": sum(layers[f"xml.{k}_s"] for k in ("planet", "history", "changesets", "discussions")),
        "pbf": layers["pbf.planet_s"] + layers["pbf.history_s"],
        # the gate trace's root spans are the queries, all repeats
        "query": sum(s["wall_s"] for n, s in r["spans"].items()
                     if s["parent"] == "" and n != "iteration"),
    }
    print("layer wall seconds: " + ", ".join(f"{k} {v:.3f}" for k, v in shares.items()))
    preds = {
        "planet-all": [("xml is the largest layer", max(shares, key=shares.get) == "xml"),
                       ("query.* is zero", shares["query"] == 0)],
        "changesets": [("load is the largest layer", max(shares, key=shares.get) == "load"),
                       ("pbf.* is zero", shares["pbf"] == 0),
                       ("query.* is zero", shares["query"] == 0)],
        "gate-suite": [("only query.* and jvm.* are non-zero",
                        all(v == 0 for k, v in shares.items() if k != "query"))],
    }[workload]
    for text, ok in preds:
        print(f"prediction {'held' if ok else 'FAILED'}: {text}")
    return layers


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("[perfbench] no program sources at src/main/scala: run from a checkout's root")
        return 2
    if build.build():
        start = time.time()  # the one-off build is not part of the run
    run_dir = os.path.join(build.BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    deadline = start + RUN_LIMIT_S
    try:
        if a.workload == "gate-suite":
            metrics, r, attempted, failed = run_gate(a, run_dir, deadline)
        else:
            metrics, r, attempted, failed = run_planet(a.workload, a, run_dir, deadline)
        if a.trace:
            with open(os.path.join(build.BUILD, f"trace-{a.workload}.json"), "w") as f:
                json.dump(r, f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for name, unit in END_TO_END:
        print(f"{name:12} {metrics[name]:12.4f} {unit}")
    # not gated: the failure ratio is 0 on a correct run, and the median
    # query time is a view of warm_s
    print(f"{'cold_s':12} {metrics['cold_s']:12.4f} s")
    print(f"{'failed_ratio':12} {failed / attempted:12.4f} ratio")
    if "query_p50_s" in r:
        print(f"{'query_p50_s':12} {r['query_p50_s']:12.4f} s")
    if a.trace:
        layers = layer_report(a.workload, r)
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        out = {name: {"value": metrics[name], "unit": unit} for name, unit in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


def unit_of(metric):
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())

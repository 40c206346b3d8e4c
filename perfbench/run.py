#!/usr/bin/env python3
"""Benchmark entry point: closed-loop workloads over SparkEntry.queries.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run builds the library and harness when the sources changed, makes and
caches the workload's input, and launches the harness JVM twice, timing each
launch's session set-up. The second launch then runs a cold pass whose
results are also written for the output check, and a fixed number of warm
passes (--seconds is accepted but does not change the count). The written
results are compared with each query's DuckDB oracle under tools/check.py's
rules. The last stdout line is one JSON object
with keys correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. All outputs stay under
.bench_build/ in the repository root; see perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
HARNESS_BUDGET_S = 150.0  # all harness JVMs of a run (build and input generation come before)
HEAP = "4g"

# name -> (input, queries)
WORKLOADS = {
    # the paper's three MapReduce apps on 10x data: executor, scan, shuffle
    "mr_sf1": ("sf1", ["wc_wordcount", "grep_contains", "vertex_degree"]),
    # fixed-cost bound: multi-join plans, an eager iterative loop, a stream
    "mix_sf0.01": ("sf0.01", ["q_tpch_q3", "graph_components", "stream_dedup"]),
}
# A fixed pass count, not one derived from --seconds: every run's median then
# sits at the same place on the JIT warm-up curve.
WARM_PASSES = 2
SETUPS = 2  # harness launches per run; setup_s is their median
FIXTURES = BENCH / "data"  # copies of the sf0.01 and sf0.1 fixtures (FIXTURES.md §B)
DIM_TABLES = {"region", "nation"}  # copied once by Upscale, not replicated
UPSCALE = 10

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def source_hash():
    h = hashlib.sha256()
    files = sorted([*(ROOT / "src/main/scala").rglob("*.scala"),
                    *(BENCH / "src").rglob("*.scala"), BENCH / "build.sh"])
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(src_hash):
    stamp = BUILD / "classes.stamp"
    if stamp.exists() and stamp.read_text() == src_hash and (BUILD / "classes").is_dir():
        return
    log("building library and harness")
    t0 = time.monotonic()
    subprocess.run(["bash", str(BENCH / "build.sh"), str(BUILD), str(spark_jars())],
                   check=True, stdout=sys.stderr)
    stamp.write_text(src_hash)
    log(f"built in {time.monotonic() - t0:.1f} s")


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory the sbt build compiles
    against (build.sbt's unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    return Path(m.group(1))


def classpath():
    return ":".join([str(BUILD / "classes"), *sorted(str(j) for j in spark_jars().glob("*.jar"))])


def java_cmd(main, *args):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return ["java", *JVM_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath(), main, *args]


def java_env():
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(BUILD / "tmp" / "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    return env


def footer_rows(path):
    import pyarrow.parquet as pq
    p = Path(path)
    files = sorted(p.glob("*.parquet")) if p.is_dir() else [p]
    if not files:
        return -1
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def ensure_input(sf):
    """Returns (data dir, seconds it took to make). sf0.01 and sf0.1 are the
    fixtures under perfbench/data; sf1 is `graft.tools.Upscale` of sf0.1,
    10x, cached under .bench_build and remade when its parquet-footer row
    counts are not 10x the fact tables' and equal for the dimension tables."""
    if sf != "sf1":
        return FIXTURES / sf, 0.0
    base = FIXTURES / "sf0.1"
    out = BUILD / "data" / sf
    want = {p.stem: footer_rows(p) * (1 if p.stem in DIM_TABLES else UPSCALE)
            for p in sorted(base.glob("*.parquet"))}
    manifest = out / "MANIFEST.json"
    if manifest.exists():
        if all(footer_rows(out / f"{t}.parquet") == n for t, n in want.items()):
            return out, json.loads(manifest.read_text())["gen_s"]
        log(f"{sf}: footer row counts are not {UPSCALE}x those of sf0.1, rebuilding")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(BUILD / "oracle" / sf, ignore_errors=True)
    log(f"generating input {sf}")
    t0 = time.monotonic()
    with open(BUILD / "upscale.log", "w") as err:
        subprocess.run(java_cmd("graft.tools.Upscale", str(base), str(out), str(UPSCALE)),
                       check=True, env=java_env(), stdout=err, stderr=err)
    rows = {t: footer_rows(out / f"{t}.parquet") for t in want}
    if rows != want:
        raise SystemExit(f"{sf}: footer row counts {rows} != expected {want}")
    gen_s = time.monotonic() - t0
    manifest.write_text(json.dumps({"gen_s": gen_s, "rows": rows}))
    log(f"{sf} generated in {gen_s:.1f} s")
    return out, gen_s


def spin_s():
    """The single-thread spin of tools/bench_precheck.sh (a 2e7-step LCG),
    run for a sixteenth of its steps and scaled back to 2e7."""
    t0 = time.monotonic()
    x = 1
    for _ in range(1_250_000):
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
    return 16 * (time.monotonic() - t0)


def loadavg():
    return [float(v) for v in Path("/proc/loadavg").read_text().split()[:3]]


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    v = [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
    return v[7], sum(v)


def run_harness(cmd, log_path, deadline):
    """Runs one harness JVM, killed if it outlives the monotonic `deadline`;
    returns the seconds from launch until it printed READY (the set-up time)."""
    t0 = time.monotonic()
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, env=java_env(), stdout=subprocess.PIPE, stderr=err,
                                text=True)
    watchdog = threading.Timer(max(deadline - t0, 0), proc.kill)
    watchdog.start()
    try:
        setup_s = None
        for line in proc.stdout:
            if setup_s is None and line.strip() == "READY":
                setup_s = time.monotonic() - t0
        proc.wait()
    finally:
        watchdog.cancel()
    if proc.returncode != 0 or setup_s is None:
        raise SystemExit(f"harness failed ({proc.returncode}); see {log_path}")
    return setup_s


def load_check_rules():
    spec = importlib.util.spec_from_file_location("graft_check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_compare(sf, data_dir, out_dir, queries, check_errors):
    """Compares each check-pass result with its DuckDB oracle; returns
    {query: failure cause} for every query that threw or mismatched."""
    import duckdb
    rules = load_check_rules()
    cache = BUILD / "oracle" / sf
    cache.mkdir(parents=True, exist_ok=True)
    oracle_sql = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute(f"SET threads={nproc()}")
    con.execute(f"SET temp_directory='{BUILD / 'tmp' / 'duckdb'}'")
    for t in rules.TABLES:
        p = data_dir / f"{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'" if p.is_dir()
                    else f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failures = {}
    for q in queries:
        if q in check_errors:
            failures[q] = f"exception: {check_errors[q]}"
            continue
        sql = oracle_sql.get(q)
        if sql is None:
            failures[q] = "no oracle SQL"
            continue
        try:
            key = cache / (hashlib.sha256(sql.encode()).hexdigest()[:24] + ".json")
            if key.exists():
                exp_cols, exp_tys, exp = json.loads(key.read_text())
            else:
                r = con.sql(sql)
                exp_cols, exp_tys = list(r.columns), [str(t) for t in r.types]
                exp = rules.canon(r.fetchall(), exp_cols)
                key.write_text(json.dumps([exp_cols, exp_tys, exp]))
            exp = [tuple(row) for row in exp]
            g = con.sql(f"SELECT * FROM '{out_dir / 'check' / q}/*.parquet'")
            got_cols, got_tys = list(g.columns), [str(t) for t in g.types]
            got = rules.canon(g.fetchall(), got_cols)
        except Exception as e:  # an oracle or read error fails the query
            failures[q] = f"compare error: {e}"
            continue
        if sorted(got_cols) != sorted(exp_cols):
            failures[q] = f"columns spark={sorted(got_cols)} duck={sorted(exp_cols)}"
            continue
        gt, et = dict(zip(got_cols, got_tys)), dict(zip(exp_cols, exp_tys))
        mism = {c: (gt[c], et[c]) for c in gt if gt[c] != et[c]}
        frontier = {c: v for c in gt
                    if (v := rules.frontier_violations(gt[c]) + rules.frontier_violations(et[c]))}
        if mism:
            failures[q] = f"type mismatch (spark, duck): {mism}"
        elif frontier:
            failures[q] = f"type-frontier violation: {frontier}"
        elif got != exp:
            failures[q] = f"rows differ: spark={len(got)} duck={len(exp)}"
    con.close()
    return failures


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def e2e_metrics(res, setup_s, cold_ns):
    """Walls and peak RSS of the untraced warm passes. The peak is taken per
    pass: over a whole run, the cold pass's JIT and check writes and the
    collector's heap sizing made one VmHWM spread by a third."""
    warm = [p for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    kept = {p["pass"] for p in warm}
    walls = sorted(s["wall_ns"] / 1e9 for s in res["samples"]
                   if s["pass"] in kept and s["error"] is None)
    n = len(walls)
    # highest percentile with at least 10 samples above it
    tail = {"query_tail_s": None, "percentile": None, "samples": n}
    if n >= 11:
        tail.update(query_tail_s=walls[n - 11], percentile=round(100.0 * (n - 10) / n, 2))
    m = {
        "setup_s": setup_s,
        "cold_pass_s": cold_ns / 1e9,
        "pass_s": median([p["wall_ns"] / 1e9 for p in warm]),
        "pass_cpu_s": median([p["cpu_ns"] / 1e9 for p in warm]),
        "query_p50_s": median(walls),
        "peak_rss_mb": median([p["vm_hwm_kb"] / 1024.0 for p in warm]),
    }
    return m, tail


def declared_units(kind):
    """{metric: unit} of the `end_to_end` or `per_layer` list in
    BENCHMARK.json: a run reports exactly the metrics declared there."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def query_layers(t):
    """Per-layer values of one traced query (its build + noop phases; the
    count phase only feeds sink.count_ms)."""
    b, n = t["build"], t["noop"]
    both = lambda k: b[k] + n[k]
    wall_ms = t["wall_ns"] / 1e6
    return {
        "queries.build_ms": t["build_ns"] / 1e6, "queries.build_jobs": b["jobs"],
        "catalyst.analysis_ms": both("analysis_ms"),
        "catalyst.optimization_ms": both("optimization_ms"),
        "catalyst.planning_ms": both("planning_ms"),
        "codegen.compiles": both("compiles"), "codegen.compile_ms": both("compile_ns") / 1e6,
        "scheduler.jobs": both("jobs"), "scheduler.stages": both("stages"),
        "scheduler.tasks": both("tasks"), "scheduler.task_failures": both("task_failures"),
        "scheduler.driver_gap_ms": max(t["wall_ms_clock"] - t["job_covered_ms"], 0),
        "executor.run_ms": both("run_ms"), "executor.cpu_ms": both("cpu_ns") / 1e6,
        "executor.gc_ms": both("gc_ms"),
        "executor.peak_mem_mb": max(b["peak_mem"], n["peak_mem"]) / 2**20,
        "job_covered_ms": t["job_covered_ms"],
        "tables.scan_bytes": both("scan_bytes"), "tables.scan_rows": both("scan_rows"),
        "shuffle.write_bytes": both("shuffle_write"), "shuffle.read_bytes": both("shuffle_read"),
        "shuffle.fetch_wait_ms": both("fetch_wait_ms"),
        "shuffle.spill_disk_bytes": both("spill_disk"),
        "storage.block_puts": both("block_puts"), "storage.block_mb": both("block_bytes") / 2**20,
        "streaming.batches": both("batches"), "streaming.batch_ms": both("batch_ms"),
        "streaming.commit_ms": both("commit_ms"), "streaming.state_rows": both("state_rows"),
        "sink.noop_ms": t["noop_ns"] / 1e6, "sink.count_ms": t["count_ns"] / 1e6,
        "sink.rows": t["rows"], "wall_ms": wall_ms,
    }


def layer_metrics(res, cores):
    """Per traced pass: the sum over its queries (max for peak memory);
    reported as the median over the run's traced passes."""
    per_pass = {}
    for t in res["query_traces"]:
        q = query_layers(t)
        acc = per_pass.setdefault(t["pass"], {})
        for k, v in q.items():
            acc[k] = max(acc.get(k, 0), v) if k == "executor.peak_mem_mb" else acc.get(k, 0) + v
    for acc in per_pass.values():
        acc["executor.slot_util"] = (acc["executor.run_ms"] / (acc["job_covered_ms"] * cores)
                                     if acc["job_covered_ms"] else 0.0)
    out = {k: median([acc[k] for acc in per_pass.values()])
           for k in next(iter(per_pass.values()), {})}
    # each traced pass against the mean of the untraced passes on either side
    walls = {p["pass"]: p["wall_ns"] for p in res["passes"]}
    out["trace.overhead_frac"] = median(
        [walls[p["pass"]] / ((walls[p["pass"] - 1] + walls[p["pass"] + 1]) / 2) - 1
         for p in res["passes"] if p["traced"] and p["pass"] + 1 in walls])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ("src/main/scala/graft/SparkEntry.scala", "tools/check.py")
               if not (ROOT / p).exists()]
    if missing:
        log(f"not a repository checkout, missing: {', '.join(missing)}")
        sys.exit(2)

    src_hash = source_hash()
    build(src_hash)
    sf, queries = WORKLOADS[args.workload]
    data_dir, gen_s = ensure_input(sf)

    out_dir = BUILD / "runs" / f"{args.workload}-t{args.trace}"
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    load_before = loadavg()
    steal_before = cpu_jiffies()
    cpus = str(nproc())

    cmd = java_cmd("graftbench.Harness", "--cpus", cpus, "--data", str(data_dir),
                   "--workload", args.workload, "--queries", ",".join(queries),
                   "--seed", str(args.seed), "--passes", str(WARM_PASSES),
                   "--trace", str(args.trace), "--out", str(out_dir))
    # every launch but the last stops once set up; the last one runs the passes
    deadline = time.monotonic() + HARNESS_BUDGET_S
    setups = [run_harness(cmd + ["--setup-only", "1"], out_dir / f"setup{i}.log", deadline)
              for i in range(SETUPS - 1)]
    setups.append(run_harness(cmd, out_dir / "harness.log", deadline))
    res = json.loads((out_dir / "result.json").read_text())
    load_after = loadavg()
    steal_after = cpu_jiffies()

    failures = oracle_compare(sf, data_dir, out_dir, queries, res["check_errors"])
    run_errors = [s for s in res["samples"] if s["error"] is not None]
    attempted = len(res["samples"]) + len(queries)
    failed = len(run_errors) + len(failures)
    for s in run_errors:
        failures.setdefault(s["query"], f"exception in pass {s['pass']}: {s['error']}")

    cold = next(p for p in res["passes"] if p["pass"] == 0)
    e2e, tail = e2e_metrics(res, median(setups), cold["wall_ns"])
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input": sf, "queries": queries, "nproc": nproc(),
        "heap": HEAP, "heap_max_mb": res["heap_max_mb"], "source_rev": src_hash[:16],
        "loadavg_before": load_before, "loadavg_after": load_after,
        "steal_frac": (steal_after[0] - steal_before[0]) /
                      max(steal_after[1] - steal_before[1], 1),
        "setups_s": setups, "warm_passes": WARM_PASSES, "query_tail": tail,
        "failures": failures, "failed_frac": failed / attempted, "inputs.gen_s": gen_s,
        "e2e": e2e,
        "passes": [{"pass": p["pass"], "traced": p["traced"], "wall_s": p["wall_ns"] / 1e9,
                    "peak_rss_mb": p["vm_hwm_kb"] / 1024.0, "gcs": p["gcs"], "gc_ms": p["gc_ms"]}
                   for p in res["passes"]],
        "query_walls_s": {q: [s["wall_ns"] / 1e9 for s in res["samples"] if s["query"] == q]
                          for q in queries},
    }
    if args.trace:
        layers = layer_metrics(res, int(cpus))
        layers["failed_frac"] = failed / attempted
        layers["jvm.cold_pass_ms"] = e2e["cold_pass_s"] * 1e3
        layers["jvm.query_p50_ms"] = e2e["query_p50_s"] * 1e3
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in declared_units("per_layer").items()}
        trace_dir = BUILD / "trace"
        trace_dir.mkdir(exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}"
        shutil.copy(out_dir / "spans.jsonl", trace_dir / f"{stem}.spans.jsonl")
        (trace_dir / f"{stem}.queries.json").write_text(json.dumps(
            {"workload": args.workload, "cores": int(cpus),
             "query_traces": res["query_traces"], "metrics": layers}))
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in declared_units("end_to_end").items()}
    record["spin_s"] = spin_s()
    (BUILD / "records").mkdir(exist_ok=True)
    (BUILD / "records" / f"{args.workload}-seed{args.seed}-t{args.trace}.json").write_text(
        json.dumps(record, indent=1))
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

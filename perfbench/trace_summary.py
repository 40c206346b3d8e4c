#!/usr/bin/env python3
"""Summarizes traced benchmark runs.

Usage: python3 perfbench/trace_summary.py [trace_dir]   (default .bench_build/trace)

Reads every <workload>-seed<n>.queries.json and .spans.jsonl pair that
`run.py --trace 1` leaves there and prints, per workload:
  - each per-layer metric with its unit (median over the traced runs), and
    the spread (max - min) of the counters that should repeat exactly;
  - one row per query, averaged over its traced passes;
  - the self time of each span kind (query > build | action > job > stage):
    the share of the traced query wall in which it is the deepest span
    running. The query's own share is the drains between phases.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from run import declared_units, query_layers  # noqa: E402

EXACT = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks", "tables.scan_rows",
         "tables.scan_bytes", "shuffle.write_bytes", "storage.block_puts",
         "streaming.batches", "queries.build_jobs", "sink.rows"]
ROW_COLS = [("wall_ms", "wall"), ("queries.build_ms", "build"), ("sink.noop_ms", "noop"),
            ("sink.count_ms", "count"), ("queries.build_jobs", "bjobs"),
            ("scheduler.jobs", "jobs"), ("scheduler.stages", "stages"),
            ("scheduler.tasks", "tasks"), ("scheduler.driver_gap_ms", "gap"),
            ("executor.cpu_ms", "cpu"), ("tables.scan_rows", "scan_rows"),
            ("shuffle.write_bytes", "shuf_w"), ("storage.block_puts", "blocks"),
            ("streaming.batches", "batches"), ("codegen.compiles", "compiles"),
            ("sink.rows", "rows")]


DEPTH = {"build": 1, "action": 1, "job": 2, "stage": 3}


def exclusive_ms(spans):
    """Traced query wall split by the deepest span kind running at each
    moment (query > build | action > job > stage): a kind's self time, with
    concurrent children counted once. Count actions are not part of the
    query wall and are left out with their jobs."""
    by_id = {s["id"]: s for s in spans}
    def owner(s):  # the query span a span descends from, if any
        while s is not None and s["kind"] != "query":
            if s["id"].endswith("/count"):
                return None
            s = by_id.get(s["parent"])
        return s
    inner = defaultdict(list)
    for s in spans:
        if s["kind"] in DEPTH and (q := owner(s)) is not None:
            inner[q["id"]].append(s)
    out = defaultdict(float)
    for q in (s for s in spans if s["kind"] == "query"):
        ivs = [(max(s["start_ms"], q["start_ms"]), min(s["end_ms"], q["end_ms"]), s["kind"])
               for s in inner[q["id"]]]
        cuts = sorted({q["start_ms"], q["end_ms"], *(a for a, _, _ in ivs), *(b for _, b, _ in ivs)})
        for a, b in zip(cuts, cuts[1:]):
            live = [k for lo, hi, k in ivs if lo <= a and hi >= b]
            out[max(live, key=DEPTH.get) if live else "query"] += b - a
    return out


def main():
    trace_dir = Path(sys.argv[1] if len(sys.argv) > 1 else
                     Path(__file__).resolve().parent.parent / ".bench_build" / "trace")
    runs = defaultdict(list)
    for f in sorted(trace_dir.glob("*.queries.json")):
        q = json.loads(f.read_text())
        spans_f = f.with_name(f.name.replace(".queries.json", ".spans.jsonl"))
        spans = [json.loads(l) for l in spans_f.read_text().splitlines() if l.strip()]
        runs[q["workload"]].append((f.name, q, spans))
    if not runs:
        sys.exit(f"no traced runs under {trace_dir}")
    for workload, items in sorted(runs.items()):
        print(f"== {workload}: {len(items)} traced run(s)")
        for k, unit in declared_units("per_layer").items():
            xs = [q["metrics"][k] for _, q, _ in items if k in q["metrics"]]
            if not xs:
                continue
            extra = ""
            if k in EXACT and len(xs) > 1:
                extra = f"   (differs across runs by {max(xs) - min(xs):g})"
            print(f"  {k:28s} {statistics.median(xs):16.4f} {unit}{extra}")
        rows = defaultdict(lambda: defaultdict(list))
        for _, q, _ in items:
            for t in q["query_traces"]:
                for k, v in query_layers(t).items():
                    rows[t["query"]][k].append(v)
        print("  per query (mean over traced passes; ms, bytes, counts):")
        print("  " + f"{'query':24s}" + "".join(f"{h:>11s}" for _, h in ROW_COLS))
        for name in sorted(rows):
            r = rows[name]
            print("  " + f"{name:24s}" +
                  "".join(f"{statistics.mean(r[k]):11.0f}" for k, _ in ROW_COLS))
        selfs = defaultdict(list)
        for _, _, spans in items:
            ex = exclusive_ms(spans)
            wall = sum(ex.values())
            for kind in ("query", *DEPTH):
                selfs[kind].append(ex[kind] / wall if wall else 0.0)
        print("  self time as share of traced query wall (median over runs):")
        for kind in ("query", *DEPTH):
            print(f"    {kind:8s} {statistics.median(selfs[kind]):7.3f}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Where the time goes, from the committed traced records.

  python3 perfbench/table.py > perfbench/results/TABLE.md

Reads perfbench/results/<workload>/result.json and spans.jsonl (a traced
run's record, as run.py --trace 1 keeps it under .bench_build/traces/) and
prints one markdown table per workload kind. Times are per pass (batch) or
per micro-batch (streaming), from the traced window.
"""
import glob
import json
import os
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    recs = {}
    for f in sorted(glob.glob(os.path.join(HERE, "results", "*", "result.json"))):
        recs[os.path.basename(os.path.dirname(f))] = json.load(open(f))
    print("# Where the time goes (traced runs)\n")
    print("Made by `python3 perfbench/table.py` from `results/<workload>/` "
          "(`result.json`, `spans.jsonl`).\n")
    for name, r in recs.items():
        m, cores = r["layers"], r["cores"]
        untraced = [p["wall_s"] for p in r["passes"]]
        traced = [p["wall_s"] for p in r["traced_passes"]]
        print(f"## {name} (local[{cores}])\n")
        print(f"Untraced pass {median(untraced):.2f} s, traced pass {median(traced):.2f} s: "
              f"tracing overhead {m['trace.overhead_pct']:+.1f}% "
              f"(each traced pass over the mean of the untraced passes on "
              f"either side of it; median, minus 1).\n")
        if r["streaming"]:
            spans = [json.loads(l) for l in open(os.path.join(HERE, "results", name, "spans.jsonl"))]
            ops = [s["end_ms"] - s["start_ms"] for s in spans if s["kind"] == "microbatch"]
            mean = sum(ops) / len(ops)
            rows = [("add batch (`addBatch`)", m["streaming.add_batch_ms"]),
                    (f"of it: state-store commit, {m['state.instances']:.0f} instances",
                     m["state.commit_ms"]),
                    ("query planning (`queryPlanning`)", m["streaming.query_planning_ms"]),
                    ("source offsets (`latestOffset`)", m["sources.latest_offset_ms"]),
                    ("source read (`getBatch`)", m["sources.get_batch_ms"]),
                    ("offset WAL (`walCommit`)", m["streaming.wal_commit_ms"]),
                    ("commit offsets (`commitOffsets`)", m["streaming.commit_offsets_ms"])]
            print(f"Mean micro-batch `triggerExecution`: {mean:.0f} ms over {len(ops)} "
                  f"micro-batches.\n")
            print("| phase | ms per micro-batch | share of micro-batch |\n|---|---|---|")
            for k, v in rows:
                share = "summed over parallel tasks" if k.startswith("of it") else f"{v / mean:.0%}"
                print(f"| {k} | {v:.0f} | {share} |")
            print(f"\nTask time {m['exec.task_run_s']:.1f} s per pass, of which on CPU "
                  f"{m['exec.task_cpu_s']:.1f} s; one pass on local[1] takes "
                  f"{m['exec.scaling_vs_1core']:.2f}x the local[{cores}] pass.\n")
        else:
            wall = sum(traced) / len(traced)
            slots = wall * cores
            plan = m["plan.analysis_s"] + m["plan.optimization_s"] + m["plan.planning_s"]
            rows = [("slot idle (wall × cores − task run)", m["exec.slot_idle_s"]),
                    ("task run", m["exec.task_run_s"]),
                    ("of it: on CPU", m["exec.task_cpu_s"]),
                    ("of it: GC", m["exec.gc_s"])]
            print(f"Pass wall {wall:.2f} s × {cores} cores = {slots:.1f} slot-seconds.\n")
            print("| bucket | s per pass | share of slot-seconds |\n|---|---|---|")
            for k, v in rows:
                print(f"| {k} | {v:.2f} | {v / slots:.0%} |")
            print(f"\nOn the driver thread, per pass: DataFrame construction "
                  f"{m['entry.build_s']:.2f} s ({m['entry.eager_jobs']:.0f} eager jobs), "
                  f"planning (analysis + optimization + physical) {plan:.2f} s, "
                  f"{m['plan.aqe_updates']:.0f} AQE re-plans, {m['exec.jobs']:.0f} jobs, "
                  f"{m['exec.stages']:.0f} stages, {m['exec.tasks']:.0f} tasks. "
                  f"Pins: {m['pinning.rdds']:.0f} RDDs, peak {m['pinning.peak_mb']:.1f} MB, "
                  f"{m['pinning.live_after']:.0f} blocks still live when rows return. "
                  f"One pass on local[1] takes {m['exec.scaling_vs_1core']:.2f}x the "
                  f"local[{cores}] pass.\n")


if __name__ == "__main__":
    main()

"""Writes perfbench/LAYERS.md: each workload's top-20 query walls from one
traced run, split by layer and attributed to the dominant one.

    python3 perfbench/layers.py [--seed 1]

A query's wall is split into:
  queries    time inside QueryDef.run before any action (driver build,
             including the Spark jobs it starts eagerly: memo builds, staging)
  streaming  the same build time when it ran micro-batches (the wave)
  catalyst   analysis + optimization + planning of the query's actions
  exec       the rest of the action time (jobs, tasks, result transfer)
  core       for etl_write: pipeline time outside the Extract/Load spans
"""
import argparse
import datetime
import json
import os
import tempfile

import run

LAYERS = ["queries", "streaming", "catalyst", "exec", "core"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    cores, heap_g = run.machine()
    out = ["# Per-query layer attribution", "",
           f"Generated by `python3 perfbench/layers.py --seed {a.seed}` on "
           f"{datetime.date.today()} ({cores} cores, {heap_g}g heap), from the traced (second) pass of one",
           "`--trace 1` run per workload. `analytics` runs here but not in BENCHMARK.json.",
           "Seconds per layer; the split rule is in the docstring of `perfbench/layers.py`.", ""]
    for w in run.WORKLOADS:
        with tempfile.NamedTemporaryFile(suffix=".json", dir=run.build.build_dir()) as tmp:
            run.main(["--workload", w, "--seed", str(a.seed), "--seconds", "0", "--trace", "1",
                      "--breakdown", tmp.name])
            rows = json.load(open(tmp.name))
        rows.sort(key=lambda r: -r["seconds"])
        total = sum(r["seconds"] for r in rows)
        dom = {}
        for r in rows:
            dom[r["dominant"]] = dom.get(r["dominant"], 0.0) + r["seconds"]
        out += [f"## {w}", "",
                f"{len(rows)} queries, {total:.1f} s traced. Wall by dominant layer: "
                + ", ".join(f"{k} {v:.1f} s" for k, v in sorted(dom.items(), key=lambda kv: -kv[1])) + ".", "",
                "| query | wall s | " + " | ".join(LAYERS) + " | build jobs | dominant |",
                "|---|---:|" + "---:|" * len(LAYERS) + "---:|---|"]
        for r in rows[:20]:
            cells = [f"{r['split'].get(k, 0.0):.3f}" for k in LAYERS]
            out.append(f"| {r['name']} | {r['seconds']:.3f} | " + " | ".join(cells)
                       + f" | {int(r['build_jobs'])} | {r['dominant']} |")
        out.append("")
    with open(os.path.join(run.HERE, "LAYERS.md"), "w") as fh:
        fh.write("\n".join(out))


if __name__ == "__main__":
    main()

"""graft benchmark: runs one workload of catalog queries at sf0.1 in one fresh
JVM, checks every materialised result and prints its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout. It builds the library and the harness
from source (perfbench/build.py), derives cores and heap from the machine,
gives the JVM a fresh scratch root under the build dir and removes it
afterwards. The last line of stdout is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the lines above it name
every metric with its unit. `--trace 0` reports the end-to-end metrics;
`--trace 1` runs an untraced, a traced and another untraced pass and
reports the per-layer metrics of the traced one (and prints the end-to-end
metrics of the first pass above the last line).
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
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected.json")
TIMEOUT_S = 170

# Each workload: catalog modules, how results are materialised, the nominal
# length of one pass on 4 cores, and which of the modules' queries it runs:
# all of them, an explicit list, or a slice (start, stride). Queries always run in
# catalog order, which decides which query pays each memo-cache build; the
# seed only labels a run. A run measures max(1, seconds // pass_s) passes,
# so the work of a run depends only on --seconds, never on machine speed.
#
# `mining` is picked from measured per-query cost and the memo-cache
# families, so that each mine-once producer runs before its derive-many
# readers: the n-gram Jaccard pair cache mined at 0.8 by dedup_ngram_jaccard,
# from which dedup_incremental, dedup_cross_source_matrix,
# graph_degree_histogram, graph_triangles and graph_pagerank derive; the
# connected-component labels built by dedup_clusters (edges from that pair
# cache), read by dedup_keep_best and dedup_cluster_sizes; the BPE merges
# (bpe_train_merges, bpe_encode) and the IVF quantizer (similarity_ivf_topk,
# similarity_ivf_batch_topk). doc_fingerprint, the largest single result,
# stays in. The rest are data-sized text and vector paths. The whole module
# (84 queries, ~80 s a pass) cannot run three times within one run's 180 s,
# which a traced run needs, so the tail is p60 of 25 samples, not p88.
# `etl_write` runs every Relational and OpsQueries query (39 + 7), so one
# pass gives 46 latency samples and the tail is p78.
# `analytics` is not in BENCHMARK.json (the protocol's runs of the other
# three fill its time budget); it runs by hand and in layers.py.
MINING = [
    "ngram_lm_prob", "quality_repetition", "text_lm_score", "token_cooccurrence", "text_bm25_search",
    "bpe_train_merges", "bpe_encode",
    "embedding_top_pc", "embedding_quantize", "knn_blocked_topk",
    "dedup_ngram_jaccard", "dedup_clusters", "dedup_keep_best", "dedup_incremental", "dedup_simhash",
    "similarity_ivf_topk", "similarity_ivf_batch_topk", "similarity_pq_topk", "doc_fingerprint",
    "dedup_cross_source_matrix", "graph_degree_histogram", "dedup_cluster_sizes", "graph_triangles",
    "graph_pagerank", "multimodal_image_pipeline",
]
WORKLOADS = {
    "analytics": {"modules": ["Relational", "AnalyticsQueries", "WarehouseQueries", "EventQueries",
                              "StatQueries", "TypedQueries", "UdfQueries"],
                  "pipeline": "collect", "take": (0, 5), "pass_s": 18},
    "mining": {"modules": ["PipelineQueries", "TextQueries", "VectorQueries"],
               "pipeline": "collect", "queries": MINING, "pass_s": 38},
    "streaming": {"modules": ["StreamingQueries"], "pipeline": "collect", "pass_s": 16, "wave": True},
    "etl_write": {"modules": ["Relational", "OpsQueries"], "pipeline": "etl", "pass_s": 22},
}

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xss8m",
    "-XX:-UsePerfData"]  # no hsperfdata file outside the checkout

END_TO_END = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_tail_s": "s"}
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.jobs": "count", "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.core_util": "ratio", "exec.stage_skew": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.input_mb": "MB", "exec.failed_tasks": "count",
    "exec.output_mb": "MB", "exec.output_records": "count", "write.files": "count",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.batch_p50_ms": "ms", "streaming.batch_tail_ms": "ms",
    "streaming.add_batch_s": "s", "streaming.planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "core.extract_s": "s", "core.load_s": "s", "core.self_s": "s",
    "trace.overhead_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB",
}


def machine():
    """Task slots and heap by the rule of the repo's tier-1 verify line:
    every CPU this process may use, and half of MemTotal clamped to 2-8 GiB."""
    cores = len(os.sched_getaffinity(0))
    heap_g = 2
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                heap_g = min(8, max(2, int(line.split()[1]) // 2097152))
    return cores, heap_g


def workload_queries(name, expected):
    """The workload's query names, in catalog order."""
    w = WORKLOADS[name]
    names = [q for q, e in expected.items() if e["module"] in w["modules"] and "excluded" not in e]
    if "queries" in w:
        missing = sorted(set(w["queries"]) - set(names))
        if missing:
            raise SystemExit(f"{name}: no certified expected result for {missing}")
        return [q for q in names if q in w["queries"]]
    start, stride = w.get("take", (0, 1))
    return names[start::stride]


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(1, -(-len(s) * p // 100))
    return s[int(k) - 1]


def tail_percentile(n):
    """The highest whole percentile with at least ten samples beyond it."""
    return max(0, (100 * (n - 10)) // n) if n > 10 else 0


def check(records, expected):
    """Marks each record ok only if it ran and matches its expected result."""
    for r in records:
        e = expected.get(r["name"])
        if not r["ok"]:
            r["verdict"] = "error: " + (r.get("error") or "?")
        elif e is None or "excluded" in e:
            r["verdict"] = "no certified expected result"
        elif r["rows"] != e["rows"]:
            r["verdict"] = f"rows {r['rows']} != expected {e['rows']}"
        elif r["hash"] != e["hash"]:
            r["verdict"] = "content hash differs from expected"
        else:
            r["verdict"] = "ok"
    return records


def latencies(records, wave):
    """Seconds until each correct result was in hand. In a wave workload the
    first query's call runs every member as one wave and the others read its
    results, so a member's latency is the wave plus its own read: what a
    user asking for that member alone in a fresh session waits for."""
    first = {}
    for r in records:
        first.setdefault(r["pass"], r)
    return [r["seconds"] + (first[r["pass"]]["build_s"] if wave and r is not first[r["pass"]] else 0.0)
            for r in records if r["verdict"] == "ok"]


def end_to_end(summary, records, wave=False):
    """End-to-end metrics over the untraced passes of one run."""
    passes = [p for p in summary["passes"] if not p["traced"]]
    if len(passes) < len(summary["passes"]):
        passes = passes[:1]  # a traced run: only its first pass is cold like an untraced run
    untraced = {p["pass"] for p in passes}
    rs = [r for r in records if r["pass"] in untraced]
    lat = latencies(rs, wave)
    tail_p = tail_percentile(len(lat))
    m = {
        "setup_s": summary["setup_s"],
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "query_p50_s": percentile(lat, 50) if lat else None,
        "query_tail_s": percentile(lat, tail_p) if lat else None,
    }
    info = {"tail_percentile": tail_p, "latency_samples": len(lat), "passes": len(passes)}
    return m, info


def layer_split(r):
    """Seconds of one traced query by layer, and its dominant layer."""
    lay = r["layers"]
    build, action = lay["build"], lay["action"]
    cat = sum(action.get(f"catalyst.{p}", 0.0) for p in ("analysis", "optimization", "planning")) / 1e3
    split = {
        ("streaming" if build.get("streaming.batches") else "queries"): r["build_s"],
        "catalyst": cat,
        "exec": max(0.0, r["seconds"] - r["build_s"] - cat),
    }
    if lay["core"]:
        split["core"] = max(0.0, lay["core"]["core.self_s"])
        split["exec"] = max(0.0, split["exec"] - split["core"])
    return split, max(split, key=split.get)


def per_layer(summary, records):
    """Per-layer metrics of the traced pass."""
    tp = next(p for p in summary["passes"] if p["traced"])
    after = summary["passes"][tp["pass"] + 1]
    rs = [r for r in records if r["pass"] == tp["pass"]]
    tot = {}
    for r in rs:
        for phase in ("build", "action"):
            for k, v in r["layers"][phase].items():
                tot[k] = tot.get(k, 0.0) + v
        for k, v in r["layers"]["core"].items():
            tot[k] = tot.get(k, 0.0) + v
    g = lambda k: tot.get(k, 0.0)  # noqa: E731
    mb = 1024.0 * 1024.0
    batches = tp["batch_ms"]
    m = {
        "queries.build_s": sum(r["build_s"] for r in rs),
        "queries.build_jobs": sum(r["layers"]["build"].get("exec.jobs", 0.0) for r in rs),
        "catalyst.analysis_s": g("catalyst.analysis") / 1e3,
        "catalyst.optimization_s": g("catalyst.optimization") / 1e3,
        "catalyst.planning_s": g("catalyst.planning") / 1e3,
        "exec.jobs": g("exec.jobs"), "exec.tasks": g("exec.tasks"),
        "exec.task_run_s": g("task_run_ms") / 1e3, "exec.task_cpu_s": g("task_cpu_ns") / 1e9,
        "exec.gc_s": g("gc_ms") / 1e3,
        "exec.core_util": g("task_run_ms") / 1e3 / (tp["wall_s"] * summary["cores"]),
        "exec.stage_skew": percentile(tp["stage_skews"], 90) if tp["stage_skews"] else 1.0,
        "exec.shuffle_write_mb": g("shuffle_write_b") / mb, "exec.shuffle_read_mb": g("shuffle_read_b") / mb,
        "exec.spill_mb": g("spill_b") / mb, "exec.input_mb": g("input_b") / mb,
        "exec.failed_tasks": g("exec.failed_tasks"),
        "exec.output_mb": g("output_b") / mb, "exec.output_records": g("exec.output_records"),
        "write.files": tp["write_files"],
        "streaming.batches": g("streaming.batches"), "streaming.input_rows": g("streaming.input_rows"),
        "streaming.batch_p50_ms": statistics.median(batches) if batches else 0.0,
        "streaming.batch_tail_ms": percentile(batches, tail_percentile(len(batches))) if batches else 0.0,
        "streaming.add_batch_s": g("stream_add_batch_ms") / 1e3,
        "streaming.planning_s": g("stream_planning_ms") / 1e3,
        "streaming.wal_commit_s": g("stream_wal_commit_ms") / 1e3,
        "streaming.state_rows": g("streaming.state_rows"),
        "core.extract_s": g("core.extract_s"), "core.load_s": g("core.load_s"), "core.self_s": g("core.self_s"),
        "trace.overhead_s": tp["wall_s"] - after["wall_s"],
        "failed_frac": sum(r["verdict"] != "ok" for r in rs) / max(1, len(rs)),
        "peak_rss_mb": summary["passes"][0]["peak_rss_mb"],
    }
    return m


def run_jvm(names, pipeline, passes, trace, scratch, out, dump=None, deadline=None):
    """Runs the harness once; returns (summary, records) or raises."""
    classes = build.build()
    cores, heap_g = machine()
    os.makedirs(os.path.join(scratch, "tmp"))
    qfile = os.path.join(scratch, "queries.txt")
    with open(qfile, "w") as fh:
        fh.write("\n".join(names) + "\n")
    cmd = ["java", f"-Xmx{heap_g}g", f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}"] + JVM_OPTS + [
        "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "perfbench.Harness",
        f"sf={DATA}", f"queries={qfile}", f"out={out}", f"scratch={scratch}", f"cores={cores}",
        f"passes={passes}", f"trace={trace}", f"pipeline={pipeline}"]
    if dump:
        cmd.append(f"dump={dump}")
    log_path = os.path.join(scratch, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=scratch)
        try:
            rc = proc.wait(timeout=None if deadline is None else max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise RuntimeError(f"harness JVM ended with {rc}")
    with open(os.path.join(out, "run.json")) as fh:
        summary = json.load(fh)
    with open(os.path.join(out, "records.jsonl")) as fh:
        records = [json.loads(line) for line in fh if line.strip()]
    summary.update(cores=cores, heap_g=heap_g)
    return summary, records


def load_expected():
    with open(EXPECTED) as fh:
        return json.load(fh)["queries"]


def show(metrics, units):
    for k in units:
        print(f"{k} {metrics[k]!r} {units[k]}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--breakdown", help="with --trace 1: write the per-query layer split here (JSON)")
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + TIMEOUT_S
    expected = load_expected()
    names = workload_queries(a.workload, expected)
    w = WORKLOADS[a.workload]
    scratch = os.path.join(build.build_dir(), "runs", uuid.uuid4().hex)
    try:
        summary, records = run_jvm(names, w["pipeline"], max(1, int(a.seconds // w["pass_s"])), a.trace,
                                   scratch, os.path.join(scratch, "result"), deadline=deadline)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    check(records, expected)
    e2e, info = end_to_end(summary, records, w.get("wave", False))
    print(f"# workload={a.workload} seed={a.seed} queries={len(names)} cores={summary['cores']} "
          f"heap={summary['heap_g']}g tail=p{info['tail_percentile']} "
          f"latency_samples={info['latency_samples']} passes={info['passes']} "
          f"peak_rss_mb={summary['passes'][0]['peak_rss_mb']:.0f}")
    for r in records:
        if r["verdict"] != "ok":
            print(f"# FAILED pass={r['pass']} {r['name']}: {r['verdict']}")
    show(e2e, END_TO_END)
    if a.trace:
        metrics, units = per_layer(summary, records), PER_LAYER
        show(metrics, units)
        if a.breakdown:
            rows = []
            for r in records:
                if r.get("layers"):
                    split, dom = layer_split(r)
                    rows.append({"name": r["name"], "seconds": r["seconds"], "split": split,
                                 "dominant": dom, "build_jobs": r["layers"]["build"].get("exec.jobs", 0)})
            with open(a.breakdown, "w") as fh:
                json.dump(rows, fh, indent=1)
    else:
        metrics, units = e2e, END_TO_END
    failed = sum(r["verdict"] != "ok" for r in records)
    print(json.dumps({"correct": failed == 0, "attempted": len(records), "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

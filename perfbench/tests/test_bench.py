"""Tests of the benchmark's own scoring and harness.

    python3 -m unittest discover -s perfbench/tests

The last test builds the harness and starts one JVM (about half a minute).
"""
import io
import json
import os
import shutil
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def record(name, seconds, ok=True, rows=3, hash_="h", pass_=0, layers=None):
    return {"pass": pass_, "name": name, "ok": ok, "error": None if ok else "boom", "seconds": seconds,
            "build_s": seconds / 4, "rows": rows, "hash": hash_, "layers": layers}


def summary(traced=False):
    passes = [{"pass": 0, "traced": False, "wall_s": 10.0, "write_files": 0, "stage_skews": [], "batch_ms": [],
               "peak_rss_mb": 900.0}]
    if traced:
        passes.append({"pass": 1, "traced": True, "wall_s": 11.0, "write_files": 4,
                       "stage_skews": [1.0, 2.0, 3.0], "batch_ms": [5.0, 7.0]})
        passes.append(dict(passes[0], **{"pass": 2, "wall_s": 9.5}))
    return {"setup_s": 2.0, "passes": passes, "cores": 4}


class ScoringTest(unittest.TestCase):

    def test_corrupted_expected_hash_counts_as_failed(self):
        expected = {"a": {"rows": 3, "hash": "h"}, "b": {"rows": 3, "hash": "corrupted"}}
        rs = run.check([record("a", 1.0), record("b", 2.0)], expected)
        self.assertEqual([r["verdict"] == "ok" for r in rs], [True, False])
        m, info = run.end_to_end(summary(), rs)
        self.assertEqual(info["latency_samples"], 1)
        self.assertEqual(m["query_p50_s"], 1.0)

    def test_throwing_query_counts_as_failed_never_as_fast(self):
        expected = {"a": {"rows": 3, "hash": "h"}, "fast": {"rows": 3, "hash": "h"}}
        rs = run.check([record("a", 1.0), record("fast", 0.001, ok=False, rows=-1, hash_="")], expected)
        self.assertTrue(rs[1]["verdict"].startswith("error"))
        m, info = run.end_to_end(summary(), rs)
        self.assertEqual(info["latency_samples"], 1)
        self.assertEqual(m["query_p50_s"], 1.0)

    def test_row_count_mismatch_and_uncertified_query_fail(self):
        expected = {"a": {"rows": 4, "hash": "h"}, "x": {"excluded": "no oracle SQL"}}
        rs = run.check([record("a", 1.0), record("x", 1.0), record("unknown", 1.0)], expected)
        self.assertEqual([r["verdict"] == "ok" for r in rs], [False, False, False])

    def test_wave_members_wait_for_the_wave(self):
        rs = [record("first", 8.0), record("b", 0.04), record("c", 0.06)]
        rs[0]["build_s"] = 7.5
        run.check(rs, {n: {"rows": 3, "hash": "h"} for n in ("first", "b", "c")})
        self.assertEqual([round(x, 6) for x in run.latencies(rs, wave=True)], [8.0, 7.54, 7.56])
        self.assertEqual(run.latencies(rs, wave=False), [8.0, 0.04, 0.06])

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual([run.tail_percentile(n) for n in (177, 84, 46, 11, 10)], [94, 88, 78, 9, 0])
        for n in (20, 46, 84, 177, 500):
            p = run.tail_percentile(n)
            beyond = n - run.percentile(list(range(1, n + 1)), p)
            self.assertGreaterEqual(beyond, 10)

    def test_workloads_run_certified_queries_in_catalog_order(self):
        expected = run.load_expected()
        order = list(expected)
        for w in run.WORKLOADS:
            names = run.workload_queries(w, expected)
            self.assertTrue(names, w)
            self.assertEqual(names, sorted(names, key=order.index), w)
            self.assertTrue(all(expected[n].get("oracle") == "match" for n in names), w)
        self.assertEqual(run.workload_queries("mining", expected), [n for n in order if n in run.MINING])
        self.assertEqual(run.tail_percentile(len(run.workload_queries("etl_write", expected))), 78)
        with self.assertRaises(SystemExit):
            run.workload_queries("mining", dict(expected, doc_fingerprint={"module": "PipelineQueries",
                                                                           "excluded": "test"}))

    def test_one_command_prints_every_metric_with_its_unit(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        layers = {"build": {"exec.jobs": 1.0}, "action": {"catalyst.analysis": 2.0, "exec.jobs": 2.0},
                  "core": {"core.extract_s": 0.1, "core.load_s": 0.2, "core.self_s": 0.01}}
        rs = run.check([record("a", 1.0), record("a", 1.2, pass_=1, layers=layers)],
                       {"a": {"rows": 3, "hash": "h"}})
        e2e, _ = run.end_to_end(summary(True), rs)
        layer = run.per_layer(summary(True), rs)
        out = io.StringIO()
        with redirect_stdout(out):
            run.show(e2e, run.END_TO_END)
            run.show(layer, run.PER_LAYER)
        printed = {line.split()[0]: line.split()[-1] for line in out.getvalue().splitlines()}
        for m in bench["end_to_end"] + bench["per_layer"]:
            self.assertEqual(printed.get(m["name"]), m["unit"], m["name"])
        self.assertAlmostEqual(layer["trace.overhead_s"], 1.5)
        self.assertEqual(e2e["wall_s"], 10.0)
        self.assertEqual(e2e["setup_s"], 2.0)


class HarnessTest(unittest.TestCase):
    """One real JVM run: a corrupted expected hash and a query that throws
    are both failures, and the throwing one contributes no latency."""

    def test_real_run_reports_failures(self):
        expected = run.load_expected()
        good = "scan_parquet"
        bad = dict(expected[good], hash="0" * 32)
        scratch = tempfile.mkdtemp(dir=run.build.build_dir())
        try:
            s, rs = run.run_jvm([good, good, "no_such_query"], "collect", 1, 0,
                                os.path.join(scratch, "w"), os.path.join(scratch, "out"))
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        run.check(rs[:1], expected)
        run.check(rs[1:], {good: bad})
        self.assertEqual([r["verdict"] == "ok" for r in rs], [True, False, False])
        self.assertFalse(rs[2]["ok"])
        _, info = run.end_to_end(s, rs)
        self.assertEqual(info["latency_samples"], 1)


if __name__ == "__main__":
    unittest.main()

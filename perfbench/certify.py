"""Certifies the benchmark's expected results (perfbench/expected.json).

Runs the catalog queries at sf0.1 twice in fresh JVMs, materialising each
result in full. The first run also dumps each result as parquet, and the
repo's DuckDB oracle checker (tools/check_oracle.py) replays every query's
oracle SQL against the dump. A query's row count and content hash become
its expected values only when its oracle matched and both runs agree.
Otherwise the query is marked excluded, with the reason; an oracle that
does not finish within ORACLE_TIMEOUT_S is such a reason. Excluded queries
are left out of every workload.

    ORACLE_TIMEOUT_S=900 python3 perfbench/certify.py
    ORACLE_TIMEOUT_S=900 python3 perfbench/certify.py --only dedup_clusters,dedup_keep_best

`--only` certifies the named queries and keeps every other entry of
expected.json as it is.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import uuid

import run

ROOT = os.path.dirname(run.HERE)


def catalog():
    classes = run.build.build()
    out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", classes + os.pathsep + os.path.join(run.build.spark_jars(), "*"),
                          "perfbench.CatalogList"], check=True, capture_output=True, text=True).stdout
    return [json.loads(line) for line in out.splitlines() if line.startswith("{")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", help="comma-separated query names to certify")
    args = ap.parse_args()
    timeout_s = os.environ.get("ORACLE_TIMEOUT_S", "60")
    cat = catalog()
    if args.only:
        only = set(args.only.split(","))
        unknown = only - {q["name"] for q in cat}
        if unknown:
            raise SystemExit(f"not in the catalog: {sorted(unknown)}")
        cat = [q for q in cat if q["name"] in only]
    names = [q["name"] for q in cat]
    work = os.path.join(run.build.build_dir(), "certify", uuid.uuid4().hex)
    dump = os.path.join(work, "dump")
    os.makedirs(dump)
    runs = []
    for i in range(2):
        scratch = os.path.join(work, f"run{i}")
        _, records = run.run_jvm(names, "collect", 1, 0, scratch, os.path.join(scratch, "result"),
                                 dump=dump if i == 0 else None)
        runs.append({r["name"]: r for r in records})
    with open(os.path.join(dump, "oracle_sql.json"), "w") as fh:
        json.dump({q["name"]: q["oracle"] for q in cat if q["oracle"]}, fh)
    report = os.path.join(work, "oracle.json")
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), run.DATA, dump, report],
                   env=dict(os.environ, ORACLE_TIMEOUT_S=timeout_s))
    with open(report) as fh:
        oracle = json.load(fh)["queries"]
    expected = {}
    if args.only:
        with open(run.EXPECTED) as fh:
            expected = json.load(fh)["queries"]
    for q in cat:
        n = q["name"]
        a, b = runs[0].get(n), runs[1].get(n)
        o = oracle.get(n, {})
        e = {"module": q["module"]}
        if not q["oracle"]:
            e["excluded"] = "no oracle SQL"
        elif not (a and a["ok"] and b and b["ok"]):
            e["excluded"] = "query failed: " + str((a or b or {}).get("error"))
        elif (a["rows"], a["hash"]) != (b["rows"], b["hash"]):
            e["excluded"] = "result differs between two runs"
        elif "excluded_timeout" in o:
            e["excluded"] = f"DuckDB oracle did not finish within {timeout_s} s at sf0.1"
        elif not o.get("hash_match"):
            e["excluded"] = f"oracle mismatch at sf0.1: {o.get('err')}"
        else:
            e.update(rows=a["rows"], hash=a["hash"], oracle="match")
        expected[n] = e
    doc = {"data": "perfbench/data/sf0.1",
           "certified_by": "perfbench/certify.py: tools/check_oracle.py hash match + two agreeing runs",
           "queries": expected}
    with open(run.EXPECTED, "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")
    excluded = {n: e["excluded"] for n, e in expected.items() if "excluded" in e}
    print(f"oracle-certified {sum(e.get('oracle') == 'match' for e in expected.values())}/{len(expected)}; "
          f"excluded: {json.dumps(excluded, indent=1)}")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

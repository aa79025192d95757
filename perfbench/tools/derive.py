#!/usr/bin/env python3
"""Derive the operators-probe reference data kept in perfbench/data/queries.json.

For every registry query it records its stratum (the operator module its
body calls), its warm time on the benchmark's tables, and the expected
result fingerprint from the DuckDB oracle SQL. Run it from the repository
root after the benchmark has built once:

    python3 perfbench/tools/derive.py

It generates the tables, runs graftbench.Derive (every query once cold,
with its result as parquet, then three timed runs; warm_s is their median) and the oracle SQL in
DuckDB, then compares both sides the way tools/check_correctness.py does,
with doubles rounded (bench/check.py FLOAT_DIGITS). Queries whose Spark
result differs from the oracle are reported and recorded with
"oracle_match": false; the benchmark then counts them as failed.

The pools the seed draws from need latencies measured inside mixed
passes of registry queries: the probe of a traced users_to_topic run is
one such pass. Keep the result.json of several traced runs
(.bench_build/perfbench/run-users_to_topic/result.json), then:

    python3 perfbench/tools/derive.py pools <result.json> ...
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from bench import check  # noqa: E402
import run  # noqa: E402

MODULES = ("Similarity", "Dedup", "TextMetrics", "Eval", "Sketch", "Behavior",
           "Multimodal", "Relational", "Sampling", "Profile", "Graph",
           "StreamingOps", "Pipeline")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def strata(queries_scala):
    """{registry name: module}. A body that calls several modules counts
    under the one it calls most (first call breaks ties); a body that
    calls none is a plain DataFrame program and counts as Relational."""
    src = open(queries_scala).read()
    names = dict(re.findall(r'^\s+"(q\w+)" -> (q\w+),?$', src, re.M))
    starts = [(m.start(), m.group(1)) for m in re.finditer(r"^  val (q\w+): Q\b", src, re.M)]
    bodies = {}
    for i, (pos, val) in enumerate(starts):
        end = starts[i + 1][0] if i + 1 < len(starts) else len(src)
        bodies[val] = src[pos:end]
    out = {}
    for name, val in names.items():
        body = bodies.get(val, "")
        calls = [m.group(1) for m in re.finditer(r"\b(%s)\." % "|".join(MODULES), body)]
        out[name] = max(MODULES, key=lambda mod: (calls.count(mod), -calls.index(mod)
                                                   if mod in calls else -1e9)) \
            if calls else "Relational"
    return out


# Probe pools. In a mixed pass queries run two to three times slower
# than when one query repeats, so pools are chosen from `mix_s`: the
# median latency a query showed inside mixed passes (see `pools` below). Per stratum, of the candidates (non-empty result, warm_s
# within CANDIDATE_WARM_S) the two whose mix_s are closest to each other
# form the pool, or one, if even that pair differs by more than
# PAIR_TOLERANCE. Narrow pools keep a pass costing about the same
# whatever the seed draws.
CANDIDATE_WARM_S = (0.15, 0.35)
PAIR_TOLERANCE = 0.12


def assign_pools(entries):
    by_module = {}
    for name, e in sorted(entries.items()):
        e.pop("pool", None)
        if (e["expected"] is not None and e["expected"]["rows"] > 0 and "mix_s" in e
                and CANDIDATE_WARM_S[0] <= e["warm_s"] <= CANDIDATE_WARM_S[1]):
            by_module.setdefault(e["module"], []).append((e["mix_s"], name))
    for cands in by_module.values():
        cands.sort()
        pairs = sorted(((b[0] - a[0]) / a[0], a[1], b[1]) for a, b in zip(cands, cands[1:]))
        pick = pairs[0][1:] if pairs and pairs[0][0] <= PAIR_TOLERANCE else [cands[len(cands) // 2][1]]
        for name in pick:
            entries[name]["pool"] = "mix"


def pools(result_files):
    """Set mix_s from the executions in run result.json files and reassign pools."""
    import statistics
    path = os.path.join(os.path.dirname(HERE), "data", "queries.json")
    entries = json.load(open(path))
    lat = {}
    for f in result_files:
        for e in json.load(open(f))["executions"]:
            if "error" not in e:
                lat.setdefault(e["query"], []).append((e["end_ms"] - e["start_ms"]) / 1e3)
    for name, v in lat.items():
        entries[name]["mix_s"] = round(statistics.median(v), 3)
    assign_pools(entries)
    with open(path, "w") as f:
        json.dump(entries, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    root = os.getcwd()
    cp = run.build(root)
    work = os.path.join(root, ".bench_build", "perfbench", "derive")
    tables = run.ensure_tables(root)
    os.makedirs(work, exist_ok=True)
    subprocess.run(run.java(cp, work, "graftbench.Derive") + [tables, work], check=True,
                   stdout=open(os.path.join(work, "jvm.log"), "w"), stderr=subprocess.STDOUT)
    with open(os.path.join(work, "derive.json")) as f:
        spark_side = json.load(f)
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    mods = strata(os.path.join(root, "src", "main", "scala", "graft", "Queries.scala"))
    path = os.path.join(root, run.BENCH, "data", "queries.json")
    before = json.load(open(path)) if os.path.exists(path) else {}
    out = {}
    for name in sorted(spark_side["warm_s"]):
        entry = {"module": mods[name], "warm_s": round(spark_side["warm_s"][name], 3)}
        if "mix_s" in before.get(name, {}):  # measured by `pools`; kept until re-measured
            entry["mix_s"] = before[name]["mix_s"]
        got = check.fingerprint(pq.read_table(os.path.join(work, "out", name)).to_pylist()) \
            if not spark_side["errors"].get(name) else None
        sql = spark_side["oracle"].get(name)
        if sql is not None:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            entry["expected"] = check.fingerprint(dict(zip(cols, r)) for r in cur.fetchall())
            entry["oracle_match"] = got == entry["expected"]
        else:
            entry["expected"] = got
        if spark_side["errors"].get(name) or not entry.get("oracle_match", True):
            print(f"MISMATCH {name}: spark={got} oracle={entry.get('expected')} "
                  f"{spark_side['errors'].get(name, '')}", flush=True)
        out[name] = entry
    assign_pools(out)
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if sys.argv[1:2] == ["pools"]:
        pools(sys.argv[2:])
    else:
        main()

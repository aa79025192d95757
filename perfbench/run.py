#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload users_to_topic --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
benchmark's JVM program with sbt (perfbench/build.sbt, a source dependency
on the root build); later runs reuse the build while the sources are
unchanged. Every file the benchmark writes lands under .bench_build/.

Workloads, metrics and how to read them: perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from bench import check, gen, stats  # noqa: E402

BENCH = os.path.basename(HERE)
WORKLOADS = ("users_to_topic", "cdc_to_table")

# Session creation plus warm-up, repeated; setup_s is the median.
SETUP_ROUNDS = 5
# JVM heap; the workloads need well under this.
HEAP = "2g"
# A run that takes longer than this is killed and fails.
RUN_TIMEOUT_S = 170

# users_to_topic: open loop, about half the chain's drain capacity here.
USERS_FILES_PER_S = 40
USERS_ROWS_PER_FILE = 25
# The reference polls every 200 ms; batches here take longer than that,
# so at 200 ms they run back to back and latency tracks the box's speed at
# the moment (shared VMs drift by a quarter over minutes). A 1 s trigger
# keeps batches on the schedule: latency = wait for the trigger + batch.
USERS_TRIGGER_MS = 1000
# The first seconds of the schedule warm the measured query up; files due
# then are generated and checked but not measured.
USERS_WARMUP_S = 3
# Generator lateness above this p99 makes the run invalid.
GEN_LATE_P99_BOUND_MS = 250

# cdc_to_table: a backlog drained CDC_DRAINS times, all drains together
# taking about --seconds here.
CDC_ROWS_PER_FILE = 100
CDC_FILES_PER_S = 25
CDC_MAX_FILES_PER_TRIGGER = 20
CDC_DRAINS = 3
# Latency percentiles are medians over this many consecutive parts of a
# run (users_to_topic: thirds of the schedule; cdc_to_table: the drains),
# so one disturbed stretch does not decide a run's figure.
PARTS = 3

# Operators probe of traced runs: table scale relative to the sf0.01 star schema.
TABLE_SCALE = 0.1

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def warn_unsupported(n, what):
    """Say so when p90 of n samples keeps fewer than ten samples beyond it."""
    if (stats.highest_supported(n) or 0) < 90:
        print(f"perfbench: only {n} latency samples in {what}: p90 is not supported "
              f"by ten samples beyond it", file=sys.stderr)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def work_dir(root):
    return os.path.join(root, ".bench_build", "perfbench")


# ------------------------------------------------------------------ build

def _source_stamp(root):
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"), os.path.join(root, BENCH, "build.sbt"),
            os.path.join(root, BENCH, "project"), os.path.join(root, BENCH, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, n) for d, _, ns in os.walk(top) for n in ns
            if os.sep + "target" + os.sep not in os.path.join(d, n) + os.sep)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile the library and the JVM program unless an up-to-date build
    exists; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"no {need} here: run from the root of a graft checkout")
    work = work_dir(root)
    os.makedirs(work, exist_ok=True)
    stamp_file, cp_file = os.path.join(work, "build.stamp"), os.path.join(work, "classpath.txt")
    stamp = _source_stamp(root)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=os.path.join(root, BENCH), env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=880)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed")
    shutil.copy(os.path.join(root, BENCH, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def java(cp, run_dir, main_class):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, main_class]


class Jvm:
    """The benchmark JVM of one run, in its own process group so that every
    thread and child it starts is stopped with it."""

    def __init__(self, cp, run_dir):
        self.log = open(os.path.join(run_dir, "jvm.log"), "w")
        self.proc = subprocess.Popen(java(cp, run_dir, "graftbench.Main") + [run_dir],
                                     cwd=run_dir, stdout=self.log, stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL, start_new_session=True)

    def wait(self, deadline):
        try:
            return self.proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            self.stop()
            return None

    def stop(self):
        if self.proc.poll() is None:
            os.killpg(self.proc.pid, signal.SIGKILL)
            self.proc.wait()
        self.log.close()


# ----------------------------------------------------------- the workloads

def ensure_tables(root):
    """The operators probe's tables, generated once per checkout (they do
    not depend on the seed; the seed draws the queries)."""
    d = os.path.join(work_dir(root), f"tables-{TABLE_SCALE}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_tables(d, TABLE_SCALE)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def draw_queries(seed, catalog):
    """The operators probe for `seed`: per stratum (operator module) one
    query of its pool, in stratum order. Pools come from
    perfbench/data/queries.json (tools/derive.py)."""
    r = gen.rng(seed, "draw")
    pools = {}
    for name, q in sorted(catalog.items()):
        if q.get("pool"):
            pools.setdefault(q["module"], []).append(name)
    return [r.choice(pools[m]) for m in sorted(pools)]


def spec(name, source, transforms, sink):
    return {"name": name, "source": source, "transforms": transforms, "sink": sink}


def users_spec(run_dir, src, tag, trigger):
    return spec("users_to_topic",
                {"type": "file", "options": {"format": "json", "path": src,
                                             "schema": gen.USERS_SCHEMA_DDL}},
                [{"type": "mask", "options": {"field": "private_info"}},
                 {"type": "envelope_encode", "options": {"name": "users"}}],
                {"type": "file", "options": {
                    "path": os.path.join(run_dir, tag, "sink"),
                    "checkpoint": os.path.join(run_dir, tag, "checkpoint"), **trigger}})


def cdc_spec(run_dir, src, tag):
    return spec("cdc_to_table",
                {"type": "file", "options": {"format": "text", "path": src,
                                             "schema": "value STRING",
                                             "maxFilesPerTrigger": str(CDC_MAX_FILES_PER_TRIGGER)}},
                [{"type": "debezium_unwrap", "options": {"schema": gen.CDC_ROW_DDL}},
                 {"type": "op_filter", "options": {"ops": "c,u,d"}}],
                {"type": "upsert", "options": {
                    "path": os.path.join(run_dir, tag, "sink"), "pk": "id", "order": "__ts_ms",
                    "checkpoint": os.path.join(run_dir, tag, "checkpoint"),
                    "trigger": "availableNow"}})


class Run:
    def __init__(self, root, args, cp):
        self.root, self.args, self.cp = root, args, cp
        self.dir = os.path.join(work_dir(root), f"run-{args.workload}")
        shutil.rmtree(self.dir, ignore_errors=True)  # last run's sinks and checkpoints
        os.makedirs(self.dir)
        self.deadline = time.time() + RUN_TIMEOUT_S
        self.params = {"workload": args.workload, "seconds": args.seconds,
                       "trace": bool(args.trace), "setup_rounds": SETUP_ROUNDS,
                       "cores": os.cpu_count() or 1, "timeout_s": RUN_TIMEOUT_S}

    def path(self, *parts):
        return os.path.join(self.dir, *parts)

    def start(self):
        with open(self.path("params.json"), "w") as f:
            json.dump(self.params, f)
        self.jvm = Jvm(self.cp, self.dir)
        return self.jvm

    def finish(self):
        code = self.jvm.wait(self.deadline)
        res_path = self.path("result.json")
        if code != 0 or not os.path.exists(res_path):
            log = open(self.path("jvm.log"), errors="replace").read()[-4000:]
            fail(f"JVM run failed (exit {code}):\n{log}")
        with open(res_path) as f:
            res = json.load(f)
        if "error" in res:
            log = open(self.path("jvm.log"), errors="replace").read()[-3000:]
            fail(f"workload failed: {res['error']}\n{log}")
        return res


def run_users(run):
    seed, seconds = run.args.seed, run.args.seconds
    n_files = (seconds + USERS_WARMUP_S) * USERS_FILES_PER_S
    warm_src = run.path("warm-src")
    os.makedirs(warm_src)
    for i in range(4):
        with open(os.path.join(warm_src, f"warm-{i}.json"), "wb") as f:
            f.write(gen.users_file(f"{seed}:warm", i, USERS_ROWS_PER_FILE)[1])
    src = run.path("src")
    os.makedirs(src)
    # the warm-up drains its four files at once, so set-up is not timed by the trigger
    run.params.update(spec=users_spec(run.dir, src, "main", {"trigger.ms": str(USERS_TRIGGER_MS)}),
                      warm_spec=users_spec(run.dir, warm_src, "warm{round}",
                                           {"trigger": "availableNow"}))
    catalog = load_catalog()
    if run.args.trace:
        run.params.update(tables=ensure_tables(run.root),
                          queries=draw_queries(seed, catalog))
    jvm = run.start()
    feeder = None
    try:
        while not os.path.exists(run.path("ready")):
            if jvm.proc.poll() is not None or time.time() > run.deadline:
                run.finish()
                fail("the JVM ended before the pipeline was ready")
            time.sleep(0.02)
        feeder = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "bench", "feeder.py"), src, str(seed),
             str(n_files), str(USERS_ROWS_PER_FILE), str(1000 / USERS_FILES_PER_S),
             "100", run.path("feeder.json")], stdin=subprocess.DEVNULL)
        feeder.wait(timeout=seconds + 60)
        open(run.path("feeder.done"), "w").close()
        res = run.finish()
    finally:
        if feeder is not None and feeder.poll() is None:
            feeder.kill()
            feeder.wait()
        jvm.stop()
    with open(run.path("feeder.json")) as f:
        log = json.load(f)
    due = {e["file"]: e["due"] for e in log}
    written = {e["file"]: e["written"] for e in log}
    late_ms = [(e["written"] - e["due"]) * 1e3 for e in log]
    if stats.percentile(late_ms, 99) > GEN_LATE_P99_BOUND_MS:
        fail(f"invalid run: generator p99 lateness {stats.percentile(late_ms, 99):.1f} ms "
             f"exceeds {GEN_LATE_P99_BOUND_MS} ms", code=3)
    ckpt, sink = run.path("main", "checkpoint"), run.path("main", "sink")
    batches, commits = check.files_by_batch(ckpt), check.commit_times(ckpt)
    lat, missing = check.file_latencies(due, batches, commits)
    begin = min(due.values()) + USERS_WARMUP_S
    measured = sorted((f for f in lat if due[f] >= begin), key=due.get)
    in_order = [lat[f] * 1e3 for f in measured]
    end = max(lat[f] + due[f] for f in measured)

    # output check: every generated row exactly once, masked, fields intact
    expected = {}
    for i in range(n_files):
        for row in gen.users_file(seed, i, USERS_ROWS_PER_FILE)[0]:
            expected[row["id"]] = row
    seen, bad = {}, 0
    for r in check.file_sink_rows(sink):
        payload = json.loads(r["value"])["payload"]
        uid = payload.get("id")
        seen[uid] = seen.get(uid, 0) + 1
        want = expected.get(uid)
        if want is None or payload != {**want, "private_info": "CENSORED"}:
            bad += 1
    failed = bad + sum(1 for uid in expected if seen.get(uid, 0) != 1)
    probe_failed = probe_check(run, res, catalog)
    e2e = {
        "setup_s": stats.median(res["setup_s"]),
        "cpu_s": check.cpu_between(res["cpu_samples"], begin, end),
        "rate_per_s": len(measured) * USERS_ROWS_PER_FILE / (end - begin),
        "latency_p50_ms": stats.median_of_parts(in_order, PARTS, 50),
        "latency_p90_ms": stats.median_of_parts(in_order, PARTS, 90),
    }
    warn_unsupported(len(in_order) // PARTS, "a third of the window")
    info = {"rows": len(expected), "missing_files": len(missing),
            "latency_samples": len(lat),
            "latency_p99_ms": stats.percentile(in_order, 99),
            "gen_late_ms_p99": stats.percentile(late_ms, 99),
            "input_bytes": sum(os.path.getsize(os.path.join(src, n)) for n in due),
            "streams": [{"query": res["query"], "batches": batches, "written": written}],
            "sink": sink, "modules": {n: catalog[n]["module"] for n in res.get("checks", {})}}
    return e2e, len(expected) + len(res.get("checks", {})), failed + probe_failed, res, info


def run_cdc(run):
    seed, seconds = run.args.seed, run.args.seconds
    n_files = seconds * CDC_FILES_PER_S // CDC_DRAINS
    events = gen.cdc_events(seed, n_files * CDC_ROWS_PER_FILE)
    src = run.path("src")
    names, in_bytes = gen.write_backlog(events, CDC_ROWS_PER_FILE, src, 1_600_000_000)
    warm_src = run.path("warm-src")
    gen.write_backlog(gen.cdc_events(seed, 4 * CDC_ROWS_PER_FILE, tag="cdc-warm"),
                      CDC_ROWS_PER_FILE, warm_src, 1_600_000_000)
    run.params.update(spec=cdc_spec(run.dir, src, "main{round}"), drains=CDC_DRAINS,
                      warm_spec=cdc_spec(run.dir, warm_src, "warm{round}"),
                      spec_1core=cdc_spec(run.dir, src, "one-core"),
                      sink=run.path("main{round}", "sink"))
    run.start()
    try:
        res = run.finish()
    finally:
        run.jvm.stop()

    want = check.expected_table(events)
    want_fp = check.fingerprint(want.values())
    per, streams, failed, all_lat = [], [], 0, []
    for i, d in enumerate(res["drains"]):
        ckpt = run.path(f"main{i}", "checkpoint")
        batches, commits = check.files_by_batch(ckpt), check.commit_times(ckpt)
        start, end = d["start_ms"] / 1e3, d["end_ms"] / 1e3
        lat, missing = check.file_latencies({n: start for n in names}, batches, commits)
        ms = [v * 1e3 for v in lat.values()]
        all_lat += ms
        warn_unsupported(len(ms), "a drain")
        per.append({"cpu_s": d["cpu_s"], "rate_per_s": len(events) / (end - start),
                    "latency_p50_ms": stats.percentile(ms, 50),
                    "latency_p90_ms": stats.percentile(ms, 90)})
        streams.append({"query": d["query"], "batches": batches, "written": dict.fromkeys(names, 0.0)})
        # output check: each drain's final snapshot is the newest-per-key table
        with open(run.path(f"snapshot-{i}.jsonl")) as f:
            got_rows = [json.loads(l) for l in f if l.strip()]
        if check.fingerprint(got_rows) != want_fp:
            got = {r["id"]: r for r in got_rows}
            failed += max(1, len(got_rows) - len(got) + sum(
                1 for k in set(want) | set(got) if want.get(k) != got.get(k)))
        failed += len(missing)
    e2e = {"setup_s": stats.median(res["setup_s"])}
    e2e.update({k: stats.median(p[k] for p in per) for k in per[0]})
    info = {"rows": len(events) * len(per), "one_core_rows": len(events),
            "latency_samples": len(all_lat), "latency_p99_ms": stats.percentile(all_lat, 99),
            "live_keys": len(want), "input_bytes": in_bytes * len(per), "streams": streams,
            "sink": run.path(f"main{len(per) - 1}", "sink")}
    return e2e, len(events) * len(per), failed, res, info


def load_catalog():
    with open(os.path.join(HERE, "data", "queries.json")) as f:
        return json.load(f)


def probe_check(run, res, catalog):
    """Failed operations of the operators probe: a query that threw, or
    whose result's row count and fingerprint differ from the expected ones
    in data/queries.json."""
    import pyarrow.parquet as pq
    failed = sum(1 for e in res.get("executions", []) if "error" in e)
    for n, err in res.get("checks", {}).items():
        if err or check.fingerprint(
                pq.read_table(run.path("out", n)).to_pylist()) != catalog[n]["expected"]:
            failed += 1
    return failed


RUNNERS = {"users_to_topic": run_users, "cdc_to_table": run_cdc}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    cp = build(root)
    run = Run(root, args, cp)
    e2e, attempted, failed, res, info = RUNNERS[args.workload](run)
    if args.trace:
        from bench import layers
        metrics = layers.metrics(args.workload, res, e2e, info, run.dir)
    else:
        metrics = e2e
    units = load_units()
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


def load_units():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}


if __name__ == "__main__":
    main()

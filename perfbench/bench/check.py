"""Output checks and the arithmetic that turns raw run data into metrics.

Nothing here calls into the program under test: results are read back
from the files it wrote and compared with what the benchmark computes
itself from the generated inputs.
"""
import datetime as _dt
import decimal
import hashlib
import json
import math
import os

# ------------------------------------------------------------ fingerprints

# Doubles are compared at this many significant digits, so that last-ulp
# drift between engines (summation order) does not read as a mismatch.
FLOAT_DIGITS = 9


def canon(v):
    """Engine-neutral text form of one value: the same logical value read
    through pyarrow or returned by DuckDB renders the same."""
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        if f == 0:
            return "0"
        if f == int(f) and abs(f) < 1e15:
            return str(int(f))
        return f"{f:.{FLOAT_DIGITS}g}"
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (_dt.date, _dt.time)):
        return v.isoformat()
    if isinstance(v, _dt.timedelta):
        return str(v.total_seconds())
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):  # DuckDB MAP
            return canon(sorted(zip(v["key"], v["value"]), key=repr))
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        if v and all(isinstance(e, tuple) and len(e) == 2 for e in v):  # arrow MAP
            v = sorted(v, key=repr)
        return "[" + ",".join(canon(e) for e in v) + "]"
    return str(v)


def row_digest(row):
    """64-bit digest of a row given as {column: value}; columns by name."""
    text = "|".join(f"{k}={canon(row[k])}" for k in sorted(row))
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "big")


def fingerprint(rows):
    """Order-independent fingerprint of a multiset of rows: row count and
    the sum of row digests modulo 2^64."""
    n, acc = 0, 0
    for r in rows:
        n += 1
        acc = (acc + row_digest(r)) % (1 << 64)
    return {"rows": n, "hash": f"{acc:016x}"}


# ---------------------------------------------------------------- cdc table

def expected_table(events):
    """Newest state per key with deletes removed, as the keyed sink must
    hold it after applying `events` (op, before, after, ts_ms) in order.
    Columns match Debezium unwrap output: row fields plus __deleted,
    __op and __ts_ms."""
    state = {}
    for op, before, after, ts in events:
        if op == "d":
            state.pop(before["id"], None)
        else:
            state[after["id"]] = {**after, "__deleted": "false", "__op": op, "__ts_ms": ts}
    return state


# ----------------------------------------------------- streaming checkpoint

def read_log_dir(directory):
    """Entries of a Spark metadata log directory ({batch id: [json lines]}):
    the first line of each file is a version marker."""
    out = {}
    if not os.path.isdir(directory):
        return out
    for name in os.listdir(directory):
        stem = name.split(".")[0]
        if name.startswith(".") or not stem.isdigit():
            continue
        with open(os.path.join(directory, name)) as f:
            lines = f.read().splitlines()[1:]
        out[int(stem)] = [json.loads(l) for l in lines if l.strip()]
    return out


def files_by_batch(checkpoint):
    """{batch id: [input file names]} from the file source's log at
    `<checkpoint>/sources/0/<batch id>`. Compacted log files hold the
    entries of earlier batches too, so each entry's own batchId counts."""
    out = {}
    for entries in read_log_dir(os.path.join(checkpoint, "sources", "0")).values():
        for e in entries:
            out.setdefault(e["batchId"], set()).add(os.path.basename(e["path"]))
    return {b: sorted(names) for b, names in out.items()}


def commit_times(checkpoint):
    """{batch id: commit time in epoch seconds}, from the commit log's mtimes."""
    d = os.path.join(checkpoint, "commits")
    out = {}
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
    return out


def file_latencies(due, batches, commits):
    """Latency of each input file: commit time of the batch that holds it
    minus the time the file was due. Returns ({file: seconds}, [files that
    no committed batch holds])."""
    where = {}
    for b, names in batches.items():
        for n in names:
            where[n] = b
    lat, missing = {}, []
    for name, t in due.items():
        b = where.get(name)
        if b is None or b not in commits:
            missing.append(name)
        else:
            lat[name] = commits[b] - t
    return lat, sorted(missing)


def backlog_max(written, batches, starts):
    """Largest number of files on disk but not yet taken by a batch, seen
    at any batch start. `written`: {file: epoch s}; `starts`: {batch: epoch s}."""
    taken = 0
    worst = 0
    for b in sorted(starts):
        present = sum(1 for t in written.values() if t <= starts[b])
        worst = max(worst, present - taken)
        taken += len(batches.get(b, ()))
    return worst


def cpu_between(samples, begin, end):
    """CPU seconds spent between two epoch times, interpolated linearly
    from (epoch ms, CPU s) samples."""
    def at(t):
        ms = t * 1e3
        for (t0, c0), (t1, c1) in zip(samples, samples[1:]):
            if t0 <= ms <= t1:
                return c0 + (c1 - c0) * (ms - t0) / (t1 - t0) if t1 > t0 else c1
        return samples[0][1] if ms < samples[0][0] else samples[-1][1]
    return at(end) - at(begin)


def dir_bytes(path):
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
    return total


def file_sink_rows(sink):
    """Rows of every data file a file sink committed, as listed in its
    `_spark_metadata` log (compacted and delta files alike)."""
    import pyarrow.parquet as pq
    paths = set()
    for entries in read_log_dir(os.path.join(sink, "_spark_metadata")).values():
        for e in entries:
            if e.get("action", "add") == "add":
                paths.add(e["path"])
    rows = []
    for p in sorted(paths):
        local = p[len("file:"):] if p.startswith("file:") else p
        rows.extend(pq.read_table(local).to_pylist())
    return rows

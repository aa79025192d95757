"""Seeded input generators. The same seed gives byte-identical inputs.

Every generator draws from its own `random.Random` seeded with a string
(`"<seed>:<tag>"`), which Python hashes with SHA-512, so streams are
stable across processes and independent of PYTHONHASHSEED.
"""
import datetime as _dt
import json
import os
import random
import string

# ---------------------------------------------------------------- users

USERS_SCHEMA_DDL = "id INT, name STRING, updated_at TIMESTAMP, private_info STRING"
# Pads a users record to about 528 bytes of JSON, the reference's
# "Record Size Average".
_PRIVATE_LEN = 446
_EPOCH_2025 = 1735689600000  # 2025-01-01T00:00:00Z in ms


def rng(seed, tag):
    return random.Random(f"{seed}:{tag}")


def iso_ms(ms):
    """Epoch milliseconds as the ISO-8601 UTC text Spark's JSON reader parses."""
    t = _dt.datetime.fromtimestamp(ms / 1000, tz=_dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def users_row(r, uid):
    """One `users` row as a dict; `updated_at` is epoch ms."""
    return {
        "id": uid,
        "name": f"Name_{uid}_{r.choice(string.ascii_lowercase)}",
        "updated_at": _EPOCH_2025 + r.randrange(0, 86_400_000 * 365),
        "private_info": r.randbytes(_PRIVATE_LEN // 2).hex(),
    }


def users_file(seed, file_no, rows_per_file):
    """Rows of users file `file_no` and its JSON-lines bytes. Ids are dense:
    file k holds ids [k * rows_per_file, (k + 1) * rows_per_file)."""
    r = rng(seed, f"users:{file_no}")
    rows = [users_row(r, file_no * rows_per_file + i) for i in range(rows_per_file)]
    lines = [json.dumps({**row, "updated_at": iso_ms(row["updated_at"])},
                        separators=(",", ":")) for row in rows]
    return rows, ("\n".join(lines) + "\n").encode()


# ------------------------------------------------------------------ cdc

CDC_ROW_DDL = "id INT, name STRING, updated_at BIGINT, private_info STRING"
# op shares of the change stream: creates / updates / deletes
CDC_MIX = (0.85, 0.10, 0.05)
# share of creates that re-insert a previously deleted key
CDC_REINSERT = 0.05


def cdc_events(seed, n, tag="cdc"):
    """`n` Debezium change events over a growing key space, with strictly
    increasing `ts_ms`. Each event is (op, before, after, ts_ms)."""
    r = rng(seed, tag)
    live, dead, order = {}, [], []
    next_id, ts = 0, 1_700_000_000_000
    events = []
    for _ in range(n):
        ts += 1 + r.randrange(7)
        u = r.random()
        if not live or u < CDC_MIX[0]:
            if dead and r.random() < CDC_REINSERT:
                uid = dead.pop(r.randrange(len(dead)))
            else:
                uid, next_id = next_id, next_id + 1
            row = users_row(r, uid)
            row["private_info"] = row["private_info"][:300]
            live[uid] = row
            order.append(uid)
            events.append(("c", None, row, ts))
            continue
        uid = order[r.randrange(len(order))]
        while uid not in live:  # lazily drop deleted keys from the pick list
            order.remove(uid)
            uid = order[r.randrange(len(order))]
        before = live[uid]
        if u < CDC_MIX[0] + CDC_MIX[1]:
            after = {**before, "name": f"Name_{uid}_{r.choice(string.ascii_lowercase)}",
                     "updated_at": before["updated_at"] + 1 + r.randrange(100_000)}
            live[uid] = after
            events.append(("u", before, after, ts))
        else:
            del live[uid]
            dead.append(uid)
            events.append(("d", before, None, ts))
    return events


def debezium_line(ev, lsn):
    op, before, after, ts = ev
    return json.dumps({
        "before": before, "after": after,
        "source": {"connector": "postgresql", "db": "customers", "table": "users",
                   "ts_ms": ts - 1, "lsn": lsn},
        "op": op, "ts_ms": ts}, separators=(",", ":"))


def write_backlog(events, rows_per_file, directory, base_mtime):
    """Write events as JSON-lines files with distinct, increasing mtimes
    (one second apart), so a file source orders and batches them the same
    way on every run. Returns (file names, total bytes)."""
    os.makedirs(directory, exist_ok=True)
    names, total = [], 0
    for k in range(0, len(events), rows_per_file):
        name = f"cdc-{k // rows_per_file:06d}.json"
        data = ("\n".join(debezium_line(e, k + i)
                          for i, e in enumerate(events[k:k + rows_per_file])) + "\n").encode()
        path = os.path.join(directory, name)
        with open(path, "wb") as f:
            f.write(data)
        t = base_mtime + k // rows_per_file
        os.utime(path, (t, t))
        names.append(name)
        total += len(data)
    return names, total


# -------------------------------------------------- operators probe tables

_VOCAB = ("fast spark line small customer group value hash batch sort data big "
          "filter dup key agg scan slow table part a merge window order column "
          "join vector row the query stream").split()
_LANGS = (("en", 44), ("es", 14), ("zh", 14), ("de", 14), ("fr", 14))
_ADJ = "small red blue hot old cold new large".split()
_NOUN = "ring widget bolt gear anvil rod plate gizmo".split()


def _day(r, lo, hi):
    """Random midnight between two dates, as a naive datetime."""
    span = (hi - lo).days
    return _dt.datetime.combine(lo + _dt.timedelta(days=r.randrange(span + 1)), _dt.time())


def table_rows(scale=1.0, seed="tables"):
    """The probe's tables (FIXTURES.md section A schemas), sized
    like the sf0.01 star schema at `scale` 1. Returns {name: list of rows}."""
    r = rng(seed, "tables")
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_line, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc, n_emb = 500, 500
    t = {}
    t["region"] = [(i, n) for i, n in enumerate(
        ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])]
    t["nation"] = [(i, f"NATION_{i}", i % 5) for i in range(25)]
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    t["customer"] = [(i, f"Customer#{i:09d}", r.randrange(25),
                      round(r.uniform(-999.99, 9999.99), 2), r.choice(segs))
                     for i in range(n_cust)]
    t["supplier"] = [(i, f"Supplier#{i:09d}", r.randrange(25),
                      round(r.uniform(-999.99, 9999.99), 2)) for i in range(n_supp)]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    t["part"] = [(i, f"{r.choice(_ADJ)} {r.choice(_NOUN)}", f"Brand#{r.randrange(1, 26)}",
                  r.choice(types), r.randrange(1, 51), round(900 + (i % 1000) / 10, 2))
                 for i in range(n_part)]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    d0, d1 = _dt.date(1995, 1, 1), _dt.date(2001, 8, 1)
    t["orders"] = [(i, r.randrange(n_cust), r.choice("POF"), round(r.uniform(1000, 500000), 2),
                    _day(r, d0, d1), r.choice(prios)) for i in range(n_ord)]
    t["lineitem"] = [
        (r.randrange(n_ord), r.randrange(n_part), r.randrange(n_supp), r.randrange(1, 8),
         float(q), round(q * r.uniform(900, 2100), 2), r.randrange(11) / 100,
         r.randrange(9) / 100, r.choice("ANR"), r.choice("OF"),
         _day(r, _dt.date(1995, 1, 2), _dt.date(2001, 11, 4)))
        for q in (r.randrange(1, 51) for _ in range(n_line))]
    ts = _dt.datetime(2024, 1, 1)
    ev = []
    etypes = ["click", "signup", "error", "view", "purchase"]
    for i in range(n_ev):
        ts += _dt.timedelta(microseconds=int(r.expovariate(1 / 259.0) * 1e6))
        ev.append((i, ts, r.randrange(max(1, n_ev // 66)), r.choice(etypes),
                   round(r.uniform(0.01, 490), 2), json.dumps({"k": r.randrange(100)})))
    t["events"] = ev
    langs = [l for l, w in _LANGS for _ in range(w)]
    docs = []
    for i in range(n_doc):
        text = " ".join(r.choice(_VOCAB) for _ in range(r.randrange(10, 100)))
        docs.append((i, text, r.choice(langs), f"src{r.randrange(20)}", len(text)))
    t["documents"] = docs
    emb = []
    for i in range(n_emb):
        v = [r.gauss(0, 1) for _ in range(64)]
        norm = sum(x * x for x in v) ** 0.5
        emb.append((i, [x / norm for x in v], r.randrange(10)))
    t["embeddings"] = emb
    return t


def write_tables(directory, scale=1.0):
    """Write the fixture tables as single-row-group parquet files with the
    same physical types as the project's fixtures (timestamps are naive
    microseconds, embeddings are float lists)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    schemas = {
        "region": [("r_regionkey", i32), ("r_name", s)],
        "nation": [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)],
        "customer": [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                     ("c_acctbal", f64), ("c_mktsegment", s)],
        "supplier": [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)],
        "part": [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                 ("p_size", i32), ("p_retailprice", f64)],
        "orders": [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)],
        "lineitem": [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                     ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                     ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                     ("l_linestatus", s), ("l_shipdate", ts)],
        "events": [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)],
        "documents": [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)],
        "embeddings": [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)],
    }
    os.makedirs(directory, exist_ok=True)
    for name, rows in table_rows(scale).items():
        schema = pa.schema(schemas[name])
        cols = list(zip(*rows))
        arrays = [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)]
        pq.write_table(pa.Table.from_arrays(arrays, schema=schema),
                       os.path.join(directory, f"{name}.parquet"))

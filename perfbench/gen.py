"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (parameters, seed): the same seed
writes byte-identical files, and `digest` fingerprints them for the run
record. The program under test only ever sees these files.
"""
import datetime
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
VOCAB = ("hash order table window row batch group big spark a filter sort join line data "
         "column key merge agg small scan vector stream value customer slow part fast "
         "query the").split()


def digest(root):
    """sha256 over every file under `root`, in path order."""
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _write(path, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), path, compression="snappy")


def _epoch_us(y, m, d):
    return int(datetime.datetime(y, m, d, tzinfo=datetime.timezone.utc).timestamp() * 1e6)


# --------------------------------------------------------------------- iot_etl

def gen_iot(p, seed, out):
    """JSONL sensor files plus the device dimension table.

    Returns the ground truth the pipeline's outputs must reproduce."""
    rng = np.random.default_rng([seed, 1])
    n = p["lines"]
    kind = rng.random(n)
    edges = np.cumsum([p["blank_share"], p["malformed_share"], p["non_object_share"]])
    blank, malformed = kind < edges[0], (kind >= edges[0]) & (kind < edges[1])
    non_object = (kind >= edges[1]) & (kind < edges[2])
    good = kind >= edges[2]
    device = rng.integers(0, p["devices"], n)
    lo, hi = p["temperature_celsius_range"]
    temp = np.round(rng.uniform(lo, hi, n), 1)
    no_temp = rng.random(n) < p["missing_temperature_share"]
    humidity = np.round(rng.uniform(20.0, 90.0, n), 1)
    bad_hum = rng.random(n) < p["humidity_out_of_range_share"]
    humidity = np.where(bad_hum, np.where(rng.random(n) < 0.5, -5.0, 120.5), humidity)
    pressure = np.round(rng.uniform(990.0, 1030.0, n), 1)
    second = rng.integers(0, 30 * 86400, n)
    covered = rng.permutation(p["devices"])[: int(p["devices"] * p["dimension_coverage"])]
    in_dim = np.zeros(p["devices"], dtype=bool)
    in_dim[covered] = True
    t0 = datetime.datetime(2025, 7, 1, tzinfo=datetime.timezone.utc)
    non_objects = ['[1, 2, 3]', '42', '"just a string"', 'null', 'true']

    lines = []
    for i in range(n):
        if blank[i]:
            lines.append("   " if i % 2 else "")
        elif malformed[i]:
            lines.append('{"device_id": "dev-%05d", "temperature": %s' % (device[i], temp[i])
                         if i % 2 else "this is a bad line %d" % i)
        elif non_object[i]:
            lines.append(non_objects[i % len(non_objects)])
        else:
            ts = (t0 + datetime.timedelta(seconds=int(second[i]))).strftime("%Y-%m-%dT%H:%M:%SZ")
            t = "" if no_temp[i] else '"temperature": %r, ' % float(temp[i])
            lines.append('{"device_id": "dev-%05d", "location": "site-%d", %s"humidity": %r, '
                         '"pressure": %r, "timestamp": "%s"}'
                         % (device[i], device[i] % 50, t, float(humidity[i]),
                            float(pressure[i]), ts))
    os.makedirs(os.path.join(out, "input"))
    for f, chunk in enumerate(np.array_split(np.arange(n), p["files"])):
        with open(os.path.join(out, "input", "part-%02d.jsonl" % f), "w") as fh:
            fh.write("\n".join(lines[j] for j in chunk) + "\n")
    dim_ids = np.sort(covered)
    _write(os.path.join(out, "dim.parquet"),
           {"device_id": ["dev-%05d" % d for d in dim_ids],
            "location_id": (dim_ids % 97 + 1).astype(np.int32)},
           pa.schema([("device_id", pa.string()), ("location_id", pa.int32())]))

    kept = good & ~no_temp & (temp > p["threshold_celsius"])
    return {
        "lines_in": int(n),
        "rows_out": int(kept.sum()),
        "dlq_rows": int((malformed | non_object).sum()),
        "lookup_miss_rows": int((kept & ~in_dim[device]).sum()),
        "null_fahrenheit_rows": 0,
        "humidity_invalid_rows": int((kept & bad_hum).sum()),
    }


# ------------------------------------------------------------------ query_mix

def _events(rng, n, users, days, start_us):
    ts = np.sort(rng.integers(start_us, start_us + days * 86400 * 10**6, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, users, n),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    }


EVENTS_SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                           ("user_id", pa.int64()), ("event_type", pa.string()),
                           ("value", pa.float64()), ("props", pa.string())])


def gen_events(p, seed, out):
    rng = np.random.default_rng([seed, 3])
    _write(os.path.join(out, "events.parquet"),
           _events(rng, p["events"], p["users"], p["days"], _epoch_us(2024, 1, 1)),
           EVENTS_SCHEMA)
    return {"events": p["events"]}


def gen_tables(p, seed, out):
    """The ten star-schema and corpus tables the query catalog reads."""
    rng = np.random.default_rng([seed, 2])
    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    day = 86400 * 10**6

    def dates(n, lo, hi):
        return (rng.integers(lo // day, hi // day + 1, n) * day).astype("datetime64[us]")

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(options, n):
        return [options[k] for k in rng.integers(0, len(options), n)]

    _write(os.path.join(out, "region.parquet"),
           {"r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(os.path.join(out, "nation.parquet"),
           {"n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": ["NATION_%d" % k for k in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    n = p["customer"]
    _write(os.path.join(out, "customer.parquet"),
           {"c_custkey": np.arange(n), "c_name": ["Customer#%09d" % k for k in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": money(n, -999.99, 9999.99),
            "c_mktsegment": pick(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                  "FURNITURE"], n)},
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))
    n = p["supplier"]
    _write(os.path.join(out, "supplier.parquet"),
           {"s_suppkey": np.arange(n), "s_name": ["Supplier#%09d" % k for k in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": money(n, -999.99, 9999.99)},
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                      ("s_acctbal", f64)]))
    n = p["part"]
    adj = "blue cold hot large new old red small".split()
    noun = "anvil bolt gear gizmo plate ring rod widget".split()
    _write(os.path.join(out, "part.parquet"),
           {"p_partkey": np.arange(n),
            "p_name": [a + " " + b for a, b in zip(pick(adj, n), pick(noun, n))],
            "p_brand": ["Brand#%d" % k for k in rng.integers(1, 26, n)],
            "p_type": pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)},
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                      ("p_size", i32), ("p_retailprice", f64)]))
    n = p["orders"]
    _write(os.path.join(out, "orders.parquet"),
           {"o_orderkey": np.arange(n), "o_custkey": rng.integers(0, p["customer"], n),
            "o_orderstatus": pick(["F", "O", "P"], n),
            "o_totalprice": money(n, 1000.0, 500000.0),
            "o_orderdate": dates(n, _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], n)},
           pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                      ("o_totalprice", f64), ("o_orderdate", pa.timestamp("us")),
                      ("o_orderpriority", s)]))
    n = p["lineitem"]
    _write(os.path.join(out, "lineitem.parquet"),
           {"l_orderkey": rng.integers(0, p["orders"], n),
            "l_partkey": rng.integers(0, p["part"], n),
            "l_suppkey": rng.integers(0, p["supplier"], n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": money(n, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n),
            "l_linestatus": pick(["O", "F"], n),
            "l_shipdate": dates(n, _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4))},
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                      ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                      ("l_linestatus", s), ("l_shipdate", pa.timestamp("us"))]))
    _write(os.path.join(out, "events.parquet"),
           _events(rng, p["events"], p["users"], 30, _epoch_us(2024, 1, 1)), EVENTS_SCHEMA)
    n = p["documents"]
    texts = [" ".join(pick(VOCAB, int(rng.integers(10, 100)))) for _ in range(n)]
    # Near-duplicates copy a document from a small popular pool, in id
    # order, so some sources gain several copies and some copies are
    # copies of copies ("... dup dup"): the near-duplicate graph has
    # cliques and chains of varying degree, as in the reference tables.
    pool = max(2, int(n * p["near_duplicate_doc_share"]))
    for k in np.flatnonzero(rng.random(n) < p["near_duplicate_doc_share"]):
        texts[k] = texts[int(rng.integers(0, pool))] + " dup"
    langs = ["en", "de", "es", "fr", "zh"]
    _write(os.path.join(out, "documents.parquet"),
           {"doc_id": np.arange(n), "text": texts,
            "lang": [langs[k] for k in rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
            "source": ["src%d" % (k % 20) for k in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                      ("n_chars", i64)]))
    n, dim = p["embeddings"], p["embedding_dim"]
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(os.path.join(out, "embeddings.parquet"),
           {"vec_id": np.arange(n), "embedding": list(v),
            "label": rng.integers(0, 10, n).astype(np.int32)},
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))
    return {k: p[k] for k in ("customer", "orders", "lineitem", "events", "documents")}


GENERATORS = {"iot_etl": gen_iot, "query_mix": gen_tables, "stream_state": gen_events}


def generate(workload, params, seed, out):
    """Write the workload's inputs for `seed` into `out`; returns the
    ground truth plus the input digest."""
    os.makedirs(out)
    truth = GENERATORS[workload](params, seed, out)
    return {"truth": truth, "digest": digest(out)}


if __name__ == "__main__":
    import sys
    w, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")) as f:
        params = json.load(f)[w]["generator"]
    print(json.dumps(generate(w, params, seed, out)))

"""Seeded fixture tables for the `gates` workload.

Writes the ten parquet tables the gate registry reads (documents,
embeddings, events and a small TPC-H-like star schema) with the column
names and types of the gate fixtures, at 500 documents / 6000 line
items. The same seed gives byte-identical tables.

Usage: python3 perfbench/fixture.py <out_dir> <seed>
"""
import datetime as dt
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]

N_DOCS, N_EMB, DIM, N_EVENTS = 500, 500, 64, 1000
N_CUST, N_SUPP, N_PART, N_ORDERS, N_LINES = 150, 10, 200, 1500, 6000


def write(out, name, cols, schema):
    arrays = [c if isinstance(c, pa.Array) else pa.array(c, type=f.type)
              for c, f in zip(cols, schema)]
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), f"{out}/{name}.parquet")


def days(rng, n, first, last):
    span = (last - first).days
    return [dt.datetime.combine(first, dt.time()) + dt.timedelta(days=int(d))
            for d in rng.integers(0, span + 1, n)]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def main(out, seed):
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    write(out, "region", [list(range(5)), REGIONS],
          pa.schema([("r_regionkey", i32), ("r_name", s)]))
    write(out, "nation", [list(range(25)), [f"NATION_{i}" for i in range(25)],
                          [i % 5 for i in range(25)]],
          pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    write(out, "customer", [list(range(N_CUST)), [f"Customer#{i:09d}" for i in range(N_CUST)],
                            rng.integers(0, 25, N_CUST).astype(np.int32),
                            money(rng, -999.99, 9999.99, N_CUST),
                            [SEGMENTS[i] for i in rng.integers(0, 5, N_CUST)]],
          pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                     ("c_acctbal", f64), ("c_mktsegment", s)]))
    write(out, "supplier", [list(range(N_SUPP)), [f"Supplier#{i:09d}" for i in range(N_SUPP)],
                            rng.integers(0, 25, N_SUPP).astype(np.int32),
                            money(rng, 0, 9999.99, N_SUPP)],
          pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                     ("s_acctbal", f64)]))
    write(out, "part", [list(range(N_PART)),
                        [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                         zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
                        [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
                        [PART_TYPES[t] for t in rng.integers(0, 6, N_PART)],
                        rng.integers(1, 51, N_PART).astype(np.int32),
                        [round(900.0 + i / 10, 2) for i in range(N_PART)]],
          pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                     ("p_size", i32), ("p_retailprice", f64)]))
    write(out, "orders", [list(range(N_ORDERS)), rng.integers(0, N_CUST, N_ORDERS),
                          [("O", "F", "P")[k] for k in rng.integers(0, 3, N_ORDERS)],
                          money(rng, 1000, 500000, N_ORDERS),
                          days(rng, N_ORDERS, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                          [PRIORITIES[k] for k in rng.integers(0, 5, N_ORDERS)]],
          pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                     ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    write(out, "lineitem", [rng.integers(0, N_ORDERS, N_LINES), rng.integers(0, N_PART, N_LINES),
                            rng.integers(0, N_SUPP, N_LINES),
                            rng.integers(1, 8, N_LINES).astype(np.int32),
                            rng.integers(1, 51, N_LINES).astype(np.float64),
                            money(rng, 900, 105000, N_LINES),
                            rng.integers(0, 11, N_LINES) / 100.0,
                            rng.integers(0, 9, N_LINES) / 100.0,
                            [("N", "R", "A")[k] for k in rng.integers(0, 3, N_LINES)],
                            [("F", "O")[k] for k in rng.integers(0, 2, N_LINES)],
                            days(rng, N_LINES, dt.date(1995, 1, 2), dt.date(2001, 11, 4))],
          pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                     ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                     ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                     ("l_linestatus", s), ("l_shipdate", ts)]))

    start = dt.datetime(2024, 1, 1)
    offsets = np.sort(rng.uniform(0, 30 * 86400, N_EVENTS))
    write(out, "events", [list(range(N_EVENTS)),
                          [start + dt.timedelta(microseconds=int(o * 1e6)) for o in offsets],
                          rng.integers(0, 15, N_EVENTS),
                          [EVENT_TYPES[k] for k in rng.integers(0, 5, N_EVENTS)],
                          np.round(rng.exponential(50.0, N_EVENTS), 2),
                          ['{"k": %d}' % k for k in rng.integers(0, 100, N_EVENTS)]],
          pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                     ("value", f64), ("props", s)]))

    # one document in twenty repeats an earlier one with " dup" appended,
    # so the dedup gates have near-duplicates to find
    texts = []
    for i in range(N_DOCS):
        if i >= 50 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))))
    write(out, "documents", [list(range(N_DOCS)), texts,
                             [LANGS[k] for k in rng.integers(0, len(LANGS), N_DOCS)],
                             [f"src{k}" for k in rng.integers(0, 20, N_DOCS)],
                             [len(t) for t in texts]],
          pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                     ("n_chars", i64)]))

    emb = rng.standard_normal((N_EMB, DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write(out, "embeddings", [list(range(N_EMB)),
                              pa.array(list(emb), type=pa.list_(pa.float32())),
                              rng.integers(0, 10, N_EMB).astype(np.int32)],
          pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                     ("label", i32)]))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))

#!/usr/bin/env python3
"""Seeded input generation for the graft benchmark.

Every workload's inputs are a pure function of (workload, seed): the same
seed writes byte-identical parquet files, another seed writes different
ones. The engine only ever sees these files. Next to the data each
workload writes `manifest.json`: its row and byte counts and the rule
violations the generator planted, which the output checks compare against.

Usage: python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>
"""
import argparse
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("report_lineitem", "registry_mix")

# Input sizes. BENCHMARK.json's `why` lines quote these.
LINEITEM_ROWS = 40_000
REGISTRY_SCALE = 0.005     # TPC-H-style scale factor of the registry tables

# The vocabulary of the documents table.
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)

EPOCH_1995 = dt.datetime(1995, 1, 1)


def rng_for(workload, seed):
    salt = WORKLOADS.index(workload)
    return np.random.Generator(np.random.PCG64([int(seed), salt]))


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def ts_us(base, seconds):
    """Timestamps (microsecond, no zone) at `seconds` after `base`."""
    base_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    us = base_us + np.round(np.asarray(seconds, dtype=np.float64) * 1e6).astype(np.int64)
    return pa.array(us, type=pa.timestamp("us"))


def digest(lines):
    h = hashlib.md5()
    for line in sorted(lines):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


# ---------------------------------------------------------------- lineitem

# The validation schema the benchmark passes to Report (the JVM side,
# ReportLineitem in perfbench/src/perfbench/Workloads.scala, builds the same
# rules); the DuckDB check derives the violating rows from it.
LINEITEM_RULES = {
    "l_quantity": {"range": [1.0, 50.0]},
    "l_discount": {"range": [0.0, 0.1]},
    "l_tax": {"range": [0.0, 0.08]},
    "l_returnflag": {"accepted": ["A", "N", "R"]},
    "l_linestatus": {"accepted": ["O", "F"]},
}


def lineitem_table(rng, rows, orders, parts, suppliers):
    cols = {
        "l_orderkey": rng.integers(0, orders, rows, dtype=np.int64),
        "l_partkey": rng.integers(0, parts, rows, dtype=np.int64),
        "l_suppkey": rng.integers(0, suppliers, rows, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, rows, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, rows), 2),
        "l_discount": rng.integers(0, 11, rows) / 100.0,
        "l_tax": rng.integers(0, 9, rows) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"], dtype=object), rows),
        "l_linestatus": rng.choice(np.array(["O", "F"], dtype=object), rows),
    }
    days = rng.integers(1, 2500, rows)
    return cols, ts_us(EPOCH_1995, days * 86400)


def lineitem_arrow(cols, shipdate):
    return pa.table({
        "l_orderkey": pa.array(cols["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(cols["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(cols["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(cols["l_linenumber"], pa.int32()),
        "l_quantity": pa.array(cols["l_quantity"], pa.float64()),
        "l_extendedprice": pa.array(cols["l_extendedprice"], pa.float64()),
        "l_discount": pa.array(cols["l_discount"], pa.float64()),
        "l_tax": pa.array(cols["l_tax"], pa.float64()),
        "l_returnflag": pa.array(list(cols["l_returnflag"]), pa.string()),
        "l_linestatus": pa.array(list(cols["l_linestatus"]), pa.string()),
        "l_shipdate": shipdate,
    })


def gen_report_lineitem(rng, out):
    rows = LINEITEM_ROWS
    cols, shipdate = lineitem_table(rng, rows, rows // 4, rows // 30, rows // 600)
    # Planted cells: (column, value, rule finding or None for a sentinel
    # that only nulls the value). Counts are fixed, positions are seeded,
    # and no row carries two plants.
    plants = [
        ("l_quantity", float("nan"), None),
        ("l_quantity", 0.0, ("range", "Value is less than the lower bound")),
        ("l_quantity", 55.0, ("range", "Value is greater than the upper bound")),
        ("l_discount", float("nan"), None),
        ("l_discount", 0.15, ("range", "Value is greater than the upper bound")),
        ("l_tax", -0.01, ("range", "Value is less than the lower bound")),
        ("l_returnflag", "null", ("accepted", "Value not within the accepted range")),
        ("l_returnflag", "", ("accepted", "Value not within the accepted range")),
        ("l_returnflag", "X", ("accepted", "Value not within the accepted range")),
        ("l_linestatus", "", ("accepted", "Value not within the accepted range")),
        ("l_linestatus", "Z", ("accepted", "Value not within the accepted range")),
    ]
    per_plant = rows // 1000
    rows_hit = rng.choice(rows, size=per_plant * len(plants), replace=False)
    findings = []
    for i, (column, value, finding) in enumerate(plants):
        for r in rows_hit[i * per_plant:(i + 1) * per_plant]:
            cols[column][r] = value
            if finding is not None:
                findings.append(f"{column}\t{cols['l_orderkey'][r]}\t{finding[0]}\t{finding[1]}")
    write(lineitem_arrow(cols, shipdate), os.path.join(out, "lineitem.parquet"))
    return {
        "rows": rows,
        "columns": 11,
        "key": "l_orderkey",
        "planted_cells": len(rows_hit),
        "findings": len(findings),
        "findings_digest": digest(findings),
    }


# ---------------------------------------------------------------- documents

def random_text(rng, n_tokens):
    return [VOCAB[w] for w in rng.choice(len(VOCAB), n_tokens)]


# ---------------------------------------------------------------- registry

def gen_registry_mix(rng, out):
    s = REGISTRY_SCALE / 0.01
    n_cust, n_supp, n_part = int(1500 * s), int(100 * s), int(2000 * s)
    n_ord, n_line, n_evt = int(15000 * s), int(60000 * s), int(10000 * s)
    n_docs, n_emb = 500, 500
    write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], pa.string()),
    }), os.path.join(out, "region.parquet"))
    write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(out, "nation.parquet"))
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)
    write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), pa.float64()),
        "c_mktsegment": pa.array(list(rng.choice(segments, n_cust)), pa.string()),
    }), os.path.join(out, "customer.parquet"))
    write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), pa.float64()),
    }), os.path.join(out, "supplier.parquet"))
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], dtype=object)
    write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{adjs[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(list(rng.choice(types, n_part)), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array([900.0 + (i % 1000) / 10.0 for i in range(n_part)], pa.float64()),
    }), os.path.join(out, "part.parquet"))
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
    write(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(list(rng.choice(np.array(["F", "O", "P"], dtype=object), n_ord)), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2), pa.float64()),
        "o_orderdate": ts_us(EPOCH_1995, rng.integers(0, 2404, n_ord) * 86400),
        "o_orderpriority": pa.array(list(rng.choice(prio, n_ord)), pa.string()),
    }), os.path.join(out, "orders.parquet"))
    cols, shipdate = lineitem_table(rng, n_line, n_ord, n_part, n_supp)
    write(lineitem_arrow(cols, shipdate), os.path.join(out, "lineitem.parquet"))
    etypes = np.array(["click", "error", "purchase", "signup", "view"], dtype=object)
    secs = np.sort(rng.uniform(0.0, 30 * 86400.0, n_evt))
    write(pa.table({
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": ts_us(dt.datetime(2024, 1, 1), secs),
        "user_id": pa.array(rng.integers(0, max(15, int(150 * s)), n_evt), pa.int64()),
        "event_type": pa.array(list(rng.choice(etypes, n_evt)), pa.string()),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], pa.string()),
    }), os.path.join(out, "events.parquet"))
    texts = [" ".join(random_text(rng, int(rng.integers(10, 100)))) for _ in range(n_docs)]
    write(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(i)] for i in rng.choice(len(LANGS), n_docs, p=LANG_WEIGHTS)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.15, (10, 64))
    emb = (centers[labels] + rng.normal(0.0, 0.08, (n_emb, 64))).astype(np.float32)
    write(pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))
    return {"rows": n_line + n_ord + n_cust + n_part + n_supp + n_evt + n_docs + n_emb + 30,
            "scale": REGISTRY_SCALE}


GENERATORS = {
    "report_lineitem": gen_report_lineitem,
    "registry_mix": gen_registry_mix,
}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](rng_for(workload, seed), out)
    manifest["workload"] = workload
    manifest["seed"] = int(seed)
    manifest["input_bytes"] = sum(
        os.path.getsize(os.path.join(out, f)) for f in sorted(os.listdir(out)) if f.endswith(".parquet"))
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    m = generate(a.workload, a.seed, a.out)
    print(json.dumps({k: m[k] for k in ("workload", "seed", "rows", "input_bytes")}))


if __name__ == "__main__":
    main()

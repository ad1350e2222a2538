"""Seeded input generator for the graft benchmark.

    python3 perfbench/gen.py --workload dag_refresh --seed 7 --out DIR

Writes parquet/CSV inputs plus `manifest.json` under DIR. The same
(workload, seed) always gives byte-identical files: every random draw comes
from one numpy Generator seeded with (seed, workload index), and parquet is
written with fixed options. graft only ever sees these files.
"""
import argparse
import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ["dag_refresh", "ingest_cycles"]

# dag_refresh: a TPC-H-shaped source set (about sf0.005) — small enough that
# one run holds several full DAG builds.
DAG_ORDERS = 8_000
DAG_CUSTOMERS = 1_000
DAG_PARTS = 1_000
DAG_SUPPLIERS = 100
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# ingest_cycles, warehouse tables (`tables/`): base rows spread over BASE_DAYS day partitions; the
# last day is the hot one. Each cycle's batch mixes the four change kinds.
INC_BASE_ROWS = 4_000
INC_BASE_DAYS = 4
INC_CYCLES = 30
INC_BATCH = 200
INC_MIX = {"insert": 0.40, "update": 0.35, "late": 0.10, "delete": 0.15}
INC_HOT_UPDATE_SHARE = 0.7
INC_DAY0 = dt.date(2024, 3, 1)
INC_T0 = 1_709_251_200  # 2024-03-01T00:00:00Z, epoch seconds

# ingest_cycles, corpus (`corpus/`): history documents seed the dedup store, base vectors train
# the quantizer; each batch brings new documents (with planted exact copies
# and near-duplicates) and new vectors.
DOC_HISTORY = 1_000
DOC_BATCHES = 30
DOC_BATCH = 200
DOC_EXACT_SHARE = 0.08
DOC_NEAR_SHARE = 0.06
VOCAB = 600
EMB_DIM = 64
EMB_CLUSTERS = 16
EMB_BASE = 1_000
EMB_BATCH = 50
N_QUERIES = 8


def write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_dag(rng, out):
    def put(name, cols):
        write_parquet(pa.table(cols), os.path.join(out, "raw", f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": regions})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i:02d}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    put("customer", {
        "c_custkey": pa.array(np.arange(1, DAG_CUSTOMERS + 1), pa.int64()),
        "c_name": [f"Customer#{i:06d}" for i in range(1, DAG_CUSTOMERS + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, DAG_CUSTOMERS), pa.int32()),
        "c_acctbal": money(rng, -999, 9999, DAG_CUSTOMERS),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, DAG_CUSTOMERS)]})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(1, DAG_SUPPLIERS + 1), pa.int64()),
        "s_name": [f"Supplier#{i:04d}" for i in range(1, DAG_SUPPLIERS + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, DAG_SUPPLIERS), pa.int32()),
        "s_acctbal": money(rng, -999, 9999, DAG_SUPPLIERS)})
    put("part", {
        "p_partkey": pa.array(np.arange(1, DAG_PARTS + 1), pa.int64()),
        "p_name": [f"part {i}" for i in range(1, DAG_PARTS + 1)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, DAG_PARTS)],
        "p_type": [f"TYPE_{t:02d}" for t in rng.integers(0, 30, DAG_PARTS)],
        "p_size": pa.array(rng.integers(1, 51, DAG_PARTS), pa.int32()),
        "p_retailprice": money(rng, 900, 2000, DAG_PARTS)})

    okeys = np.arange(1, DAG_ORDERS + 1)
    odate = np.datetime64("2023-01-01") + rng.integers(0, 730, DAG_ORDERS)
    nlines = rng.integers(1, 8, DAG_ORDERS)
    l_okey = np.repeat(okeys, nlines)
    n = len(l_okey)
    l_lnum = np.concatenate([np.arange(1, k + 1) for k in nlines])
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2000, n), 2)
    disc = np.round(rng.integers(0, 11, n) / 100.0, 2)
    tax = np.round(rng.integers(0, 9, n) / 100.0, 2)
    ship = np.repeat(odate, nlines) + rng.integers(1, 122, n)
    line_total = price * (1 - disc) * (1 + tax)
    o_total = np.round(np.bincount(l_okey - 1, weights=line_total,
                                   minlength=DAG_ORDERS), 2)
    put("orders", {
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, DAG_CUSTOMERS + 1, DAG_ORDERS),
                              pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, DAG_ORDERS)],
        "o_totalprice": o_total,
        "o_orderdate": pa.array(odate.astype("datetime64[D]"), pa.date32()),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, DAG_ORDERS)]})
    put("lineitem", {
        "l_orderkey": pa.array(l_okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, DAG_PARTS + 1, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, DAG_SUPPLIERS + 1, n), pa.int64()),
        "l_linenumber": pa.array(l_lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship.astype("datetime64[D]"), pa.date32())})

    seed_path = os.path.join(out, "seeds", "segment_groups.csv")
    os.makedirs(os.path.dirname(seed_path), exist_ok=True)
    weights = rng.integers(1, 10, len(SEGMENTS))
    with open(seed_path, "w", newline="\n") as f:
        f.write("segment,segment_group,weight\n")
        for s, w in zip(SEGMENTS, weights):
            group = "durable" if s in ("AUTOMOBILE", "MACHINERY", "BUILDING") else "consumer"
            f.write(f"{s},{group},{w}\n")
    return {}


def gen_incremental(rng, out):
    days = [(INC_DAY0 + dt.timedelta(days=d)).isoformat() for d in range(INC_BASE_DAYS)]
    hot = INC_BASE_DAYS - 1
    n = INC_BASE_ROWS
    # the hot latest day holds a quarter of the base rows
    day_idx = np.where(rng.random(n) < 0.25, hot, rng.integers(0, hot, n))
    state = {
        "id": np.arange(n, dtype=np.int64),
        "day": day_idx,
        "alive": np.ones(n, dtype=bool),
    }

    def rows(ids, dayi, deleted, cycle, op):
        k = len(ids)
        return {
            "id": pa.array(ids, pa.int64()),
            "day": [days[d] for d in dayi],
            "k1": pa.array(rng.integers(0, 1024, k), pa.int32()),
            "k2": pa.array(rng.integers(0, 1024, k), pa.int32()),
            "val": money(rng, 0, 1000, k),
            "is_deleted": pa.array(deleted, pa.bool_()),
            "updated_s": pa.array(np.full(k, INC_T0 + cycle * 3600), pa.int64()),
            "event_s": pa.array(INC_T0 + dayi.astype(np.int64) * 86400
                                + rng.integers(0, 86400, k), pa.int64()),
            "op": [op] * k,
        }

    def concat(parts):
        return pa.concat_tables([pa.table(p) for p in parts])

    base = pa.table(rows(state["id"], day_idx, np.zeros(n, bool), 0, "base"))
    write_parquet(base.drop(["op"]), os.path.join(out, "base.parquet"))

    next_id = n
    for c in range(1, INC_CYCLES + 1):
        counts = {k: int(round(v * INC_BATCH)) for k, v in INC_MIX.items()}
        alive = np.flatnonzero(state["alive"])
        hot_alive = alive[state["day"][alive] == hot]
        n_hot = int(counts["update"] * INC_HOT_UPDATE_SHARE)
        upd = np.concatenate([
            rng.choice(hot_alive, n_hot, replace=False),
            rng.choice(np.setdiff1d(alive, hot_alive),
                       counts["update"] - n_hot, replace=False)])
        rest = np.setdiff1d(alive, upd)
        dele = rng.choice(rest, counts["delete"], replace=False)
        ins = np.arange(next_id, next_id + counts["insert"])
        late = np.arange(ins[-1] + 1, ins[-1] + 1 + counts["late"])
        next_id = late[-1] + 1
        late_day = rng.integers(0, hot, len(late))
        grow = len(ins) + len(late)
        state["day"] = np.concatenate([state["day"], np.full(len(ins), hot), late_day])
        state["alive"] = np.concatenate([state["alive"], np.ones(grow, bool)])
        state["alive"][dele] = False
        t = concat([
            rows(ins, np.full(len(ins), hot), np.zeros(len(ins), bool), c, "I"),
            rows(upd, state["day"][upd], np.zeros(len(upd), bool), c, "U"),
            rows(late, late_day, np.zeros(len(late), bool), c, "L"),
            rows(dele, state["day"][dele], np.ones(len(dele), bool), c, "D"),
        ])
        # one row per key, rows shuffled so no strategy sees a sorted batch
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        write_parquet(t, os.path.join(out, "changes", f"cycle_{c:04d}.parquet"))
    return {"hot_day": days[hot], "t0": INC_T0}


def make_vocab(rng):
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "so",
            "da", "fu", "gi", "ha", "ju", "be"]
    words = set()
    while len(words) < VOCAB:
        k = rng.integers(2, 4)
        words.add("".join(syll[i] for i in rng.integers(0, len(syll), k)))
    return sorted(words)


def gen_corpus(rng, out):
    vocab = make_vocab(rng)
    zipf = 1.0 / np.arange(1, VOCAB + 1) ** 0.9
    zipf /= zipf.sum()

    def fresh_text():
        toks = rng.choice(VOCAB, rng.integers(40, 121), p=zipf)
        return " ".join(vocab[t] for t in toks)

    def copy_variant(text):
        # same fingerprint: case and spacing noise only
        toks = text.split(" ")
        i = int(rng.integers(0, len(toks)))
        toks[i] = toks[i].upper()
        return "  ".join(toks) if rng.random() < 0.5 else " ".join(toks)

    def near_variant(text):
        toks = text.split(" ")
        i = int(rng.integers(len(toks) // 4, 3 * len(toks) // 4))
        toks[i] = vocab[int(rng.integers(0, VOCAB))] + "x"
        return " ".join(toks)

    history = [fresh_text() for _ in range(DOC_HISTORY)]
    write_parquet(pa.table({"doc_id": pa.array(range(DOC_HISTORY), pa.int64()),
                            "text": history}),
                  os.path.join(out, "docs_history.parquet"))
    seen = list(history)
    next_id = DOC_HISTORY
    doc_batches, planted = [], []
    for b in range(DOC_BATCHES):
        ids, texts, cluster = [], [], []
        n_exact = int(DOC_BATCH * DOC_EXACT_SHARE)
        n_near = int(DOC_BATCH * DOC_NEAR_SHARE)
        n_fresh = DOC_BATCH - n_exact - n_near
        for _ in range(n_fresh):
            ids.append(next_id); texts.append(fresh_text()); cluster.append(next_id)
            next_id += 1
        for _ in range(n_exact):
            # half copy history/earlier batches, half copy this batch
            if rng.random() < 0.5:
                texts.append(copy_variant(seen[int(rng.integers(0, len(seen)))]))
                cluster.append(-1)
            else:
                j = int(rng.integers(0, n_fresh))
                texts.append(copy_variant(texts[j])); cluster.append(cluster[j])
            ids.append(next_id); next_id += 1
        for _ in range(n_near):
            j = int(rng.integers(0, n_fresh))
            texts.append(near_variant(texts[j])); cluster.append(cluster[j])
            ids.append(next_id); next_id += 1
        # near-dup pairs planted inside the batch: every pair of one cluster
        members = {}
        for i, c in zip(ids, cluster):
            if c >= 0:
                members.setdefault(c, []).append(i)
        for m in members.values():
            planted += [[b, a, z] for k, a in enumerate(m) for z in m[k + 1:]]
        order = rng.permutation(len(ids))
        path = os.path.join(out, "docs", f"batch_{b:04d}.parquet")
        write_parquet(pa.table({"doc_id": pa.array([ids[i] for i in order], pa.int64()),
                                "text": [texts[i] for i in order]}), path)
        doc_batches.append(os.path.relpath(path, out))
        seen += texts

    centers = rng.normal(0, 1, (EMB_CLUSTERS, EMB_DIM))

    def vectors(n):
        c = rng.integers(0, EMB_CLUSTERS, n)
        return (centers[c] + rng.normal(0, 0.35, (n, EMB_DIM))).astype(np.float32)

    def emb_table(first_id, v):
        return pa.table({
            "vec_id": pa.array(np.arange(first_id, first_id + len(v)), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32()))})

    write_parquet(emb_table(0, vectors(EMB_BASE)), os.path.join(out, "emb_base.parquet"))
    emb_batches = []
    for b in range(DOC_BATCHES):
        path = os.path.join(out, "emb", f"batch_{b:04d}.parquet")
        write_parquet(emb_table(EMB_BASE + b * EMB_BATCH, vectors(EMB_BATCH)), path)
        emb_batches.append(os.path.relpath(path, out))
    q = pa.table({"vec_id": pa.array(np.arange(N_QUERIES), pa.int64()),
                  "embedding": pa.array(list(vectors(N_QUERIES)), pa.list_(pa.float32()))})
    write_parquet(q, os.path.join(out, "queries.parquet"))
    return {"doc_batches": doc_batches, "emb_batches": emb_batches,
            "planted_pairs": planted}


def gen_ingest(rng, out):
    """Both chains of an ingest cycle, each under its own directory with
    its own manifest."""
    manifest = {}
    for part, fn in [("tables", gen_incremental), ("corpus", gen_corpus)]:
        sub = os.path.join(out, part)
        manifest[part] = fn(rng, sub)
        with open(os.path.join(sub, "manifest.json"), "w") as f:
            json.dump(manifest[part], f, sort_keys=True)
    return manifest


GENERATORS = {"dag_refresh": gen_dag, "ingest_cycles": gen_ingest}


def generate(workload, seed, out):
    """(Re)create `out` holding the inputs of `workload` for `seed`."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    manifest = GENERATORS[workload](rng, out)
    manifest.update({"workload": workload, "seed": seed})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()

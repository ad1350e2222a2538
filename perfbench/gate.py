"""Correctness gate: checks a run's outputs against references computed here,
independently of graft, after the timed window.

Each check returns (name, ok, detail). `check` also returns quality figures
(recalls, precision) for the traced report.
"""
import csv
import math
import os
import re
from collections import defaultdict

import duckdb
import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DEDUP_RECALL_FLOOR = 0.9
RECALL_AT_10_FLOOR = 0.8


def _sort_key(row):
    return tuple((2, "") if v is None else
                 (0, round(v, 3)) if isinstance(v, float) else (1, str(v)) for v in row)


def same_rows(got, want):
    """Sorted-row comparison; floats match to 1e-9 relative."""
    if len(got) != len(want):
        return False, f"{len(got)} rows, reference has {len(want)}"
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        for x, y in zip(g, w):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False, f"row {g} differs from reference {w}"
            elif x != y:
                return False, f"row {g} differs from reference {w}"
    return True, f"{len(got)} rows"


def read_rows(con, path, cols="*"):
    return con.execute(f"SELECT {cols} FROM read_parquet('{path}/**/*.parquet')").fetchall()


# ---------------------------------------------------------------- dag_refresh

def load_models():
    models = {}
    for f in sorted(os.listdir(os.path.join(HERE, "models"))):
        with open(os.path.join(HERE, "models", f)) as fh:
            sql = fh.read()
        kind = re.search(r"-- materialized: (\w+)", sql).group(1)
        models[f[:-4]] = (kind, sql)
    return models


def render(sql):
    q = r"""['"]([^'"]*)['"]"""
    sql = re.sub(r"\{\{\s*ref\(\s*" + q + r"\s*\)\s*\}\}", r"\1", sql)
    return re.sub(r"\{\{\s*source\(\s*" + q + r"\s*,\s*" + q + r"\s*\)\s*\}\}", r"\1_\2", sql)


def check_dag(inputs, work, info):
    con = duckdb.connect()
    for f in sorted(os.listdir(os.path.join(inputs, "raw"))):
        con.execute(f"CREATE VIEW raw_{f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(inputs, 'raw', f)}')")
    pending = load_models()
    while pending:
        for name, (kind, sql) in list(pending.items()):
            if kind == "seed":
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_csv("
                            f"'{os.path.join(inputs, 'seeds', name + '.csv')}', header = true, "
                            "columns = {'segment': 'VARCHAR', 'segment_group': 'VARCHAR', "
                            "'weight': 'BIGINT'})")
            elif any(d in pending for d in re.findall(r"ref\(\s*'([^']*)'", sql)):
                continue
            else:
                con.execute(f"CREATE VIEW {name} AS {render(sql)}")
            del pending[name]
    return [(f"dag.{t}",) + same_rows(read_rows(con, os.path.join(work, "export", t)),
                                       con.execute(f"SELECT * FROM {t}").fetchall())
            for t in info["tables"]]


# ------------------------------------------------ ingest_cycles: tables chain

def check_incremental(inputs, work, info):
    """Replays base + change log: merge and delete+insert are last write
    wins per key, append keeps every row, insert_overwrite holds the daily
    aggregate of the merged state, microbatch re-derives the look-back days
    from the append log each cycle, and the SCD-2 snapshot's open rows are
    the merged state with one extra version per change."""
    cols = ["id", "day", "k1", "k2", "val", "is_deleted", "updated_s", "event_s"]
    base = pq.read_table(os.path.join(inputs, "base.parquet")).to_pylist()
    state = {r["id"]: r for r in base}
    log = [dict(r, op="base") for r in base]
    versions = len(base)
    day_of = lambda r: r["event_s"] // 86400
    mb = defaultdict(list)
    for r in log:
        mb[day_of(r)].append(r)
    lo, hi = info["mb_start"] // 86400, info["mb_end"] // 86400
    for name in info["cycles"]:
        rows = pq.read_table(os.path.join(inputs, "changes", name)).to_pylist()
        for r in rows:
            state[r["id"]] = r
        versions += len(rows)
        log += rows
        for d in range(lo, hi):
            mb[d] = [r for r in log if day_of(r) == d]

    con = duckdb.connect()
    exp = lambda t: os.path.join(work, "export", t)
    ts = "CAST(epoch(updated_at) AS BIGINT), CAST(epoch(event_ts) AS BIGINT)"
    want_state = [tuple(r[c] for c in cols) for r in state.values()]
    checks = [
        ("incremental.merge",) + same_rows(
            read_rows(con, exp("t_merge"), f"id, day, k1, k2, val, is_deleted, {ts}"), want_state),
        ("incremental.delete_insert",) + same_rows(
            read_rows(con, exp("t_delins"), f"id, day, k1, k2, val, is_deleted, {ts}"), want_state),
        ("incremental.append",) + same_rows(
            read_rows(con, exp("t_append"), f"id, day, val, op, {ts}"),
            [(r["id"], r["day"], r["val"], r["op"], r["updated_s"], r["event_s"]) for r in log]),
    ]
    agg = defaultdict(lambda: [0, 0.0])
    for r in state.values():
        if not r["is_deleted"]:
            agg[r["day"]][0] += 1
            agg[r["day"]][1] += r["val"]
    checks.append(("incremental.insert_overwrite",) + same_rows(
        read_rows(con, exp("t_daily"), "day, n, total"),
        [(d, n, t) for d, (n, t) in agg.items()]))
    checks.append(("incremental.microbatch",) + same_rows(
        read_rows(con, exp("t_mb"), "id, op, CAST(epoch(event_ts) AS BIGINT)"),
        [(r["id"], r["op"], r["event_s"]) for rs in mb.values() for r in rs]))
    snap_open = read_rows(con, exp("t_snap") + "/", "id, val, is_deleted, "
                          "CAST(epoch(updated_at) AS BIGINT), dbt_valid_to IS NULL")
    ok, detail = same_rows([r[:4] for r in snap_open if r[4]],
                           [(r["id"], r["val"], r["is_deleted"], r["updated_s"])
                            for r in state.values()])
    if ok and len(snap_open) != versions:
        ok, detail = False, f"{len(snap_open)} snapshot rows, reference has {versions}"
    checks.append(("incremental.snapshot", ok, detail))
    return checks


# ------------------------------------------------ ingest_cycles: corpus chain

def norm(text):
    return " ".join(text.lower().split())


def check_corpus(inputs, work, info, manifest):
    n = info["batches"]
    quality = {}
    # exact dedup: per batch, the lowest id of every text not seen before
    seen = {norm(t) for t in pq.read_table(
        os.path.join(inputs, "docs_history.parquet")).column("text").to_pylist()}
    want = []
    for path in manifest["doc_batches"][:n]:
        t = pq.read_table(os.path.join(inputs, path)).to_pylist()
        first = {}
        for r in sorted(t, key=lambda r: r["doc_id"]):
            first.setdefault(norm(r["text"]), r["doc_id"])
        want += [i for k, i in first.items() if k not in seen]
        seen.update(first)
    con = duckdb.connect()
    got = [r[0] for r in read_rows(con, info["kept_dir"], "doc_id")]
    ok = sorted(got) == sorted(want)
    checks = [("corpus.exact_dedup", ok,
               f"{len(got)} kept" + ("" if ok else f", reference keeps {len(want)}"))]

    # near-dup recall over the planted pairs of the batches run
    planted = {(b, a, z) for b, a, z in manifest["planted_pairs"] if b < n}
    with open(os.path.join(work, "export_pairs.csv")) as f:
        emitted = {tuple(int(x) for x in row) for row in csv.reader(f)}
    found = len(planted & emitted)
    quality["llm.dedup.recall"] = found / max(1, len(planted))
    quality["llm.dedup.pair_precision"] = found / max(1, len(emitted))
    checks.append(("corpus.dedup_recall", quality["llm.dedup.recall"] >= DEDUP_RECALL_FLOOR,
                   f"{found}/{len(planted)} planted pairs found"))

    # recall@10 of IndexStore.searchTopK against exact cosine top-k
    def load(path):
        t = pq.read_table(os.path.join(inputs, path))
        return (np.array(t.column("vec_id").to_pylist()),
                np.array(t.column("embedding").to_pylist(), dtype=np.float64))
    ids, vecs = load("emb_base.parquet")
    parts = [(ids, vecs)] + [load(p) for p in manifest["emb_batches"][:n]]
    qids, qv = load("queries.parquet")
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    found = defaultdict(set)
    with open(os.path.join(work, "export_search.csv")) as f:
        for b, q, c, _ in csv.reader(f):
            found[(int(b), int(q))].add(int(c))
    k = info["k"]
    recalls = []
    for b in sorted({b for b, _ in found}):
        cid = np.concatenate([p[0] for p in parts[:b + 2]])
        cv = np.concatenate([p[1] for p in parts[:b + 2]])
        cos = (qv @ (cv / np.linalg.norm(cv, axis=1, keepdims=True)).T)
        for qi, q in enumerate(qids):
            exact = set(cid[np.argsort(-cos[qi], kind="stable")[:k]].tolist())
            recalls.append(len(exact & found[(b, int(q))]) / k)
    quality["llm.store.recall_at_10"] = float(np.mean(recalls)) if recalls else 0.0
    checks.append(("corpus.recall_at_10", quality["llm.store.recall_at_10"] >= RECALL_AT_10_FLOOR,
                   f"{quality['llm.store.recall_at_10']:.4f} over {len(recalls)} searches"))
    return checks, quality


def check(workload, inputs, work, info, manifest):
    if workload == "dag_refresh":
        return check_dag(inputs, work, info), {}
    checks, quality = check_corpus(os.path.join(inputs, "corpus"), work, info["corpus"],
                                   manifest["corpus"])
    return check_incremental(os.path.join(inputs, "tables"), work, info["tables"]) + checks, \
        quality

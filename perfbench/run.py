#!/usr/bin/env python3
"""graft benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload dag_refresh --seed 1 --seconds 10 --trace 0

Builds graft and the driver if their sources changed, generates the
workload's inputs from the seed, runs the workload in one Spark JVM (a
warm-up operation, then measured operations for at least `--seconds`, at
least three of them on dag_refresh and one whole maintenance period of two
on ingest_cycles), checks the outputs (gate.py), and prints every metric by
name with its unit. The last stdout line is one JSON object. `--trace 1` runs
with spans and Spark listeners and reports the per-layer metrics instead;
its span file is `.bench_build/work/<workload>/spans.jsonl`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gate  # noqa: E402
import gen  # noqa: E402

NPROC = 4
GEN_REPEATS = 3
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 150
# Operations run before the measured ones. The JIT keeps speeding operations
# up for several more (DAG builds took 6.4, 5.5, 5.0 s after one warm-up
# build, and 5.8, 5.4, 5.0 s after two), but a second warm-up did not
# narrow the spread between runs, which the host's load sets, and each one
# costs a whole operation in every run.
WARMUP_OPS = 1

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("op_p50_s", "s"), ("write_amp", "ratio")]

SPARK_QTY = ["jobs", "stages", "tasks", "scan_tasks", "failed_tasks", "executor_run_s",
             "executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "input_bytes", "output_bytes", "driver_gap_s"]
STRATEGIES = ["merge", "delete_insert", "append", "insert_overwrite", "microbatch", "snapshot"]
PER_LAYER = (
    [f"spark.{q}" for q in SPARK_QTY] + ["spark.driver_gap_share", "spark.utilisation"]
    + ["trace.op_p50_s", "trace.spans"]
    + ["pipeline.model_p50_s", "pipeline.model_max_s", "pipeline.ready_wait_s",
       "pipeline.critical_path_s", "pipeline.concurrency", "pipeline.run.s",
       "pipeline.sql_model.calls", "pipeline.sql_model.s"]
    + [f"mat.{f}.{q}" for f in ["table", "materialized_view", "seed"]
       for q in ["calls", "s", "jobs", "output_bytes"]]
    + ["exec.datatests.s", "exec.datatests.jobs", "exec.datatests.tests"]
    + [f"exec.incremental.{s}.{q}" for s in STRATEGIES
       for q in ["calls", "s", "jobs", "rows_in", "bytes_written"]]
    + ["exec.readback.s", "exec.readback.jobs", "exec.table.files", "exec.table.bytes"]
    + [f"exec.maintenance.{q}" for q in
       ["calls", "s", "bytes_rewritten", "files_before", "files_after"]]
    + ["catalog.calls", "catalog.s"]
    + ["llm.text.analyze.s", "llm.text.substring_dup.s"]
    + ["llm.dedup.minhash_pairs.s", "llm.dedup.minhash_pairs.jobs",
       "llm.dedup.minhash_pairs.pairs_out", "llm.dedup.connected_components.s",
       "llm.dedup.connected_components.jobs", "llm.dedup.cc_rounds",
       "llm.dedup.pair_precision", "llm.dedup.recall"]
    + ["llm.store.search.s", "llm.store.search.jobs", "llm.store.compact.s",
       "llm.store.compact.jobs", "llm.store.segments", "llm.store.recall_at_10"]
    + ["streaming.start_s", "streaming.batch_s", "streaming.batches",
       "streaming.dedup_ingest.s", "streaming.dedup_ingest.jobs",
       "streaming.index_ingest.s", "streaming.index_ingest.jobs"])
# span facts that a layer metric reads under another name
SPAN_FACT = {"bytes_written": "output_bytes", "bytes_rewritten": "output_bytes"}


def unit_of(name):
    q = name.rsplit(".", 1)[1]
    if q == "s" or q.endswith("_s"):
        return "s"
    if q.endswith("bytes") or q in ("bytes_written", "bytes_rewritten"):
        return "bytes"
    if q in ("utilisation", "driver_gap_share", "recall", "recall_at_10",
             "pair_precision", "concurrency"):
        return "ratio"
    return "count"


def build():
    subprocess.run(["bash", os.path.join(HERE, "build.sh"), os.path.join(BUILD, "perfbench")],
                   check=True, stdout=sys.stderr)


def jvm(args, log):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(args["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.path.join(BUILD, "perfbench", "classes.jar") + ":" + \
        os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    # class-data sharing: the first run after a build archives the classes it
    # loaded, later runs map them in instead of loading them one by one
    cds = os.path.join(BUILD, "perfbench", "classes.jsa")
    share = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
             else f"-XX:ArchiveClassesAtExit={cds}")
    cmd = (["java"] + [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-XX:-UsePerfData", share, "-cp", cp, "graftbench.BenchMain"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    return subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=args["work"],
                          timeout=JVM_TIMEOUT_S).returncode


def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(res, nproc):
    spans, extras = res["spans"], res["extras"]
    n = max(1, len(res["ops"]))
    op = spans.get("op", {})
    out = {}
    for name in PER_LAYER:
        layer, q = name.rsplit(".", 1)
        if name in extras:
            v = extras[name]
        elif name == "spark.utilisation":
            v = op.get("executor_run_s", 0.0) / max(1e-9, op.get("s", 0.0) * nproc)
        elif name == "spark.driver_gap_share":
            v = op.get("driver_gap_s", 0.0) / max(1e-9, op.get("s", 0.0))
        elif name == "trace.op_p50_s":
            v = median([o["s"] for o in res["ops"]])
        elif name == "trace.spans":
            v = sum(s["calls"] for s in spans.values()) / n
        else:
            span = spans.get("op" if layer == "spark" else layer, {})
            v = span.get(SPAN_FACT.get(q, q), 0.0) / n
        out[name] = {"value": v, "unit": unit_of(name)}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", type=int, choices=[0, 1], default=0,
                    help="corrupt one output on purpose (gate self-test)")
    a = ap.parse_args()
    try:
        build()
    except (subprocess.CalledProcessError, KeyError) as e:
        print(f"run.py: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    gen_s = []
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        manifest = gen.generate(a.workload, a.seed, inputs)
        gen_s.append(time.perf_counter() - t)

    launched = time.time()
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        rc = jvm({"workload": a.workload, "inputs": inputs, "work": work, "bench-dir": HERE,
                  "seconds": a.seconds, "trace": a.trace, "nproc": NPROC, "plant": a.plant,
                  "warmup": WARMUP_OPS}, log)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"run.py: benchmark JVM exited with {rc}", file=sys.stderr)
        return 1
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    exited = time.time()
    session_s = res["session_ready_ms"] / 1000 - launched
    checks, quality = gate.check(a.workload, inputs, work, res["gate"], manifest)
    print(f"phases: gen {median(gen_s):.2f}s, session {session_s:.2f}s,"
          f" bootstrap {res['bootstrap_s']:.2f}s, warm-up {res['warmup_s']:.2f}s,"
          f" measure+finish {(res['finished_ms'] - res['session_ready_ms']) / 1000 - res['bootstrap_s'] - res['warmup_s']:.2f}s,"
          f" exit {exited - res['finished_ms'] / 1000:.2f}s, gate {time.time() - exited:.2f}s",
          file=sys.stderr)
    print("ops: " + " ".join(f"{o['s']:.2f}s" for o in res["ops"]), file=sys.stderr)
    for name, ok, detail in checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})", file=sys.stderr)
    for e in res["errors"]:
        print(f"error {e}", file=sys.stderr)
    ops = res["ops"]
    attempted = res["attempted"] + len(checks)
    failed = res["attempted"] - len(ops) + sum(1 for _, ok, _ in checks if not ok)

    if a.trace:
        res["extras"].update(quality)
        metrics = per_layer(res, NPROC)
    else:
        values = {
            "setup_s": median(gen_s) + session_s + res["bootstrap_s"] + res["warmup_s"],
            "op_p50_s": median([o["s"] for o in ops]),
            "write_amp": sum(o["bytes_written"] for o in ops)
            / max(1, sum(o["input_bytes"] for o in ops)),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    print(f"{a.workload} seed={a.seed} ops={len(ops)} attempted={attempted} failed={failed}")
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py          # all tests (about three minutes)
    python3 perfbench/selftest.py --quick  # generator and metric lists only

1. The generator is deterministic: one seed gives byte-identical files, and
   another seed gives different ones.
2. BENCHMARK.json names exactly the metrics run.py reports.
3. The correctness gate fails a run whose output was corrupted on purpose
   (`run.py --plant 1`), for every workload.
"""
import filecmp
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "selftest")


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generator():
    for w in gen.WORKLOADS:
        a, b, c = (os.path.join(WORK, w, x) for x in "abc")
        gen.generate(w, 5, a)
        gen.generate(w, 5, b)
        gen.generate(w, 6, c)
        assert same_tree(a, b), f"{w}: seed 5 gave different files on two runs"
        assert not same_tree(a, c), f"{w}: seeds 5 and 6 gave the same files"
        print(f"ok generator {w}")


def test_metric_lists():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == [n for n, _ in run.END_TO_END]
    assert [m["name"] for m in bench["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == gen.WORKLOADS
    print("ok metric lists")


def test_planted_wrong_answer():
    for w in gen.WORKLOADS:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", "3", "--seconds", "1", "--trace", "0", "--plant", "1"],
                           capture_output=True, text=True, timeout=600)
        assert p.returncode == 0, f"{w}: run failed\n{p.stderr[-2000:]}"
        res = json.loads(p.stdout.strip().splitlines()[-1])
        assert not res["correct"] and res["failed"] >= 1, f"{w}: planted error passed: {res}"
        failed = [l for l in p.stderr.splitlines() if "FAILED" in l]
        print(f"ok gate {w}: {failed[0]}")


if __name__ == "__main__":
    test_generator()
    test_metric_lists()
    if "--quick" not in sys.argv:
        test_planted_wrong_answer()

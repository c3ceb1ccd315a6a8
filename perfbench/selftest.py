#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

usage (from the root of a checkout, after one run of each workload with
--trace 0 and --trace 1, whose outputs these tests reuse):
  python3 perfbench/selftest.py

- the same seed gives a byte-identical diag tree and byte-identical tables;
- a corrupted ground-truth value or result digest is reported as a failed
  operation;
- BENCHMARK.json keeps to its format, and every metric a run printed or
  measured is named there.
Exits 0 when every test passes.
"""
import hashlib
import json
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen_diag  # noqa: E402
import gen_tables  # noqa: E402

SCRATCH = ".perfbench/selftest"
RUNS = ".perfbench/runs"


def tree_hash(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_dir(workload, trace):
    d = f"{RUNS}/{workload}-trace{trace}"
    if not os.path.exists(f"{d}/result.json"):
        raise AssertionError(f"needs a run of {workload} with --trace {trace} first")
    with open(f"{d}/result.json") as f:
        return d, json.load(f)


def test_same_seed_same_inputs():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    t1 = gen_diag.generate(f"{SCRATCH}/a/tree", 11)
    t2 = gen_diag.generate(f"{SCRATCH}/b/tree", 11)
    gen_diag.generate(f"{SCRATCH}/c/tree", 12)
    assert t1 == t2, "ground truth differs for one seed"
    assert tree_hash(f"{SCRATCH}/a/tree") == tree_hash(f"{SCRATCH}/b/tree"), \
        "diag tree differs for one seed"
    assert tree_hash(f"{SCRATCH}/a/tree") != tree_hash(f"{SCRATCH}/c/tree"), \
        "diag tree ignores its seed"
    for d in ("ta", "tb"):
        gen_tables.generate(f"{SCRATCH}/{d}", 0.001, 42)
    assert tree_hash(f"{SCRATCH}/ta") == tree_hash(f"{SCRATCH}/tb"), \
        "tables differ for one seed"
    shutil.rmtree(SCRATCH)


def test_corrupt_truth_fails():
    d, res = run_dir("diag_report", 0)
    with open(f"{d}/truth.json") as f:
        truth = json.load(f)
    n = len(res["reports"])
    assert n > 0 and checks.diag(res, truth)[0] == 0, "clean run does not check clean"
    for corrupt in (
            lambda t: t["reads"].update({next(iter(t["reads"])): -1}),
            lambda t: t["tab_rows"].update(warnings=t["tab_rows"]["warnings"] + 1),
            lambda t: t.update(gc_p99_ms=t["gc_p99_ms"] + 1),
            lambda t: t["warnings"]["Database Health"].pop("GC Pauses", None)):
        bad = json.loads(json.dumps(truth))
        corrupt(bad)
        failed = checks.diag(res, bad)[0]
        assert failed == n, f"corrupted ground truth: {failed} of {n} reports failed"


def test_corrupt_digest_fails():
    _, res = run_dir("query_board", 0)
    expected = checks.load_expected(HERE, "query_board")
    assert checks.queries(res, expected)[0] == 0, "clean run does not check clean"
    name, passes = next(iter(res["digests"].items()))
    bad = dict(expected)
    bad[name] = "0:0000000000000000"
    assert checks.queries(res, bad)[0] == len(passes), "corrupted digest passed"
    bad.pop(name)
    assert checks.queries(res, bad)[0] == len(passes), "missing digest passed"


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_and_metric_names():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]] + \
        [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names)), "a name is used twice"
    assert all(NAME.match(n) for n in names), "a name breaks the format"
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and UNIT.match(m["unit"])
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    e2e = {m["name"] for m in spec["end_to_end"]}
    per_layer = {m["name"] for m in spec["per_layer"]}
    measured = set()
    for w in (w["name"] for w in spec["workloads"]):
        for trace, want in ((0, e2e), (1, per_layer)):
            d, res = run_dir(w, trace)
            with open(f"{d}/detail.json") as f:
                printed = set(json.load(f)["metrics"])
            assert printed == want, f"{w} --trace {trace} printed {printed ^ want} off-spec"
            if trace:
                extra = set(res["layers"]) - per_layer
                assert not extra, f"{w} measured layers missing from BENCHMARK.json: {extra}"
                measured |= set(res["layers"])
    assert measured == per_layer, f"per-layer metrics no workload measures: {per_layer - measured}"


if __name__ == "__main__":
    failures = 0
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            try:
                fn()
                print(f"ok    {name}")
            except AssertionError as e:
                failures += 1
                print(f"FAIL  {name}: {e}")
    sys.exit(1 if failures else 0)

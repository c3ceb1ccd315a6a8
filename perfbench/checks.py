"""Output checks of the benchmark.

`diag(result, truth)` checks every report of a diag_report run against
the generator's ground truth and requires all reports of the run to write
a byte-identical `summary.json`. `queries(result, expected)` requires
every query's result digest to agree across passes and with the digest
table committed in `digests.json`. Both return (failed operations, notes).

Recording the digest table (after the oracle check described in
perfbench/NOTES.md):
  python3 perfbench/checks.py record query_board
reads `.perfbench/runs/query_board-trace0/result.json` of the last run.
"""
import glob
import json
import os
import sys

import pyarrow.parquet as pq

TABS = ["node_table", "workload", "gc_pauses", "tombstones", "threshold_tabs",
        "warnings", "proxy_histograms"]


def tab_rows(path):
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


def report_problems(d, truth):
    """What a report dir gets wrong against the ground truth."""
    with open(os.path.join(d, "summary.json")) as f:
        s = json.load(f)
    bad = []
    if s.get("cluster") != truth["cluster"]:
        bad.append(f"cluster {s.get('cluster')!r}")
    if s.get("missing_data") != (1 if truth["missing_ips"] else 0):
        bad.append(f"missing_data {s.get('missing_data')}")
    if s.get("warnings") != truth["warnings"]:
        bad.append("warnings differ from the planted guardrail triggers")
    wl, ds = s.get("workload", {}), s.get("dataset_size", {})
    for kind, block, key in (("reads", "read", "read_req"), ("writes", "write", "write_req")):
        for t, v in truth[kind].items():
            ks, tbl = t.split(".")
            got = wl.get(ks, {}).get(tbl, {}).get(block, {}).get(key)
            if got != v:
                bad.append(f"{t} {key} {got} != {v}")
    for t, v in truth["sizes"].items():
        ks, tbl = t.split(".")
        if ds.get(ks, {}).get(tbl, {}).get("size") != v:
            bad.append(f"{t} size {ds.get(ks, {}).get(tbl)} != {v}")
    if ds.get("total") != truth["total_size"]:
        bad.append(f"dataset_size.total {ds.get('total')} != {truth['total_size']}")
    for tab in TABS:
        n = tab_rows(os.path.join(d, tab))
        if n != truth["tab_rows"][tab]:
            bad.append(f"tab {tab}: {n} rows, expected {truth['tab_rows'][tab]}")
    gc = pq.read_table(os.path.join(d, "gc_pauses")).to_pylist()
    db = [r for r in gc if r["level"] == "Database"]
    if not db or (db[0]["pauses"], db[0]["p99"], db[0]["max_ms"]) != (
            truth["gc_events"], truth["gc_p99_ms"], truth["gc_max_ms"]):
        bad.append(f"gc Database row {db} != {truth['gc_events']} events, "
                   f"p99 {truth['gc_p99_ms']}, max {truth['gc_max_ms']}")
    return bad


def diag(result, truth):
    failed, notes, first = 0, [], None
    for d in result["reports"]:
        bad = report_problems(d, truth)
        with open(os.path.join(d, "summary.json"), "rb") as f:
            body = f.read()
        if first is None:
            first = body
        elif body != first:
            bad.append("summary.json differs from the run's first report")
        if bad:
            failed += 1
            notes.append(f"{os.path.basename(d)}: " + "; ".join(bad[:5]))
    return failed, notes


def load_expected(here, workload):
    path = os.path.join(here, "digests.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f).get(workload, {})


def queries(result, expected):
    """Each (query, pass) whose digest disagrees with the committed one,
    or has none committed, is a failed operation. Executions that threw
    are counted by the caller."""
    failed, notes = 0, []
    for name, ds in result["digests"].items():
        ref = expected.get(name)
        if ref is None:
            notes.append(f"{name}: no committed digest")
        for i, d in enumerate(ds):
            if d != "error" and d != ref:
                failed += 1
                notes.append(f"{name} pass {i}: digest {d} != {ref}")
    return failed, notes


if __name__ == "__main__":
    if sys.argv[1:2] != ["record"] or len(sys.argv) != 3:
        sys.exit("usage: checks.py record <workload>")
    workload = sys.argv[2]
    with open(f".perfbench/runs/{workload}-trace0/result.json") as f:
        res = json.load(f)
    table = {}
    for name, ds in res["digests"].items():
        if len(set(ds)) != 1 or "error" in ds:
            sys.exit(f"{name}: digests disagree across passes: {ds}")
        table[name] = ds[0]
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "digests.json")
    allt = {}
    if os.path.exists(path):
        with open(path) as f:
            allt = json.load(f)
    allt[workload] = dict(sorted(table.items()))
    with open(path, "w") as f:
        json.dump(allt, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(table)} digests for {workload}")

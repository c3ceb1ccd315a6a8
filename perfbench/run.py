#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one result line.

usage (from the root of a checkout):
  python3 perfbench/run.py --workload <diag_report|query_board> --seed <n>
                           --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (sbt, offline;
state under `.perfbench/`), makes the workload's inputs from the seed,
runs the harness JVM (`graft.perfbench.Main`) closed-loop with one client
on `local[nproc]`, checks the outputs, and prints as its last stdout line
  {"correct": ..., "attempted": n, "failed": n, "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Details (raw samples, checks, box
state, spans) land in `.perfbench/runs/<workload>-trace<0|1>/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen_diag  # noqa: E402
import gen_tables  # noqa: E402

STATE = ".perfbench"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
# the query_board tables: fixed, like a read-only testdata directory
QUERY_SF, QUERY_DATA_SEED = 0.01, 42
# a run during which the hypervisor took more than this share of the
# machine's CPU time for other guests is flagged contended
STEAL_CONTENDED = 0.05
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build compiles, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src"]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; returns the runtime classpath."""
    os.makedirs(STATE, exist_ok=True)
    stamp_file, cp_file = f"{STATE}/build.stamp", f"{STATE}/classpath.txt"
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness (sbt, first run only)")
    t0 = time.time()
    with open(f"{STATE}/build.log", "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd="perfbench", env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    with open(f"{STATE}/build.log", "a") as out:
        out.write(r.stdout)
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {r.returncode}); see {STATE}/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def query_data():
    """The query_board tables, generated once per checkout."""
    d = f"{STATE}/data/tables_sf{QUERY_SF}_seed{QUERY_DATA_SEED}"
    if not os.path.exists(f"{d}/.complete"):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(d, QUERY_SF, QUERY_DATA_SEED)
        open(f"{d}/.complete", "w").close()
    return os.path.abspath(d)


def ancestors():
    pids, p = set(), os.getpid()
    while p > 1:
        pids.add(p)
        try:
            with open(f"/proc/{p}/stat") as f:
                p = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            break
    return pids


def box_state():
    """nproc, 1-minute load and the java processes outside this run's own
    process chain (this launcher's ancestors; its JVM is not alive when
    this is sampled)."""
    mine = ancestors()
    java = []
    for p in os.listdir("/proc"):
        if p.isdigit() and int(p) not in mine:
            try:
                with open(f"/proc/{p}/comm") as f:
                    if f.read().strip() == "java":
                        java.append(int(p))
            except OSError:
                pass
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return {"nproc": os.cpu_count(), "load1": os.getloadavg()[0],
            "foreign_java": sorted(java), "ticks": sum(ticks), "steal_ticks": ticks[7]}


def steal_share(start, end):
    """Share of the machine's CPU time the hypervisor gave to other guests
    between two box stamps."""
    return (end["steal_ticks"] - start["steal_ticks"]) / max(1, end["ticks"] - start["ticks"])


def run_jvm(cp, args, work):
    # temp files (native libraries the JVM unpacks) stay in the run dir,
    # and no hsperfdata file is written outside it
    os.makedirs(f"{work}/tmp")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graft.perfbench.Main"] + args + ["--launched", repr(time.time())])
    with open(f"{work}/jvm.log", "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"harness JVM killed after {JVM_TIMEOUT_S}s")
        except BaseException:
            p.kill()
            p.wait()
            raise
    result = f"{work}/result.json"
    if p.returncode != 0 or not os.path.exists(result):
        return None
    with open(result) as f:
        return json.load(f)


def main():
    # a terminated launcher unwinds, so the sbt or harness JVM it is
    # waiting for is killed and reaped before it exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["diag_report", "query_board"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")
            and os.path.isfile("BENCHMARK.json")):
        fail("run from the root of a checkout of the program (build.sbt, src/main/scala/graft)")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)

    cp = build()
    work = os.path.abspath(f"{STATE}/runs/{a.workload}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.workload == "diag_report":
        data = f"{work}/data"
        truth = gen_diag.generate(f"{data}/tree", a.seed)
        with open(f"{work}/truth.json", "w") as f:
            json.dump(truth, f, indent=1, sort_keys=True)
    else:
        data = query_data()
        truth = None
    box_start = box_state()
    res = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--data", data, "--work", work], work)
    box_end = box_state()
    if res is None:
        fail(f"harness JVM failed; see {work}/jvm.log", 1)

    if a.workload == "diag_report":
        failed, notes = checks.diag(res, truth)
    else:
        failed, notes = checks.queries(res, checks.load_expected(HERE, a.workload))
    attempted = int(res["attempted"])
    failed += len(res["errors"])

    if a.trace:
        layers = res["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        unknown = sorted(set(layers) - set(metrics))
        if unknown:
            notes.append(f"layers measured but not in BENCHMARK.json: {unknown}")
    else:
        if res["cold_cpu_s"] is None or not res["warm_cpu_s"]:
            fail(f"no timed operation succeeded: {res['errors'][:3]}", 1)
        values = {
            "setup_s": res["setup_s"],
            "peak_rss_mb": res["peak_rss_mb"],
            "cold_cpu_s": res["cold_cpu_s"],
            "warm_cpu_s": statistics.median(res["warm_cpu_s"]),
        }
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    steal = steal_share(box_start, box_end)
    contended = bool(box_start["foreign_java"] or box_end["foreign_java"]
                     or steal > STEAL_CONTENDED)
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "box_start": box_start, "box_end": box_end,
              "steal_share": steal, "contended": contended, "check_notes": notes, "errors": res["errors"],
              "samples": {k: res.get(k) for k in ("setup_wall_s", "setup_s", "cold_s", "cold_cpu_s",
                                                  "warm_s", "warm_cpu_s")},
              "metrics": metrics}
    with open(f"{work}/detail.json", "w") as f:
        json.dump(detail, f, indent=1)
    for n in notes:
        log(f"check: {n}")
    if contended:
        log(f"box contended: steal {steal:.3f}, start={box_start} end={box_end}")
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

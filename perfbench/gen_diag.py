"""Seeded generator of a Cassandra diagnostic tree plus its ground truth.

The tree follows the `<root>/nodes/<node-dir>/...` layout `graft.DiagReport`
reads: 12 nodes in 2 DCs, about 100 keyspace.tables, a few MB of
`system.log` per node with GC and tombstone lines, one zipped rollover,
one `AdditionalLogs` side-channel log, one node that has only
`nodetool/tablestats`, one malformed log file, and one status-listed node
without a directory.  Every guardrail the analysis checks is planted at
least once.

`generate(root, seed)` writes the tree and returns the ground truth (also
written to `<root>.truth.json` by the CLI): what `summary.json` and the
parquet tabs must contain.  The same seed gives a byte-identical tree.

usage: python3 perfbench/gen_diag.py <root> <seed>
"""
import json
import os
import random
import sys
import zipfile

CLUSTER = "PerfCluster"
DCS = ["dc1", "dc2"]
NODES_PER_DC = 6
KEYSPACES = 10
TABLES_PER_KS = 10
RF_PER_DC = 3
RF_TOTAL = RF_PER_DC * len(DCS)
LOG_BYTES = 1_500_000          # per node system.log
TOTAL_TABLES_REPORTED = 160    # "Total number of tables" (>= 155 trips the check)

# Thresholds() defaults of graft.model.Thresholds
TP = dict(mv=2, si=1, sai=8, tblcnt=155, colcnt=45, lpar_mb=100, rl_ms=100,
          wl_ms=100, sstbl=20, gcp_ms=800, drm=100000, ts=1000)
GR = dict(mv=2, si=1, sai=50, tblcnt=200, colcnt=75, lpar_mb=200)


def _node_ips():
    out = []
    for d, dc in enumerate(DCS):
        for i in range(NODES_PER_DC):
            out.append((dc, f"10.{d + 1}.0.{i + 1}", f"rack{i % 3 + 1}"))
    return out


def _dir_name(ip, i):
    # every third node dir uses the underscore spelling the tool accepts
    return ip.replace(".", "_") if i % 3 == 0 else ip


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="\n") as f:
        f.write(text)


def _ts(rng, day):
    return (f"2024-05-{day:02d} {rng.randrange(24):02d}:{rng.randrange(60):02d}:"
            f"{rng.randrange(60):02d},{rng.randrange(1000):03d}")


FILLER = [
    "INFO  [CompactionExecutor:{n}] {ts} CompactionTask.java:241 - Compacted "
    "(a{n}b) 4 sstables to [/var/lib/cassandra/data/ks/t-{n}/nb-{n}-big,] to "
    "level=0.  {n},123 bytes to {n},001 (~97% of original) in {n}ms.",
    "INFO  [MemtableFlushWriter:{n}] {ts} Memtable.java:456 - Writing "
    "Memtable-t{n}@{n}(1.234MiB serialized bytes, {n} ops, 0%/0% of on/off-heap limit)",
    "DEBUG [ScheduledTasks:1] {ts} MonitoringTask.java:173 - {n} operations were "
    "slow in the last 5000 msecs",
    "INFO  [IndexSummaryManager:1] {ts} IndexSummaryRedistribution.java:77 - "
    "Redistributing index summaries",
]


def _log_text(rng, node_idx, nbytes, gc_out, ts_out, tables):
    """A system.log of about `nbytes`; appends planted pauses to `gc_out`
    and (ks, tbl, reads, tombstones) to `ts_out`."""
    lines, size = [], 0
    while size < nbytes:
        r = rng.random()
        ts = _ts(rng, 1 + rng.randrange(28))
        if r < 0.02:
            pause = rng.randrange(150, 1400) if rng.random() < 0.08 else rng.randrange(20, 400)
            gc_out.append(pause)
            line = (f"INFO  [Service Thread] {ts} GCInspector.java:284 - G1 Young "
                    f"Generation GC in {pause}ms.  G1 Eden Space: 1 -> 0")
        elif r < 0.025:
            ks, tbl = tables[rng.randrange(len(tables))]
            reads = rng.randrange(1, 500)
            tomb = rng.randrange(100, 20000)
            if tomb >= TP["ts"]:
                ts_out.append((ks, tbl, reads, tomb))
            line = (f"WARN  [ReadStage-{node_idx}] {ts} ReadCommand.java:576 - Read "
                    f"{reads} live rows and {tomb} tombstone cells for query SELECT * "
                    f"FROM {ks}.{tbl} WHERE id = {rng.randrange(10**6)} LIMIT 5000 "
                    f"(see tombstone_warn_threshold)")
        else:
            line = FILLER[rng.randrange(len(FILLER))].format(n=rng.randrange(10**5), ts=ts)
        lines.append(line)
        size += len(line) + 1
    return "\n".join(lines) + "\n"


MALFORMED = [
    "WARN  [ReadStage-9] 2024-05-03 01:02:03,004 ReadCommand.java:576 - Read 12 live rows and",
    "INFO  [Service Thread] 2024-05-03 01:02:03,004 GCInspector.java:284 - G1 GC in lotsms.",
    "INFO  [Service Thread] not-a-date GCInspector.java:284 - G1 GC in 999ms.",
    "\x00\x01\x02 binary garbage \xff\xfe",
    "WARN  [ReadStage-9] 2024-05-03 01:02:03,004 ReadCommand.java:576 - Read x live rows "
    "and 99999 tombstone cells for query SELECT * FROM nowhere",
]


def _cfstats(rng, plant, node, tables, counts):
    out = [f"Total number of tables: {TOTAL_TABLES_REPORTED}", "----------------"]
    for ks in sorted({k for k, _ in tables}):
        out.append(f"Keyspace : {ks}")
        for k2, tbl in tables:
            if k2 != ks:
                continue
            r, w, s = counts[(node, ks, tbl)]
            p = plant.get((node, ks, tbl), {})
            out += [
                f"\tTable: {tbl}",
                f"\t\tSSTable count: {p.get('sstbl', rng.randrange(1, 12))}",
                f"\t\tSpace used (live): {s}",
                f"\t\tLocal read count: {r}",
                f"\t\tLocal write count: {w}",
                f"\t\tLocal read latency: {p.get('rl', round(rng.uniform(0.1, 9), 3))} ms",
                f"\t\tLocal write latency: {p.get('wl', round(rng.uniform(0.01, 2), 3))} ms",
                f"\t\tCompacted partition maximum bytes: "
                f"{p.get('lpar', rng.randrange(10**4, 5 * 10**7))}",
                f"\t\tDropped Mutations: {p.get('drm', rng.randrange(0, 500))}",
                "",
            ]
        out.append("----------------")
    out += ["Keyspace : system", "\tTable: local", "\t\tSSTable count: 99",
            "\t\tSpace used (live): 1234", "\t\tLocal read count: 10", ""]
    return "\n".join(out) + "\n"


def generate(root, seed):
    rng = random.Random(seed)
    nodes = _node_ips()
    missing_ip = "10.2.0.99"
    tables = [(f"ks{k:02d}", f"t{t:02d}") for k in range(KEYSPACES)
              for t in range(TABLES_PER_KS)]
    dirs = [_dir_name(ip, i) for i, (_, ip, _) in enumerate(nodes)]
    dc_of = {d: dc for d, (dc, _, _) in zip(dirs, nodes)}
    uptime = {d: rng.randrange(86400, 90 * 86400) for d in dirs}

    # ---- cfstats counts: reads divisible by the per-DC RF and writes/size
    # by the total RF, so the normalized sums are exact integers
    counts = {}
    for d in dirs:
        for ks, tbl in tables:
            counts[(d, ks, tbl)] = (RF_PER_DC * rng.randrange(1, 50000),
                                    RF_TOTAL * rng.randrange(1, 40000),
                                    RF_TOTAL * rng.randrange(10**4, 10**8))
    # planted threshold trips: (node, ks, tbl) -> metric overrides
    plant = {}
    picks = rng.sample([(d, ks, t) for d in dirs for ks, t in tables], 24)
    kinds = ["sstbl", "rl", "wl", "lpar", "drm", "lpar_gr"]
    for i, key in enumerate(picks):
        kind = kinds[i % len(kinds)]
        v = {"sstbl": rng.randrange(TP["sstbl"], 60),
             "rl": round(rng.uniform(TP["rl_ms"], 400), 2),
             "wl": round(rng.uniform(TP["wl_ms"], 400), 2),
             "lpar": rng.randrange(TP["lpar_mb"], GR["lpar_mb"]) * 10**6,
             "drm": rng.randrange(TP["drm"], 10**6),
             "lpar_gr": rng.randrange(GR["lpar_mb"], 900) * 10**6}[kind]
        plant.setdefault(key, {})["lpar" if kind == "lpar_gr" else kind] = v

    base = os.path.join(root, "nodes")
    status_rows = ["Datacenter: %s\n=======================\nStatus=Up/Down\n"
                   "|/ State=Normal/Leaving/Joining/Moving\n"
                   "--  Address     Load       Tokens  Owns    Host ID"
                   "                               Rack" % dc for dc in DCS]
    status = []
    for di, dc in enumerate(DCS):
        status.append(status_rows[di])
        members = [(ip, rack) for (c, ip, rack) in nodes if c == dc]
        if dc == DCS[-1]:
            members.append((missing_ip, "rack1"))
        for ip, rack in members:
            st = "DN" if ip == missing_ip else "UN"
            hid = "%08x-0000-4000-8000-%012x" % (rng.getrandbits(32), rng.getrandbits(48))
            status.append(f"{st}  {ip:<10}  {rng.randrange(10, 900)}.{rng.randrange(10)} GiB"
                          f"  256     {rng.randrange(5, 30)}.0%   {hid}  {rack}")
    status_text = "\n".join(status) + "\n"

    gossip = []
    search_ip = nodes[4][1]
    for dc, ip, rack in nodes + [(DCS[-1], missing_ip, "rack1")]:
        gossip += [f"/{ip}", f"  generation:{1700000000 + rng.randrange(10**6)}",
                   f"  heartbeat:{rng.randrange(10**6)}", "  STATUS:14:NORMAL,-1",
                   f"  DC:8:{dc}", f"  RACK:10:{rack}", "  RELEASE_VERSION:4:4.0.11"]
        if ip == search_ip:
            gossip.append('  DSE_GOSSIP_STATE:42:{"workload":"Search","graph":false,'
                          '"dse_version":"6.8.40"}')
    gossip_text = "\n".join(gossip) + "\n"

    # ---- schema: 10 NetworkTopology keyspaces (one SimpleStrategy) with the
    # guardrail objects planted on a few tables
    schema = []
    for k in range(KEYSPACES):
        ks = f"ks{k:02d}"
        if k == 3:
            repl = f"{{'class': 'SimpleStrategy', 'replication_factor': '{RF_PER_DC}'}}"
        else:
            repl = "{'class': 'NetworkTopologyStrategy', %s}" % ", ".join(
                f"'{dc}': '{RF_PER_DC}'" for dc in DCS)
        schema.append(f"CREATE KEYSPACE {ks} WITH replication = {repl}  AND durable_writes = true;\n")
    wide = tables[rng.randrange(len(tables))]
    wide_cols = rng.randrange(TP["colcnt"] + 1, 70)
    for ks, tbl in tables:
        ncol = wide_cols if (ks, tbl) == wide else rng.randrange(3, 12)
        cols = [f"    c{i:02d} text," for i in range(ncol - 1)]
        schema.append(f"CREATE TABLE {ks}.{tbl} (\n    id uuid,\n" + "\n".join(cols) +
                      "\n    PRIMARY KEY (id, c00)\n) WITH CLUSTERING ORDER BY (c00 ASC)\n"
                      "    AND bloom_filter_fp_chance = 0.01;\n")
    mv_t, si_t, sai_t = rng.sample(tables, 3)
    n_mv, n_si, n_sai = 3, 2, rng.randrange(TP["sai"] + 1, 20)
    for i in range(n_mv):
        schema.append(f"CREATE MATERIALIZED VIEW {mv_t[0]}.{mv_t[1]}_mv{i} AS\n"
                      f"    SELECT * FROM {mv_t[0]}.{mv_t[1]}\n    WHERE c00 IS NOT NULL\n"
                      f"    PRIMARY KEY (c00, id);\n")
    for i in range(n_si):
        schema.append(f"CREATE INDEX {si_t[1]}_si{i} ON {si_t[0]}.{si_t[1]} (c00);\n")
    for i in range(n_sai):
        schema.append(f"CREATE CUSTOM INDEX {sai_t[1]}_sai{i} ON {sai_t[0]}.{sai_t[1]} "
                      f"(c00) USING 'StorageAttachedIndex';\n")
    schema.append("CREATE FUNCTION ks01.plus(a int, b int) CALLED ON NULL INPUT "
                  "RETURNS int LANGUAGE java AS 'return a+b;';\n")
    schema.append("CREATE AGGREGATE IF NOT EXISTS ks01.total(int) SFUNC plus STYPE int "
                  "INITCOND 0;\n")
    schema_text = "\n".join(schema)

    # ---- per-node files
    gc_by_node, ts_events = {}, []
    tablestats_node = dirs[7]
    malformed_node = dirs[2]
    zip_node = dirs[0]
    addlog_node = dirs[9]
    for i, (d, (dc, ip, rack)) in enumerate(zip(dirs, nodes)):
        nd = os.path.join(base, d)
        _write(f"{nd}/nodetool/status", status_text)
        _write(f"{nd}/nodetool/gossipinfo", gossip_text)
        _write(f"{nd}/nodetool/describecluster",
               f"Cluster Information:\n\tName: {CLUSTER}\n"
               "\tSnitch: org.apache.cassandra.locator.GossipingPropertyFileSnitch\n")
        _write(f"{nd}/nodetool/version", "ReleaseVersion: 4.0.11\n")
        _write(f"{nd}/nodetool/info",
               f"ID                     : {d}\nGossip active          : true\n"
               f"Uptime (seconds)       : {uptime[d]}\n"
               f"Data Center            : {dc}\nRack                   : {rack}\n")
        hist = ["proxy histograms",
                "Percentile       Read Latency      Write Latency     Range Latency",
                "                     (micros)           (micros)          (micros)"]
        for lbl in ["50%", "75%", "95%", "98%", "99%", "Min", "Max"]:
            hist.append(f"{lbl:<10} {rng.uniform(50, 30000):18.2f} "
                        f"{rng.uniform(20, 20000):18.2f} {rng.uniform(40, 2000):17.2f}")
        _write(f"{nd}/nodetool/proxyhistograms", "\n".join(hist) + "\n")
        cf = _cfstats(rng, plant, d, tables, counts)
        _write(f"{nd}/nodetool/{'tablestats' if d == tablestats_node else 'cfstats'}", cf)
        if i < 2:
            _write(f"{nd}/driver/schema", schema_text)
        gc = gc_by_node.setdefault(d, [])
        log = _log_text(rng, i, LOG_BYTES, gc, ts_events, tables)
        if d == malformed_node:
            body = log.splitlines()
            for j, bad in enumerate(MALFORMED):
                body.insert((j + 1) * len(body) // (len(MALFORMED) + 1), bad)
            log = "\n".join(body) + "\n"
        _write(f"{nd}/logs/cassandra/system.log", log)
        if d == zip_node:
            rolled = _log_text(rng, i, LOG_BYTES // 2, gc, ts_events, tables)
            zpath = f"{nd}/logs/cassandra/system.log.1.zip"
            with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
                info = zipfile.ZipInfo("system.log.1", date_time=(2024, 5, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                z.writestr(info, rolled)
        if d == addlog_node:
            side = _log_text(rng, i, LOG_BYTES // 5, gc, ts_events, tables)
            _write(os.path.join(root, "AdditionalLogs", d, "var/log/cassandra/system.log"),
                   side)
    return _truth(dirs, dc_of, tables, counts, plant, gc_by_node, ts_events,
                  wide, wide_cols, mv_t, n_mv, si_t, n_si, sai_t, n_sai, missing_ip,
                  nodes)


def _round_half_up_rank(n, q):
    import math
    return min(max(int(math.floor(n * q + 0.5)), 1), n)


def _truth(dirs, dc_of, tables, counts, plant, gc_by_node, ts_events, wide,
           wide_cols, mv_t, n_mv, si_t, n_si, sai_t, n_sai, missing_ip, nodes):
    reads = {t: 0 for t in tables}
    writes = {t: 0 for t in tables}
    size = {t: 0 for t in tables}
    for (d, ks, tbl), (r, w, s) in counts.items():
        reads[(ks, tbl)] += r // RF_PER_DC
        writes[(ks, tbl)] += w // RF_TOTAL
        size[(ks, tbl)] += s // RF_TOTAL
    pauses = sorted(p for v in gc_by_node.values() for p in v)
    p99 = pauses[_round_half_up_rank(len(pauses), 0.99) - 1]

    # threshold tab rows (graft DiagAnalysis.thresholdTabs)
    thr = {"dropped_mutation": 0, "large_partition": 0, "read_latency": 0,
           "write_latency": 0, "num_tables": 1}
    sst_tables, lpar_keys = set(), {}
    for (d, ks, tbl), p in plant.items():
        if "drm" in p:
            thr["dropped_mutation"] += 1
        if "rl" in p:
            thr["read_latency"] += 1
        if "wl" in p:
            thr["write_latency"] += 1
        if "lpar" in p:
            thr["large_partition"] += 1
            k = (dc_of[d], ks, tbl)
            lpar_keys[k] = max(lpar_keys.get(k, 0), p["lpar"])
        if "sstbl" in p:
            sst_tables.add((ks, tbl))
    thr["sstable_count"] = len(sst_tables)

    g, h = "Astra Guardrails", "Database Health"
    warnings = {g: {}, h: {}}

    def add(cat, check, msg):
        warnings.setdefault(cat, {}).setdefault(check, []).append(msg)

    add(g, "Materialized Views", f"{n_mv} Materialized Views of {mv_t[0]}.{mv_t[1]}"
        + ("***" if n_mv > GR["mv"] else ""))
    add(g, "Secondary Indexes", f"{n_si} Secondary Indexes of {si_t[0]}.{si_t[1]}"
        + ("***" if n_si > GR["si"] else ""))
    add(g, "Storage-Attached Indexes",
        f"{n_sai} Storage-Attached Indexes of {sai_t[0]}.{sai_t[1]}"
        + ("***" if n_sai > GR["sai"] else ""))
    add(g, "Number of Columns", f"{wide_cols} columns in {wide[0]}.{wide[1]}"
        + ("***" if wide_cols > GR["colcnt"] else ""))
    add(g, "User-Defined Function", "UDF plus in ks01")
    add(g, "User-Defined Aggregate", "UDA total in ks01")
    add(g, "Number of Tables", f"{TOTAL_TABLES_REPORTED} tables in database"
        + ("***" if TOTAL_TABLES_REPORTED >= GR["tblcnt"] else ""))
    for (dc, ks, tbl), v in sorted(lpar_keys.items()):
        add(g, "Large Partitions", f"Table {dc}.{ks}.{tbl} partition size "
            f"{v / 1e6!r}MB" + ("***" if v >= GR["lpar_mb"] * 1e6 else ""))
    if thr["dropped_mutation"]:
        add(h, "Dropped Mutation", f"Dropped Mutation greater than {TP['drm']}")
    if thr["sstable_count"]:
        add(h, "SSTable Count", f"SSTable Count greater than {TP['sstbl']}")
    if thr["read_latency"]:
        add(h, "Read Latency", f"Read Latency greater than {TP['rl_ms']}")
    if thr["write_latency"]:
        add(h, "Write Latency", f"Write Latency greater than {TP['wl_ms']}")
    if p99 > TP["gcp_ms"]:
        add(h, "GC Pauses", f"P99 GC pause greater than {TP['gcp_ms']}")
    if ts_events:
        add(h, "Tombstones", "Tombstones greater than {:,} in a single read request"
            .format(TP["ts"]))
    add("Workload", "Not Supported", "Search")
    add("Missing Data", "Missing Node Data", missing_ip)
    for cat in warnings.values():
        for check in cat:
            cat[check].sort()
    for check in ("Materialized Views", "Secondary Indexes", "Storage-Attached Indexes"):
        warnings[g].setdefault(check, [])

    gc_nodes = [d for d in dirs if gc_by_node.get(d)]
    gc_dcs = {dc_of[d] for d in gc_nodes}
    return {
        "cluster": CLUSTER,
        "nodes_per_dc": {dc: sum(1 for n in nodes if n[0] == dc) for dc in DCS},
        "status_nodes": len(nodes) + 1,
        "missing_ips": [missing_ip],
        "tables": len(tables),
        "reads": {f"{ks}.{t}": v for (ks, t), v in sorted(reads.items())},
        "writes": {f"{ks}.{t}": v for (ks, t), v in sorted(writes.items())},
        "sizes": {f"{ks}.{t}": v for (ks, t), v in sorted(size.items())},
        "total_reads": sum(reads.values()),
        "total_writes": sum(writes.values()),
        "total_size": sum(size.values()),
        "gc_events": len(pauses),
        "gc_pauses_over_threshold": sum(1 for p in pauses if p > TP["gcp_ms"]),
        "gc_p99_ms": p99,
        "gc_max_ms": pauses[-1],
        "tombstone_warnings": len(ts_events),
        "tombstone_tables": len({(k, t) for k, t, _, _ in ts_events}),
        "threshold_rows": thr,
        "warnings": warnings,
        "tab_rows": {
            "node_table": len(nodes) + 1,
            "workload": len(tables),
            "gc_pauses": 1 + len(gc_dcs) + len(gc_nodes),
            "tombstones": len({(k, t) for k, t, _, _ in ts_events}),
            "threshold_tabs": sum(thr.values()),
            "warnings": sum(len(v) for c in warnings.values() for v in c.values()),
            "proxy_histograms": len(dirs),
        },
    }


if __name__ == "__main__":
    root, seed = sys.argv[1], int(sys.argv[2])
    truth = generate(root, seed)
    with open(root.rstrip("/") + ".truth.json", "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)

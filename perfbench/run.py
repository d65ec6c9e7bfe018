#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload <cdc_stream|upsert_stream|curation_batch>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
harness with sbt (offline) into `target/` and `.perfbench/build/`; later
runs reuse the build while the sources are unchanged. Inputs are generated
from --seed under `.perfbench/work/<workload>/`, every output is checked
against the generator's manifest (streams) or the DuckDB oracle (batch),
and each metric is printed as `name value unit`. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"} holding the
end-to-end metrics with --trace 0 and the per-layer metrics with --trace 1.
A full record of the run (all metrics, spans when traced) is kept under
`.perfbench/runs/` for `perfbench/summary.py`.
"""
import argparse
import collections
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen

WORKLOADS = ("cdc_stream", "upsert_stream", "curation_batch")
# open-loop steady-phase rate (events/s) of both streams: about an eighth of
# cdc_stream's catch-up rate. A steady micro-batch costs 2-2.5 s whether it
# holds 600 or 3000 events, so latency barely depends on the rate, but
# per-event work lets a slow batch grow the next one: over five cdc_stream
# runs (15 s steady, two slots) the latency p50 spread 0.24 at 600 events/s
# and 0.17 at 300 (IQR / median).
RATE_EPS = 300
# Spark task slots per workload (capped at nproc). The streams get two, so
# the query, its RocksDB background work, collections and the generator fit
# a 4-core host without queueing: over five cdc_stream runs at 600 events/s
# the latency p50 spread 0.59 with four slots and 0.24 with two.
CORES = {"cdc_stream": 2, "upsert_stream": 2, "curation_batch": 4}
CORPUS = (1_000, 500)  # curation corpus: documents, embeddings
LATENCY_LIMIT_MS = 30_000  # LatencyDetector's end-to-end alert
RUN_LIMIT_S = 170  # whole run, build excluded
JVM_HEAP = "2g"  # fixed (-Xms = -Xmx), so peak RSS does not follow heap resizing

E2E_UNITS = {
    "setup_s": "s", "catchup_eps": "events/s", "latency_p50_ms": "ms", "latency_p99_ms": "ms",
    "pass_s": "s", "peak_rss_mb": "MB", "error_ratio": "ratio", "live_heap_peak_mb": "MB",
}
# error_ratio is 0 on a correct run; the JSON line carries it as attempted/failed
GATED_E2E = [k for k in E2E_UNITS if k not in ("error_ratio", "live_heap_peak_mb")]
FACES = ("d_ingest_index_capstone", "m_ingest_index_capstone", "d_neardup_indexed",
         "m_phash_clusters", "d_dsir_pipeline", "s_ann_pq_ivf")
LAYER_UNITS = {
    "engine.data_batches": "count", "engine.nodata_batches": "count",
    "engine.trigger_ms_p50": "ms", "engine.planning_ms_p50": "ms",
    "engine.offsets_ms_p50": "ms", "engine.commit_ms_p50": "ms",
    "stateful.state_rows_end": "count", "stateful.state_mb_end": "MB",
    "stateful.updates_ms_p50": "ms", "stateful.commit_ms_p50": "ms",
    "stateful.removals_ms_p50": "ms", "stateful.rocksdb_flush_ms": "ms",
    "stateful.rocksdb_compact_ms": "ms", "stateful.emit_ratio": "ratio",
    "connectors.source_rows": "count", "connectors.sink_ms_p50": "ms",
    "connectors.sink_files": "count", "connectors.sink_bytes": "bytes",
    "connectors.upsert_buckets_touched_p50": "count", "connectors.upsert_write_amp": "ratio",
    "parsers.rows_per_s": "rows/s", "parsers.dlq_rows": "count",
    "patterns.gate_rows_per_s": "rows/s", "patterns.dlq_rows": "count",
    "joins.enrich_rows_per_s": "rows/s",
    "tasks.cpu_ms": "ms", "tasks.gc_ms": "ms", "tasks.spill_bytes": "bytes",
    "exchange.shuffle_write_bytes": "bytes", "exchange.skew_max_over_median": "ratio",
    "scan.bytes": "bytes", "scan.files": "count", "driver.gap_ms": "ms",
    **{f"face.{f}.{m}": u for f in FACES
       for m, u in (("wall_s", "s"), ("jobs", "count"), ("driver_gap_ms", "ms"),
                    ("shuffle_bytes", "bytes"))},
    "gen.late_p99_ms": "ms", "latency_samples": "count", "jvm.live_heap_peak_mb": "MB",
}
# the per-layer metrics of BENCHMARK.json: upsert_stream is not among its
# workloads, so its joins and sink metrics are printed but not gated
UPSERT_ONLY = ("joins.enrich_rows_per_s", "connectors.upsert_buckets_touched_p50",
               "connectors.upsert_write_amp")
GATED_LAYERS = [k for k in LAYER_UNITS if k not in UPSERT_ONLY]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HERE = os.path.dirname(os.path.abspath(__file__))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))] if s else 0.0


# ---------------------------------------------------------------- build

def source_stamp(root):
    """Hash of every build input of the library and the harness."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src/main", "perfbench/harness"):
        found = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(root, top)) for f in fs]
        for p in sorted(found or [os.path.join(root, top)]):
            rel = os.path.relpath(p, root)
            if "target" in rel.split(os.sep) or rel.startswith("project/project"):
                continue
            if os.path.isfile(p) and p.endswith((".scala", ".java", ".sbt", ".properties")):
                h.update(rel.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile the library and the harness; return the runtime classpath."""
    out = os.path.join(root, ".perfbench", "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = source_stamp(root), os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building library and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench", "harness"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ---------------------------------------------------------------- processes

class Procs:
    """Every child process of the run; all are stopped and reaped on exit."""

    def __init__(self):
        self.ps = []

    def start(self, args, **kw):
        p = subprocess.Popen(args, stdin=subprocess.DEVNULL, **kw)
        self.ps.append(p)
        return p

    def wait(self, p, deadline):
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: {p.args[0]} did not finish in time")

    def stop_all(self):
        for p in self.ps:
            p.kill()
        for p in self.ps:
            p.wait()


def jvm(procs, cp, workload, work, trace, t0_ms, logf):
    # PERFBENCH_CORES=1 gives the single-threaded baseline run
    cores = int(os.environ.get("PERFBENCH_CORES", min(CORES[workload], os.cpu_count() or 1)))
    args = ["java"]
    for o in JDK_OPENS:
        args += ["--add-opens", f"{o}=ALL-UNNAMED"]
    args += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/jtmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness",
             "--workload", workload, "--work", work, "--cores", str(cores),
             "--trace", str(trace), "--t0-ms", str(t0_ms)]
    os.makedirs(f"{work}/jtmp")
    return procs.start(args, stdout=logf, stderr=subprocess.STDOUT)


# ---------------------------------------------------------------- checks

def duck():
    import duckdb
    return duckdb.connect()


def parquet_rows(con, pattern, cols):
    import glob
    if not glob.glob(pattern):
        return []
    return con.execute(
        f"SELECT {cols} FROM read_parquet('{pattern}', hive_partitioning=true, union_by_name=true)"
    ).fetchall()


def canon_payload(s):
    d = json.loads(s)
    d.pop("updatedAt", None)
    return json.dumps(d, sort_keys=True)


def check_cdc(work, h, g):
    con = duck()
    ends = {b["id"]: b["end_ms"] for b in h["batches"]}
    man = g["manifest"]
    good = parquet_rows(con, f"{work}/out/*/*.parquet",
                        "primaryKey, operation, payloadJson, epoch_us(eventTime), epoch")
    dlq = parquet_rows(con, f"{work}/dlq/*/*.parquet", "rawEvent, epoch")
    exp_good = collections.Counter((k, op, canon_payload(p)) for k, op, p in man["good"])
    got_good = collections.Counter((k, op, canon_payload(p)) for k, op, p, _, _ in good)
    exp_dlq, got_dlq = collections.Counter(man["dlq"]), collections.Counter(r for r, _ in dlq)
    wrong = sum(((exp_good - got_good) + (got_good - exp_good)).values()) + \
        sum(((exp_dlq - got_dlq) + (got_dlq - exp_dlq)).values())
    t_steady = g["steady_start_us"]
    stamps = {int(n): s for n, s in man["dlq_stamps"].items()}
    samples = [ends[e] - et / 1000 for _, _, _, et, e in good if et >= t_steady]
    for raw, e in dlq:
        s = stamps.get(json.loads(raw).get("n"))
        if s is not None and s >= t_steady:
            samples.append(ends[e] - s / 1000)
    late = sum(1 for x in samples if x > LATENCY_LIMIT_MS)
    counts = man["counts"]
    keyed = counts["plain"] + 2 * counts["dup"] + 2 * counts["unchanged"]
    extra = {"emit_ratio": len(good) / keyed if keyed else 0.0,
             "sink": [f"{work}/out", f"{work}/dlq"]}
    return wrong + late, samples, extra


def check_upsert(work, h, g):
    con = duck()
    ends = {b["id"]: b["end_ms"] for b in h["batches"]}
    man = g["manifest"]
    table = parquet_rows(con, f"{work}/table/*/*.parquet", "_id, doc, epoch_us(updated_at)")
    got = {k: [d, t] for k, d, t in table}
    exp = man["table"]
    wrong = sum(1 for k in exp.keys() | got.keys() if exp.get(k) != got.get(k))
    wrong += len(table) - len(got)  # a key stored twice
    gate = collections.Counter(
        t for (t,) in parquet_rows(con, f"{work}/table_gate_dlq/*/*.parquet", "errorType"))
    counts = man["counts"]
    # every malformed or _id-less envelope must be dead-lettered exactly once;
    # which error type it carries is reported, not gated (see README)
    wrong += abs(sum(gate.values()) - counts["malformed"] - counts["idless"])
    wrong += len(parquet_rows(con, f"{work}/table_dlq/*.parquet", "errorType"))
    fb = h["file_batch"]
    samples, missing = [], 0
    for i, (name, f) in enumerate(sorted(g["files"].items())):
        if i < g["backlog_files"]:
            continue
        if name not in fb:
            missing += f["events"]
            continue
        samples += [ends[fb[name]] - s / 1000 for s in f["stamps"]]
    late = sum(1 for x in samples if x > LATENCY_LIMIT_MS)
    return wrong + missing + late, samples, {
        "sink": [f"{work}/table", f"{work}/table_dlq", f"{work}/table_gate_dlq"],
        "dlq_parse_errors_expected": counts["malformed"],
        "dlq_parse_errors": gate["PARSING_ERROR"]}


def frame_hash(df):
    """Order-insensitive hash of a result: columns by name, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return hashlib.sha256(df.to_csv(index=False, float_format="%.17g").encode()).hexdigest()


def oracle_hashes(root, work, seed):
    """Hash of each face's oracle result, cached per seed, corpus size and SQL.
    Called after the harness JVM has exited, so it is outside every timed
    window."""
    cache_dir = os.path.join(root, ".perfbench", "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    con, hashes = None, {}
    for name, sql in json.load(open(f"{work}/oracle_sql.json")).items():
        key = hashlib.sha256(f"{seed}|{CORPUS}|{sql}".encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, f"{name}-{key}")
        if not os.path.exists(cached):
            if con is None:
                con = duck()
                for t in ("documents", "embeddings"):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/corpus/{t}.parquet')")
            with open(cached + ".tmp", "w") as fh:
                fh.write(frame_hash(con.sql(sql).df()))
            os.rename(cached + ".tmp", cached)
        hashes[name] = open(cached).read()
    return hashes


def check_curation(work, h, oracle):
    """Faces that failed or whose output hash differs from their oracle's."""
    import pandas as pd
    bad = []
    for f in h["faces"]:
        name = f["name"]
        if f["error"] is not None:
            bad.append(name)
            log(f"{name} failed: {f['error'][:300]}")
        elif frame_hash(pd.read_parquet(f"{work}/faces/{name}")) != oracle[name]:
            bad.append(name)
            log(f"{name}: output hash differs from the oracle's")
    return bad


# ---------------------------------------------------------------- metrics

def engine_layers(h):
    ran = h["batches"]
    data = [b for b in ran if b["rows"] > 0]

    def p50(f, bs=data):
        return statistics.median([f(b) for b in bs]) if bs else 0.0
    d = lambda b, *ks: sum(b["d"].get(k, 0) for k in ks)  # noqa: E731
    states = [b["state"] for b in ran if b.get("state")]
    last = states[-1] if states else None
    custom = lambda k: sum(s["custom"].get(k, 0) for s in states)  # noqa: E731
    out = {
        "engine.data_batches": len(data),
        "engine.nodata_batches": len(ran) - len(data),
        "engine.trigger_ms_p50": p50(lambda b: d(b, "triggerExecution")),
        "engine.planning_ms_p50": p50(lambda b: d(b, "queryPlanning")),
        "engine.offsets_ms_p50": p50(lambda b: d(b, "latestOffset", "getBatch")),
        "engine.commit_ms_p50": p50(lambda b: d(b, "walCommit", "commitOffsets")),
        "connectors.source_rows": sum(b["rows"] for b in ran),
        "connectors.sink_ms_p50": p50(lambda b: d(b, "addBatch")),
    }
    if last:
        ds = [b for b in data if b.get("state")]
        out.update({
            "stateful.state_rows_end": last["rows_total"],
            "stateful.state_mb_end": max(last["memory_bytes"], last["custom"].get("rocksdbSstFileSize", 0)) / 2**20,
            "stateful.updates_ms_p50": p50(lambda b: b["state"]["updates_ms"], ds),
            "stateful.commit_ms_p50": p50(lambda b: b["state"]["commit_ms"], ds),
            "stateful.removals_ms_p50": p50(lambda b: b["state"]["removals_ms"], ds),
            "stateful.rocksdb_flush_ms": custom("rocksdbCommitFlushLatency"),
            "stateful.rocksdb_compact_ms": custom("rocksdbCommitCompactLatency"),
        })
    return out


def dir_stats(dirs):
    files = size = 0
    for top in dirs:
        for d, _, fs in os.walk(top):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, f))
    return files, size


def run(workload, seed, seconds, trace, root):
    cp = build(root)
    t0 = time.time()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(root, ".perfbench", "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    procs = Procs()
    logf = open(os.path.join(work, "jvm.log"), "w")
    try:
        if workload == "curation_batch":
            gen.corpus(seed, f"{work}/corpus", *CORPUS)
            j = jvm(procs, cp, workload, work, trace, int(t0 * 1000), logf)
            rc = procs.wait(j, deadline)
        else:
            g = procs.start([sys.executable, os.path.join(HERE, "gen.py"), "stream", workload,
                             str(seed), work, str(RATE_EPS), str(seconds)])
            j = jvm(procs, cp, workload, work, trace, int(t0 * 1000), logf)
            rc = procs.wait(j, deadline)
            if rc == 0 and procs.wait(g, deadline) != 0:
                raise SystemExit("perfbench: generator failed")
    finally:
        procs.stop_all()
        logf.close()
    if rc != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    h = json.load(open(os.path.join(work, "harness.json")))

    if workload == "curation_batch":
        bad = check_curation(work, h, oracle_hashes(root, work, seed))
        # a face's latency: its call -> its complete result
        walls = {f["name"]: f["end_ms"] - f["start_ms"] for f in h["faces"]}
        ingest_s = (walls["d_ingest_index_capstone"] + walls["m_ingest_index_capstone"]) / 1000
        e2e = {
            "setup_s": (h["pass_start_ms"] - h["t0_ms"]) / 1000,
            # both ingest faces index every document
            "catchup_eps": 2 * CORPUS[0] / ingest_s,
            "latency_p50_ms": statistics.median(walls.values()),
            "latency_p99_ms": pct(walls.values(), 99),
            "pass_s": (h["pass_end_ms"] - h["pass_start_ms"]) / 1000,
            "peak_rss_mb": h["peak_rss_mb"],
        }
        attempted, failed, samples, late_p99 = len(h["faces"]), len(bad), list(walls.values()), 0.0
        extra = {}
    else:
        g = json.load(open(os.path.join(work, "gen_report.json")))
        check = check_cdc if workload == "cdc_stream" else check_upsert
        failed, samples, extra = check(work, h, g)
        e2e = {
            "setup_s": (h["query_start_ms"] - h["t0_ms"]) / 1000,
            "catchup_eps": h["catchup_events"] / ((h["catchup_end_ms"] - h["query_start_ms"]) / 1000),
            "latency_p50_ms": pct(samples, 50),
            "latency_p99_ms": pct(samples, 99),
            "pass_s": (h["drained_ms"] - h["query_start_ms"]) / 1000,
            "peak_rss_mb": h["peak_rss_mb"],
        }
        attempted, late_p99 = g["total_events"], pct(g["late_ms"], 99)
    e2e["error_ratio"] = failed / attempted
    e2e["live_heap_peak_mb"] = h["live_heap_peak_mb"]

    layers = {}
    if trace:
        layers = dict.fromkeys(LAYER_UNITS, 0.0)
        if workload != "curation_batch":
            layers.update(engine_layers(h))
            layers["connectors.sink_files"], layers["connectors.sink_bytes"] = dir_stats(extra["sink"])
            if "emit_ratio" in extra:
                layers["stateful.emit_ratio"] = extra["emit_ratio"]
        layers.update(h.get("layers", {}))
        layers["gen.late_p99_ms"] = late_p99
        layers["latency_samples"] = len(samples)
        layers["jvm.live_heap_peak_mb"] = h["live_heap_peak_mb"]

    notes = {"latency_samples": len(samples)}
    notes.update({k: v for k, v in extra.items() if k.startswith("dlq_")})
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "correct": failed == 0, "attempted": attempted, "failed": failed,
              "e2e": e2e, "notes": notes, "layers": layers, "started": t0}
    runs = os.path.join(root, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{workload}-s{seed}-t{trace}-{int(t0 * 1000)}"
    with open(os.path.join(runs, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if trace and os.path.exists(os.path.join(work, "spans.json")):
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(runs, tag + "-spans.json"))
        print(f"spans {os.path.join(runs, tag + '-spans.json')}")

    for k, v in e2e.items():
        print(f"{k} {v:.6g} {E2E_UNITS[k]}")
    for k, v in notes.items():
        if k not in layers:
            print(f"{k} {v} count")
    for k, v in layers.items():
        print(f"{k} {v:.6g} {LAYER_UNITS[k]}")
    chosen = ({k: (e2e[k], E2E_UNITS[k]) for k in GATED_E2E} if not trace
              else {k: (layers[k], LAYER_UNITS[k]) for k in GATED_LAYERS})
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))


def main():
    # a terminated run still stops and reaps its children (Procs.stop_all)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: run from the repository root (build.sbt and src/ not found)")
    run(a.workload, a.seed, a.seconds, a.trace, root)


if __name__ == "__main__":
    main()

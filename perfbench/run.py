#!/usr/bin/env python3
"""Benchmark of the trading pipeline: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness from source with sbt (the build is reused while no source changes).
The run generates its inputs from the seed, drives the workload through the
library's public entry points in one JVM, checks every output, and prints
one JSON object as the last line of standard output: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. See README.md.
"""
import argparse
import concurrent.futures
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("stream", "batch")
# Drain backlog: two small files (the harness's untimed warm-up batches:
# the cold start, then the JIT), then one file of DRAIN_TICKS_PER_FILE ticks
# per DRAIN_S_PER_FILE seconds of run length, and at least DRAIN_MIN_FILES
# of them, so the median over batches is steady.
DRAIN_TICKS_PER_FILE = 10000
DRAIN_S_PER_FILE = 1.4
DRAIN_MIN_FILES = 7
DRAIN_WARM_TICKS = (1000, 5000)
DB_COLUMNS = ["time", "symbol", "open", "high", "low", "close", "volume", "sma_20",
              "ema_10", "ema_20", "macd_line", "adx_14", "rsi_14", "stoch_k_14", "mfi_14",
              "bb_upper", "bb_lower", "atr_14", "obv", "vwap"]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------- build

def _source_digest():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HARNESS, "project")):
        files += [os.path.join(d, f) for f in os.listdir(d)
                  if f.endswith((".sbt", ".properties"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for dp, _, fs in os.walk(base):
            files += [os.path.join(dp, f) for f in fs]
    h = hashlib.sha1()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: no library sources beside the benchmark "
                 "(run from the root of a checkout)")
    stamp = os.path.join(HARNESS, "target", "perfbench-build.json")
    digest = _source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            st = json.load(f)
        if st["digest"] == digest and all(os.path.exists(p) for p in st["classpath"].split(":")):
            return st["classpath"]
    log("building library and harness with sbt")
    r = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=850)
    lines = r.stdout.splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit("perfbench: build failed")
    cp = cps[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


# ----------------------------------------------------------------- statistics

def median(values):
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------------ workloads

def generate(w, seed, seconds, inputs):
    if w == "stream":
        timed = max(DRAIN_MIN_FILES, int(round(seconds / DRAIN_S_PER_FILE)))
        gen.drain(seed, os.path.join(inputs, "drain"), timed,
                  DRAIN_TICKS_PER_FILE, DRAIN_WARM_TICKS)
        gen.live_warmup(seed, seconds, os.path.join(inputs, "live"))
    else:
        gen.backfill(seed, os.path.join(inputs, "history"))
        gen.tables(seed, os.path.join(inputs, "tables"))


def stream_batches(res, prefix):
    """(batch id, end ms, files) for every micro-batch that consumed files."""
    by_batch = {}
    for f, b in res["file_batch"].items():
        if f.startswith(prefix):
            by_batch.setdefault(b, []).append(f)
    ends = {int(k): v for k, v in res["batch_end_ms"].items()}
    return sorted((b, ends[b], fs) for b, fs in by_batch.items() if b in ends)


def _duck(work):
    import duckdb
    con = duckdb.connect()
    con.execute("SET temp_directory='%s'" % os.path.join(work, "duckdb"))
    con.execute("SET threads=4")
    return con


def stream_check(work, inputs, sink_sql, gated, consumed):
    """The sink against the generator's expected keys (one row per
    surviving post-warm-up tick, no duplicate key) and, for each symbol's
    first 60 ticks, every value against IndicatorPipeline.gated."""
    con = _duck(work)
    ids = ",".join(str(i) for i in consumed) or "NULL"
    con.execute("CREATE VIEW exp AS SELECT symbol, time_ms FROM read_parquet('%s') "
                "WHERE file_idx IN (%s)" % (os.path.join(inputs, "expected_keys.parquet"), ids))
    con.execute("CREATE VIEW sink AS " + sink_sql)
    con.execute("CREATE VIEW gated AS SELECT g.*, epoch_ms(g.time) AS time_ms "
                "FROM read_parquet('%s') g WHERE EXISTS (SELECT 1 FROM read_parquet('%s') r "
                "WHERE r.file_idx IN (%s) AND r.symbol = g.symbol "
                "AND r.timestamp = epoch_ms(g.time))"
                % (os.path.join(gated, "*.parquet"),
                   os.path.join(inputs, "ref_ticks.parquet"), ids))

    def one(sql):
        return con.execute(sql).fetchone()[0]
    keys = "SELECT DISTINCT symbol, time_ms FROM sink"
    same = " AND ".join("s.%s IS NOT DISTINCT FROM g.%s" % (c, c) for c in DB_COLUMNS[2:])
    rows = one("SELECT count(*) FROM sink")
    return {
        "sink_rows": rows,
        "duplicate_keys": rows - one("SELECT count(*) FROM (%s)" % keys),
        "missing": one("SELECT count(*) FROM (SELECT * FROM exp EXCEPT ALL %s)" % keys),
        "extra": one("SELECT count(*) FROM (%s EXCEPT ALL SELECT * FROM exp)" % keys),
        "checked_values": one("SELECT count(*) FROM gated"),
        "wrong_values": one(
            "SELECT count(*) FROM gated g LEFT JOIN sink s ON s.symbol = g.symbol "
            "AND s.time_ms = g.time_ms WHERE s.symbol IS NULL OR NOT (%s)" % same),
    }


def stream_failures(chk):
    return chk["missing"] + chk["extra"] + chk["duplicate_keys"] + chk["wrong_values"]


def _manifest(path):
    with open(os.path.join(path, "manifest.json")) as f:
        return json.load(f)


def drop_counts(res, planted):
    """What the engine dropped over every drain batch, from its progress:
    replays (the dedup's duplicates), too-late ticks (its watermark drops)
    and malformed lines (input rows that never reached the dedup), beside
    what the generator planted of each."""
    drain = [p for p in res["progress"] if p["stream"] == "drain" and p["input_rows"] > 0]
    ops = {k.split(".")[1] for p in drain for k in p if k.startswith("state.")}
    dedup = [o for o in ops if "dedup" in o.lower()]

    def total(k):
        return sum(p.get("state.%s.%s" % (dedup[0], k), 0.0) for p in drain) if dedup else 0.0
    rows_in = sum(p["input_rows"] for p in drain)
    dup, late = total("numDroppedDuplicateRows"), total("dropped_by_watermark")
    # every parsed tick is kept, dropped as a replay or dropped as late
    got = {"replays": dup, "too_late": late,
           "malformed": rows_in - total("rows_updated") - dup - late}
    return {k: {"dropped": v, "planted": planted[k]} for k, v in got.items()}, rows_in


def measure_stream(res, work, inputs):
    """Drain throughput, live tick latency, and both sinks' checks."""
    dm = _manifest(os.path.join(inputs, "drain"))
    lm = _manifest(os.path.join(inputs, "live"))
    dres, lres = res["drain"], res["live"]

    lines = {f["name"]: f["lines"] for f in dm["files"]}
    batches = stream_batches(dres, "part-")
    timed = batches[res["warm_batches"]["drain"]:]
    # each timed batch's rate: its lines over the time since the previous
    # batch ended (the first: since the backlog appeared, when the measured
    # phase began); the median over batches shrugs off one slow batch
    starts = [res["setup_end_ms"]] + [end for _, end, _ in timed[:-1]]
    rates = [sum(lines[n] for n in fs) * 1000.0 / (end - t)
             for t, (_, end, fs) in zip(starts, timed)]
    drain_left = sum(lines.values()) - sum(lines[n] for _, _, fs in batches for n in fs)
    dchk = stream_check(work, os.path.join(inputs, "drain"),
                        "SELECT *, epoch_ms(time) AS time_ms FROM read_parquet('%s')"
                        % os.path.join(work, "drain_sink", "*.parquet"),
                        os.path.join(work, "check", "drain_gated"), dres["consumed"])

    files = {f["name"]: f for f in lm["files"]}
    # per live micro-batch: the median and the largest latency of its ticks
    batch_p50, batch_max, consumed = [], [], 0
    for _, end, fs in stream_batches(lres, "l-"):
        lat = []
        for name in fs:
            lat += [end - files[name]["due_ms"]] * files[name]["lines"]
        batch_p50.append(median(lat))
        batch_max.append(max(lat))
        consumed += len(lat)
    live_left = sum(f["lines"] for f in lm["files"]) - consumed
    types = dict((c, "DOUBLE") for c in DB_COLUMNS[2:])
    types.update(time_ms="BIGINT", symbol="VARCHAR", volume="BIGINT", obv="BIGINT")
    cols = ", ".join("'%s': '%s'" % (c, types[c]) for c in ["time_ms"] + DB_COLUMNS[1:])
    lchk = stream_check(work, os.path.join(inputs, "live"),
                        "SELECT * FROM read_csv('%s', header=true, columns={%s})"
                        % (os.path.join(work, "check", "live_sink.csv"), cols),
                        os.path.join(work, "check", "live_gated"), lres["consumed"])

    # ticks land a micro-batch at a time, so a run holds about ten
    # independent latency samples: each figure is a median over batches
    e2e = {
        "latency_p50_ms": median(batch_p50),
        "latency_tail_ms": median(batch_max),
        "throughput_per_s": median(rates),
    }
    # a replay the dedup let through would leave no trace in the sinks
    # (they keep the first write), so every drop count is checked against
    # what was planted: each miscounted line is a failed op
    drops, _ = drop_counts(res, dm["counts"])
    miscounted = sum(abs(d["dropped"] - d["planted"]) for d in drops.values())
    failed = (stream_failures(dchk) + drain_left + stream_failures(lchk) + live_left
              + miscounted)
    chk = {"drain": dict(dchk, unconsumed=drain_left, drops=drops),
           "live": dict(lchk, unconsumed=live_left)}
    return e2e, dm["lines"] + lm["lines"], failed, chk, {"drain": dm, "live": lm}


def run_oracles(con, res, tables):
    """Each query's DuckDB oracle SQL (`SparkEntry.oracleSql`) over the
    generated tables, materialized as table `oracle_<query>`: {query: None,
    or the error as text}."""
    for t in os.listdir(tables):
        if t.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (t[:-8], os.path.join(tables, t)))
    sqls = res["oracle_sql"]

    def one(q):
        try:
            con.cursor().execute("CREATE TABLE oracle_%s AS %s" % (q, sqls[q]))
            return None
        except Exception as e:  # a failing oracle is a failed op
            return str(e)[:300]
    # side by side: a few window queries dominate
    with concurrent.futures.ThreadPoolExecutor(4) as pool:
        return dict(zip(sqls, pool.map(one, sqls)))


def oracle_check(con, res, work, oracles):
    """Each query's collected rows against its oracle's: the same column
    names, and the same rows in any order (equal as multisets)."""
    bad = dict(res["errors"])
    for q, err in sorted(oracles.items()):
        if q in bad:
            continue
        if err:
            bad[q] = err
            continue
        got = "read_parquet('%s')" % os.path.join(work, "check", "query", q, "*.parquet")
        try:
            gcols = sorted(r[0] for r in con.execute("DESCRIBE SELECT * FROM " + got).fetchall())
            ecols = sorted(r[0] for r in con.execute("DESCRIBE oracle_" + q).fetchall())
            if gcols != ecols:
                bad[q] = "columns %s != %s" % (gcols, ecols)
                continue
            sel = ", ".join('"%s"' % c for c in gcols)
            a = "SELECT %s FROM %s" % (sel, got)
            b = "SELECT %s FROM oracle_%s" % (sel, q)
            diff = sum(con.execute("SELECT count(*) FROM (%s EXCEPT ALL %s)" % pair).fetchone()[0]
                       for pair in ((a, b), (b, a)))
        except Exception as e:  # an unreadable or incomparable output is a failed op
            bad[q] = str(e)[:300]
            continue
        if diff:
            bad[q] = "%d rows differ" % diff
    return bad


def backfill_check(con, res, work):
    """The table equals IndicatorPipeline.full over window A, the re-land
    added no row, and every read returned what the table holds."""
    con.execute("CREATE VIEW ref AS SELECT * FROM read_parquet('%s')"
                % os.path.join(work, "check", "backfill_ref", "*.parquet"))
    con.execute("CREATE VIEW tbl AS SELECT %s FROM read_parquet('%s', hive_partitioning=true)"
                % (", ".join(DB_COLUMNS), os.path.join(res["table"], "*", "*.parquet")))

    def one(sql, *args):
        return con.execute(sql, list(args)).fetchone()[0]
    ref_rows = one("SELECT count(*) FROM ref")
    wrong = (one("SELECT count(*) FROM (SELECT * FROM ref EXCEPT ALL SELECT * FROM tbl)")
             + one("SELECT count(*) FROM (SELECT * FROM tbl EXCEPT ALL SELECT * FROM ref)"))
    landed, after = res["table_rows"]
    bad_reads = 0
    for r in res["reads"]:
        if r["kind"] == "range":
            want = one("SELECT count(*) FROM ref WHERE CAST(time AS DATE) BETWEEN "
                       "CAST(? AS DATE) AND CAST(? AS DATE)", r["from"], r["to"])
            bad_reads += r["rows"] != want
        else:
            want = dict(con.execute(
                "SELECT symbol, epoch_ms(max(time)) FROM ref WHERE CAST(time AS DATE) = "
                "CAST(? AS DATE) GROUP BY symbol", [r["from"]]).fetchall())
            bad_reads += r["rows"] != len(want) or r["latest"] != want
    return {"ref_rows": ref_rows, "landed_rows": landed, "wrong_rows": wrong,
            "reland_added_rows": after - landed, "reads": len(res["reads"]),
            "bad_reads": bad_reads}


def measure_batch(res, work, inputs):
    """Operation latencies; the backfill table and reads, and every query
    against its oracle."""
    con = _duck(work)
    chk = backfill_check(con, res, work)
    oracles = run_oracles(con, res, os.path.join(inputs, "tables"))
    bad = oracle_check(con, res, work, oracles)
    for q, why in bad.items():
        log("batch_mix: %s failed: %s" % (q, why))
    chk["bad_queries"] = len(bad)
    ms = [o["ms"] for o in res["ops"]]
    # about 17 operations: too few for a high percentile, so the tail is
    # the mean of the slowest quarter
    slow = sorted(ms)[-math.ceil(len(ms) / 4):]
    e2e = {
        "latency_p50_ms": median(ms),
        "latency_tail_ms": sum(slow) / len(slow),
        "throughput_per_s": len(ms) / (sum(ms) / 1000.0),
    }
    failed = (chk["wrong_rows"] + chk["reland_added_rows"] + chk["bad_reads"] + len(bad)
              + (chk["landed_rows"] != chk["ref_rows"]))
    attempted = chk["ref_rows"] + chk["reads"] + len(oracles)
    return e2e, attempted, failed, chk


# ---------------------------------------------------------------- per layer

def self_times(path):
    """Self time per layer: each span's duration minus the part of it its
    child spans cover."""
    if not os.path.exists(path):
        return {}
    spans = [json.loads(l) for l in open(path)]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                    for c in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
        if cur:
            covered += cur[1] - cur[0]
        key = "self.%s_ms" % s["layer"]
        out[key] = out.get(key, 0.0) + max(0.0, s["end_ms"] - s["start_ms"] - covered)
    return out


def stream_layers(m, res, manifests):
    """streaming.* from the engine's per-batch progress: the fixed
    per-batch phases from the live phase (small batches), state and
    throughput figures from the drain phase, exact counts over every drain
    batch."""
    prog = res.get("progress", [])

    def phase(name):
        return [p for p in prog if p["stream"] == name and p["input_rows"] > 0]

    def dur(ps, k):
        return median([p.get("dur." + k, 0.0) for p in ps])

    def state_sum(ps, suffix):
        return [sum(v for k, v in p.items() if k.startswith("state.") and k.endswith(suffix))
                for p in ps]

    warm = res["warm_batches"]
    live = [p for p in phase("live") if p["batch_id"] >= warm["live"]]
    drain = [p for p in phase("drain") if p["batch_id"] >= warm["drain"]]
    drain_all = phase("drain")
    m["streaming.batches"] = float(len(live) + len(drain))
    m["streaming.query_planning_ms"] = dur(live, "queryPlanning")
    m["streaming.wal_commit_ms"] = dur(live, "walCommit")
    m["streaming.commit_offsets_ms"] = dur(live, "commitOffsets")
    m["streaming.latest_offset_ms"] = dur(live, "latestOffset")
    m["streaming.state_commit_ms"] = median(state_sum(live, ".commit_ms"))
    m["streaming.add_batch_ms"] = dur(drain, "addBatch")
    m["streaming.state_all_updates_ms"] = median(state_sum(drain, ".all_updates_ms"))
    if not drain_all:
        return
    ops = sorted({k.split(".")[1] for p in drain_all for k in p if k.startswith("state.")})
    tws = [o for o in ops if "dedup" not in o.lower()]
    last = drain_all[-1]
    if tws:
        rows = last.get("state.%s.rows_total" % tws[0], 0.0)
        size = last.get("state.%s.rocksdbSstFileSize" % tws[0],
                        last.get("state.%s.memory_bytes" % tws[0], 0.0))
        m["streaming.state_rows_total"] = rows
        m["streaming.state_bytes_per_key"] = size / rows if rows else 0.0
    drops, rows_in = drop_counts(res, manifests["drain"]["counts"])
    sent = drops["replays"]["planted"]
    m["streaming.dedup_drop_ratio"] = drops["replays"]["dropped"] / sent if sent else 0.0
    m["streaming.rows_dropped_by_watermark"] = drops["too_late"]["dropped"]
    m["streaming.malformed_dropped"] = drops["malformed"]["dropped"]
    m["streaming.emit_ratio"] = res["layer"].get("streaming.emitted_rows", 0.0) / rows_in


def per_layer(names, res, manifests, work, e2e):
    lay = res.get("layer", {})
    m = {k: 0.0 for k in names}
    m.update((k, float(v)) for k, v in lay.items() if k in m)
    if "drain" in manifests:
        m["streaming.task_skew_max_over_median"] = float(
            lay.get("spark.task_skew_max_over_median", 0.0))
        stream_layers(m, res, manifests)
        m["gen.ticks"] = float(manifests["drain"]["lines"] + manifests["live"]["lines"])
        m["gen.lag_max_ms"] = float(manifests["live"]["lag_max_ms"])
    qs = [o["ms"] for o in res.get("ops", []) if o["op"].startswith("query.")]
    if qs:
        m["query.geomean_ms"] = math.exp(sum(math.log(v) for v in qs) / len(qs))
    m.update(self_times(os.path.join(work, "spans.jsonl")))
    m["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
    m["trace.throughput_per_s"] = e2e["throughput_per_s"]
    return m


# ----------------------------------------------------------------------- main

def run_jvm(cp, a, work, inputs):
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # a fixed heap, touched up front, is resident from the start, so RSS
    # growth does not vary with when the collector happens to grow the heap
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages",
            "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-cp", cp, "perfbench.Harness", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(a.cores),
            "--work", work, "--inputs", inputs]
    with open(os.path.join(work, "harness.log"), "w") as logf:
        return subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)


def main():
    # a terminated run still stops the processes it started (see `finally`)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1),
                    help="Spark local[N] (default: min(4, nproc))")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    cp = build()
    work = os.path.join(HERE, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "in")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(inputs)
    procs = []
    # the inputs and outputs of an incorrect run stay behind for a look
    keep = False
    try:
        # the JVM and session start while the inputs are generated; the
        # harness waits for `ready`
        t0 = time.time()
        jvm = run_jvm(cp, a, work, inputs)
        procs.append(jvm)
        generate(a.workload, a.seed, a.seconds, inputs)
        gen_s = time.time() - t0
        if a.workload == "stream":
            procs.append(subprocess.Popen(
                [sys.executable, os.path.join(HERE, "gen.py"), "live", str(a.seed),
                 str(a.seconds), os.path.join(inputs, "live")]))
        open(os.path.join(inputs, "ready"), "w").close()
        rc = jvm.wait(timeout=170)
        jvm_end = time.time()
        if rc != 0:
            with open(os.path.join(work, "harness.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.exit("perfbench: harness exited with %d" % rc)
        for p in procs:
            p.wait(timeout=30)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        manifests = {}
        if a.workload == "stream":
            e2e, attempted, failed, chk, manifests = measure_stream(res, work, inputs)
        else:
            e2e, attempted, failed, chk = measure_batch(res, work, inputs)
        # set-up: input generation, JVM and session start (side by side),
        # and the untimed warm-up work
        e2e["setup_s"] = res["setup_end_ms"] / 1000.0 - t0
        log("phases: gen %.2fs, jvm+session %.2fs, set-up %.2fs, "
            "measured %.2fs, harness after it %.2fs, checks %.2fs"
            % (gen_s, res["session_ready_ms"] / 1000.0 - t0, e2e["setup_s"],
               (res["measure_end_ms"] - res["setup_end_ms"]) / 1000.0,
               jvm_end - res["measure_end_ms"] / 1000.0, time.time() - jvm_end))
        log("check: " + json.dumps(chk))
        # the heap is fixed and touched at start: only what grows beyond
        # the JVM's start-up footprint can move
        e2e["rss_growth_mb"] = res["peak_rss_mb"] - res["start_rss_mb"]
        declared = bench["per_layer" if a.trace else "end_to_end"]
        values = (per_layer([d["name"] for d in declared], res, manifests, work, e2e)
                  if a.trace else e2e)
        metrics = {d["name"]: {"value": values[d["name"]], "unit": d["unit"]} for d in declared}
        keep = failed != 0
        if keep:
            log("incorrect: inputs and outputs kept in " + work)
        print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
        if not keep:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run's work directory is still there
                pass


if __name__ == "__main__":
    main()

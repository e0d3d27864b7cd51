"""Seeded input generator for the benchmark workloads.

Every input the program sees is written here from `--seed`; the same seed
(and run length) gives byte-identical files.  Besides the inputs, each
generator writes what the correctness checks and the exact per-layer counts
need: the ticks it planted of every kind, the sink keys a correct pipeline
must produce, and each symbol's first 60 surviving ticks (the regime in
which the streaming indicators must equal `IndicatorPipeline.gated`).

`python3 gen.py live <seed> <seconds> <dir>` is the open-loop live feed: a
separate process that writes tick files on a wall-clock schedule and never
waits for the system under test.
"""
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_MS = 1704153600000            # 2024-01-02T00:00:00Z
WARMUP_ROWS = 26                 # Model.WarmupRows: first emitting rank
LOOKBACK = 60                    # Model.LookbackRows: checked regime
WATERMARK_MS = 10 * 60 * 1000    # StreamIngest.dedupWithinWatermark default


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _line(sym, cents, ts):
    return '{"symbol":"S%04d","price":%d.%02d,"timestamp":%d}' % (
        sym, cents // 100, cents % 100, ts)


def _write_lines(path, lines):
    # written beside the watched directory and renamed in, so the file
    # source never lists a half-written file
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)), os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, path)


def _keys_table(rows):
    file_idx, sym, ts = zip(*rows) if rows else ((), (), ())
    return pa.table({
        "file_idx": pa.array(file_idx, pa.int32()),
        "symbol": pa.array(["S%04d" % s for s in sym], pa.string()),
        "time_ms": pa.array(ts, pa.int64())})


def _ref_table(rows):
    file_idx, sym, ts, cents = zip(*rows) if rows else ((), (), (), ())
    return pa.table({
        "file_idx": pa.array(file_idx, pa.int32()),
        "symbol": pa.array(["S%04d" % s for s in sym], pa.string()),
        "timestamp": pa.array(ts, pa.int64()),
        "price": pa.array([c / 100.0 for c in cents], pa.float64())})


# ---------------------------------------------------------------- tick_drain

def drain(seed, out, n_timed, ticks_per_file, warm_ticks, symbols=2000, zipf_s=1.05,
          replay_p=0.02, ooo_p=0.01, late_p=0.005, malformed_p=0.005):
    """Backlog of JSON-lines files, one micro-batch each: one file per
    entry of `warm_ticks` (the untimed warm-up batches, in `ticks/`, where
    the stream starts) holding that many base ticks, then `n_timed` files of
    `ticks_per_file` (in `backlog/`, moved into `ticks/` when the measured
    phase starts).

    Base ticks follow one global clock (even ms, strictly rising), so they
    are in order per symbol; symbols are Zipf-skewed.  Mixed in at fixed
    shares:
      - replays: byte-identical copies of a recent base tick (dropped by the
        watermark dedup);
      - out-of-order ticks: odd-ms timestamps older than the symbol's newest
        tick of an earlier file, inside the watermark, only for symbols
        already past their first 60 ticks (they reach the state but add no
        sink key, and leave the checked regime untouched);
      - too-late ticks: two to three hours behind the clock, from the third
        file on (dropped by the watermark, which the dedup operator applies
        to late rows one batch behind);
      - malformed lines (dropped by the parser).
    """
    rng = _rng(seed, 1)
    for d in ("ticks", "backlog"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    w = 1.0 / np.arange(1, symbols + 1) ** zipf_s
    per_file = list(warm_ticks) + [ticks_per_file] * n_timed
    n_files = len(per_file)
    n_base = sum(per_file)
    base_sym = rng.choice(symbols, size=n_base, p=w / w.sum())
    base_ts = T0_MS + np.cumsum(rng.integers(1, 6, size=n_base) * 2)
    steps = rng.integers(-25, 26, size=n_base)
    kind_u = rng.random(n_base)
    aux = rng.integers(0, 1 << 30, size=(n_base, 3))

    cents = 10000 + (np.arange(symbols) * 37) % 5000
    cents = cents.astype(np.int64)
    rank = np.zeros(symbols, np.int64)
    last_ts = np.zeros(symbols, np.int64)
    prev_rank = rank.copy()
    prev_last = last_ts.copy()
    ooo_used = set()
    recent = []
    counts = {"base": 0, "replays": 0, "ooo": 0, "too_late": 0, "malformed": 0}
    exp_keys, ref, files = [], [], []
    emitted = 0
    b = 0
    for fi in range(n_files):
        lines = []
        fc = dict.fromkeys(counts, 0)
        done = np.flatnonzero(prev_rank >= LOOKBACK)
        for _ in range(per_file[fi]):
            s = int(base_sym[b])
            ts = int(base_ts[b])
            c = max(100, int(cents[s]) + int(steps[b]))
            cents[s] = c
            line = _line(s, c, ts)
            lines.append(line)
            recent.append(line)
            if len(recent) > 200:
                recent.pop(0)
            rank[s] += 1
            last_ts[s] = ts
            fc["base"] += 1
            if rank[s] >= WARMUP_ROWS:
                exp_keys.append((fi, s, ts))
                emitted += 1
            if rank[s] <= LOOKBACK:
                ref.append((fi, s, ts, c))
            u = kind_u[b]
            a0, a1, a2 = (int(x) for x in aux[b])
            if u < replay_p:
                lines.append(recent[-1 - a0 % len(recent)])
                fc["replays"] += 1
            elif u < replay_p + ooo_p:
                # a symbol that finished its checked regime before this file
                o = int(done[a1 % len(done)]) if len(done) else 0
                ots = int(prev_last[o]) - 1 - 2 * (a0 % 30000)
                if (len(done) and ots > ts - WATERMARK_MS + 60000
                        and (o, ots) not in ooo_used):
                    ooo_used.add((o, ots))
                    lines.append(_line(o, 100 + a2 % 20000, ots))
                    fc["ooo"] += 1
                    emitted += 1
            elif u < replay_p + ooo_p + late_p:
                if fi > 1:
                    lts = ts - 2 * 3600 * 1000 - 2 * (a0 % 1800000) - 1
                    lines.append(_line(a1 % symbols, 100 + a2 % 20000, lts))
                    fc["too_late"] += 1
            elif u < replay_p + ooo_p + late_p + malformed_p:
                m = a0 % 4
                if m == 0:
                    lines.append(line[: len(line) // 2])
                elif m == 1:
                    lines.append("tick S%04d %d" % (s, ts))
                elif m == 2:
                    lines.append('{"symbol":"S%04d","price":null,"timestamp":%d}' % (s, ts))
                else:
                    lines.append('{"symbol":"S%04d","price":1.5}' % s)
                fc["malformed"] += 1
            b += 1
        name = "part-%05d.jsonl" % fi
        path = os.path.join(out, "ticks" if fi < len(warm_ticks) else "backlog", name)
        _write_lines(path, lines)
        # the file source orders a backlog by modification time
        os.utime(path, (1700000000 + fi, 1700000000 + fi))
        files.append(dict(fc, name=name, lines=len(lines)))
        for k in counts:
            counts[k] += fc[k]
        prev_rank = rank.copy()
        prev_last = last_ts.copy()
    pq.write_table(_keys_table(exp_keys), os.path.join(out, "expected_keys.parquet"))
    pq.write_table(_ref_table(ref), os.path.join(out, "ref_ticks.parquet"))
    manifest = {"files": files, "counts": counts, "emitted": emitted,
                "lines": sum(f["lines"] for f in files)}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


# ----------------------------------------------------------------- live_feed

LIVE_SYMBOLS = 1000
LIVE_WARM_TICKS = 26
LIVE_FILES_PER_S = 10
LIVE_WARM_BASE_MS = T0_MS


def _live_walk(seed, n_ticks):
    """Per-symbol price paths in cents, shape (n_ticks, LIVE_SYMBOLS)."""
    rng = _rng(seed, 2)
    start = 10000 + (np.arange(LIVE_SYMBOLS) * 37) % 5000
    steps = rng.integers(-25, 26, size=(n_ticks, LIVE_SYMBOLS))
    return np.maximum(100, start + np.cumsum(steps, axis=0))


def live_warmup(seed, seconds, out):
    """The backlog the stream starts on: LIVE_WARM_TICKS ticks per symbol,
    one second apart and older than any live tick, so every live tick lands
    past the 26-row warm-up and inside the checked 60-row regime (and the
    warm-up batch already emits, one row per symbol)."""
    walk = _live_walk(seed, LIVE_WARM_TICKS + seconds)
    os.makedirs(os.path.join(out, "ticks"), exist_ok=True)
    lines = [_line(s, int(walk[k, s]), LIVE_WARM_BASE_MS + k * 1000 + s)
             for k in range(LIVE_WARM_TICKS) for s in range(LIVE_SYMBOLS)]
    _write_lines(os.path.join(out, "ticks", "w-00000.jsonl"), lines)


def live_run(seed, seconds, out):
    """Open loop: file i is due at start + i/LIVE_FILES_PER_S s and carries
    one tick for each symbol s with s % LIVE_FILES_PER_S == i % LIVE_FILES_PER_S
    (so every symbol ticks once a second), stamped with the due time. The
    schedule never waits for the consumer; lateness is recorded."""
    walk = _live_walk(seed, LIVE_WARM_TICKS + seconds)
    go = os.path.join(out, "go")
    # the run that started this feed may die before it says go
    give_up = time.time() + 300
    while not os.path.exists(go):
        if time.time() > give_up:
            sys.exit("live feed: no go within 300 s")
        time.sleep(0.005)
    period = 1000 // LIVE_FILES_PER_S
    start = int(time.time() * 1000) + 50
    files = []
    lag_max = 0
    n = seconds * LIVE_FILES_PER_S
    for i in range(n):
        due = start + i * period
        wait = due / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        lag_max = max(lag_max, int(time.time() * 1000) - due)
        k = LIVE_WARM_TICKS + i // LIVE_FILES_PER_S
        lines = [_line(s, int(walk[k, s]), due)
                 for s in range(i % LIVE_FILES_PER_S, LIVE_SYMBOLS, LIVE_FILES_PER_S)]
        name = "l-%05d.jsonl" % i
        _write_lines(os.path.join(out, "ticks", name), lines)
        files.append({"name": name, "due_ms": due, "lines": len(lines)})
    # keys and reference ticks: every symbol stays inside 60 ticks
    exp_keys, ref = [], []
    for k in range(LIVE_WARM_TICKS):
        for s in range(LIVE_SYMBOLS):
            ts = LIVE_WARM_BASE_MS + k * 1000 + s
            ref.append((-1, s, ts, int(walk[k, s])))
            if k + 1 >= WARMUP_ROWS:
                exp_keys.append((-1, s, ts))
    for i, f in enumerate(files):
        k = LIVE_WARM_TICKS + i // LIVE_FILES_PER_S
        for s in range(i % LIVE_FILES_PER_S, LIVE_SYMBOLS, LIVE_FILES_PER_S):
            ref.append((i, s, f["due_ms"], int(walk[k, s])))
            exp_keys.append((i, s, f["due_ms"]))
    pq.write_table(_keys_table(exp_keys), os.path.join(out, "expected_keys.parquet"))
    pq.write_table(_ref_table(ref), os.path.join(out, "ref_ticks.parquet"))
    manifest = {"files": files, "lag_max_ms": lag_max,
                "warm_lines": LIVE_WARM_TICKS * LIVE_SYMBOLS,
                "lines": LIVE_WARM_TICKS * LIVE_SYMBOLS + sum(f["lines"] for f in files)}
    tmp = os.path.join(out, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(out, "manifest.json"))


# ------------------------------------------------------------------ backfill

def _events(rng, n, symbols, start_ms, span_ms):
    ts_ms = np.sort(rng.integers(start_ms, start_ms + span_ms, size=n))
    sym = rng.integers(0, symbols, size=n)
    # a per-symbol random walk in cents keeps bars and indicators realistic
    order = np.lexsort((ts_ms, sym))
    steps = rng.integers(-30, 31, size=n)
    walk = np.empty(n, np.int64)
    base = 2000 + (np.arange(symbols) * 53) % 20000
    s_sorted = sym[order]
    cs = np.cumsum(steps[order])
    first = np.r_[0, np.flatnonzero(np.diff(s_sorted)) + 1]
    offs = np.repeat(cs[first] - steps[order][first],
                     np.diff(np.r_[first, n]))
    walk[order] = np.maximum(1, base[s_sorted] + cs - offs)
    types = np.array(["click", "view", "purchase", "signup", "error"])
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts_ms.astype("datetime64[ms]").astype("datetime64[us]"),
        "user_id": sym.astype(np.int64),
        "event_type": types[rng.integers(0, 5, size=n)],
        "value": walk / 100.0,
        "props": np.array(['{"k": %d}' % k for k in rng.integers(0, 100, size=n)]),
    }


def _write_events(path, cols, mask=None):
    os.makedirs(path, exist_ok=True)
    t = pa.table({k: (v if mask is None else v[mask]) for k, v in cols.items()})
    pq.write_table(t, os.path.join(path, "events.parquet"))
    return t.num_rows


def backfill(seed, out, symbols=40, days=45, events_per_day=600):
    """Multi-month events history (window A) and a re-landed window B that
    lies wholly inside A (its last 10 days), so every key B produces is
    already in the table."""
    rng = _rng(seed, 3)
    span = days * 86400000
    cols = _events(rng, days * events_per_day, symbols, T0_MS - span, span)
    ts_ms = cols["ts"].astype("datetime64[ms]").astype(np.int64)
    n_a = _write_events(os.path.join(out, "A"), cols)
    n_b = _write_events(os.path.join(out, "B"), cols, ts_ms >= T0_MS - 10 * 86400000)
    first_day = (T0_MS - span) // 86400000
    manifest = {"events_a": n_a, "events_b": n_b, "first_day": int(first_day),
                "days": days}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


# ----------------------------------------------------------------- query_mix

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def tables(seed, out, events=100000, symbols=1500, docs=5000, vecs=2000,
           orders=150000, custs=15000, supps=1000, parts=20000):
    """The tables the query mix reads, in the shape of the TPC-H-ish star
    schema plus events/documents/embeddings the library's queries expect."""
    rng = _rng(seed, 4)
    os.makedirs(out, exist_ok=True)
    span = 30 * 86400000
    ev = _events(rng, events, symbols, T0_MS, span)
    pq.write_table(pa.table(ev), os.path.join(out, "events.parquet"))

    langs = np.array(["en", "en", "en", "zh", "es", "de", "fr"])
    texts = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), size=n)))
    pq.write_table(pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), size=docs)],
        "source": np.array(["src%d" % (i % 20) for i in range(docs)]),
        "n_chars": np.array([len(t) for t in texts], np.int64),
    }), os.path.join(out, "documents.parquet"))

    emb = rng.normal(size=(vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, size=vecs).astype(np.int32),
    }), os.path.join(out, "embeddings.parquet"))

    day0 = np.datetime64("1995-01-01", "us")
    pq.write_table(pa.table({
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, custs, size=orders).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, size=orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, size=orders), 2),
        "o_orderdate": day0 + rng.integers(0, 2400, size=orders) * np.timedelta64(86400000000, "us"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, size=orders)],
    }), os.path.join(out, "orders.parquet"))
    n_li = orders * 4
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    pq.write_table(pa.table({
        "l_orderkey": rng.integers(0, orders, size=n_li).astype(np.int64),
        "l_partkey": rng.integers(0, parts, size=n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, supps, size=n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, size=n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, size=n_li), 2),
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, size=n_li)],
        "l_shipdate": day0 + rng.integers(0, 2500, size=n_li) * np.timedelta64(86400000000, "us"),
    }), os.path.join(out, "lineitem.parquet"))


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "live":
        live_run(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
    else:
        sys.exit("usage: gen.py live <seed> <seconds> <dir>")

#!/usr/bin/env python3
"""The benchmark of the ingest pipeline and the batch query surface.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each exists):
  ingest_backlog  closed-loop drain of a capture written before the start
  batch_surface   a fixed sample of SparkEntry.queries, each run once, cold
  ingest_live     open loop at 500 rows/s from a separate generator process
                  (runs the same way; not in BENCHMARK.json, too noisy to gate)

The program is built from the checkout's own sources (sbt, first run only),
driven through `StreamCli.run` / `SparkEntry.queries` by the harness JVM,
and its outputs are checked against a reference computation: the frame
generator's expected rows for ingest, DuckDB's oracle twin row counts for
the batch surface.  The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with every end-to-end metric
(--trace 0) or every per-layer metric (--trace 1) of BENCHMARK.json.
"""
import argparse
import collections
import csv
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_frames  # noqa: E402

RUNS = os.path.join(HERE, ".runs")
CP_FILE = os.path.join(HERE, "target", "bench.classpath")
JVM_TIMEOUT_S = 150
JVM_HEAP = "2g"
BACKLOG_FRAMES_PER_S = 800  # WS frames per exchange per measured second
LIVE_RATE = 500.0          # rows/s: the reference's sink design rate
LIVE_WARM_S = 6.0          # schedule head excluded from the steady phase
LIVE_BUSY_BATCHES = 3      # steady micro-batches summed into batch_total_s
LIVE_P99_LIMIT_MS = 5000   # latency limit: the reference flushes PG every 1 s
BACKLOG_WARM_BATCHES = 1   # drain batches excluded from the throughput
BATCH_SF = 0.005
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]



def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# -- build ------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"),
                             recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*"),
                             recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for p in files:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program plus the harness; return the runtime classpath."""
    for need in ("src/main/scala/graft/StreamCli.scala",):
        if not os.path.isfile(os.path.join(ROOT, need)):
            raise SystemExit("perfbench: program sources not found at %s"
                             % os.path.join(ROOT, need))
    stamp = source_stamp()
    if os.path.isfile(CP_FILE):
        with open(CP_FILE) as f:
            saved = f.read().split("\n", 1)
        if len(saved) == 2 and saved[0] == stamp:
            return saved[1].strip()
    log("building program and harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-2000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CP_FILE), exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def java(cp, run_dir, args, name, wait=True):
    """Start the harness JVM with its working and temp dirs in `run_dir`."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size keeps the resident set independent of when G1
    # decides to grow the heap
    cmd = ["java", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-XX:+UseG1GC",
           "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dderby.stream.error.file=" + os.path.join(run_dir, "derby.log"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness"] + args
    logf = open(os.path.join(run_dir, name + ".log"), "w")
    launch = time.time()
    p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    p.launch_ms = launch * 1000.0
    p.logf = logf
    if wait:
        finish(p, name)
    return p


def finish(p, name, timeout=JVM_TIMEOUT_S):
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("perfbench: %s timed out" % name)
    finally:
        p.logf.close()
    if p.returncode != 0:
        raise SystemExit("perfbench: %s exited with %d (see %s.log)"
                         % (name, p.returncode, name))


def read_json(path):
    with open(path) as f:
        return json.load(f)


# -- statistics ---------------------------------------------------------------

def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 400):
        for aa in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) +
                     a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def pct(values, q):
    """Percentile q in [0, 100]. Samples of up to 1000 values use the
    Harrell-Davis estimator, a weighted mean of all order statistics: the
    plain order statistic of a small sample jumps whenever two values near
    the percentile swap places (query times cluster, so a p50 over a few
    dozen queries flips between clusters from run to run). Larger samples
    use linear interpolation, which Harrell-Davis converges to."""
    v = sorted(values)
    n = len(v)
    if not n:
        return float("nan")
    p = q / 100.0
    if n > 1000:
        k = (n - 1) * p
        lo = int(k)
        hi = min(lo + 1, n - 1)
        return v[lo] + (v[hi] - v[lo]) * (k - lo)
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * v[i] for i in range(n))


# -- ingest -------------------------------------------------------------------

def row_key(ex, mk, sym, side, qty, price, notional, ts):
    return (ex, mk, sym, side or None, float(qty), float(price),
            None if notional in (None, "", "\\N") else float(notional),
            None if ts in (None, "", "\\N") else int(ts))


def read_csv_rows(out_dir):
    rows = collections.Counter()
    for path in glob.glob(os.path.join(out_dir, "csv", "*", "*.csv")):
        with open(path, newline="") as f:
            for r in csv.DictReader(f, escapechar="\\", doublequote=False):
                rows[row_key(r["exchange"], r["market"], r["symbol"], r["side"],
                             r["qty"], r["price"], r["notional"],
                             r["ts_exch_ms"])] += 1
    return rows


def read_derby_rows(run_dir):
    rows, by_batch = collections.Counter(), collections.defaultdict(list)
    with open(os.path.join(run_dir, "derby_rows.tsv")) as f:
        for line in f:
            b, ex, mk, sym, side, qty, price, notional, ts = \
                line.rstrip("\n").split("\t")
            k = row_key(ex, mk, sym, None if side == "\\N" else side, qty,
                        price, notional, ts)
            rows[k] += 1
            by_batch[int(b)].append(k)
    return rows, by_batch


def check_sinks(expected, csv_rows, pg_rows):
    """Every expected row exactly once in each sink, nothing else."""
    exp = collections.Counter(
        row_key(*r) for rows in expected.values() for r in rows)
    failed = 0
    for k in set(exp) | set(csv_rows) | set(pg_rows):
        e = exp.get(k, 0)
        failed += max(abs(e - csv_rows.get(k, 0)), abs(e - pg_rows.get(k, 0)))
    sums = {}
    for (ex, mk), rows in expected.items():
        def agg(keys):
            return {"rows": len(keys),
                    "long": sum(1 for k in keys if k[3] == "long"),
                    "short": sum(1 for k in keys if k[3] == "short"),
                    "sum_qty": round(sum(k[4] for k in keys), 6),
                    "sum_notional": round(sum(k[6] or 0.0 for k in keys), 4)}
        sums["%s:%s" % (ex, mk)] = {
            "expected": agg([row_key(*r) for r in rows]),
            "csv": agg([k for k, n in csv_rows.items()
                        if k[:2] == (ex, mk) for _ in range(n)]),
            "pg": agg([k for k, n in pg_rows.items()
                       if k[:2] == (ex, mk) for _ in range(n)])}
    def same(a, b):
        return all(abs(a[k] - b[k]) <= 1e-9 * max(1.0, abs(a[k])) for k in a)
    checks_ok = all(same(v["expected"], v["csv"]) and same(v["expected"], v["pg"])
                    for v in sums.values())
    return sum(exp.values()), failed, checks_ok, sums


def batches_of(res):
    out = []
    for p in sorted(res["progress"], key=lambda p: p["batchId"]):
        start = parse_iso_ms(p["timestamp"])
        d = p["durationMs"]
        out.append({"id": p["batchId"], "start": start,
                    "end": start + d.get("triggerExecution", 0),
                    "dur": d.get("triggerExecution", 0), "p": p})
    return out


def parse_iso_ms(s):
    # 2026-10-17T09:12:34.567Z
    t = time.strptime(s[:19], "%Y-%m-%dT%H:%M:%S")
    ms = int(s[20:23]) if len(s) > 20 else 0
    return (time.mktime(t) - time.timezone) * 1000.0 + ms


def ingest(args, cp, run_dir, live):
    frames = os.path.join(run_dir, "frames")
    os.makedirs(frames)
    seconds = args.seconds
    now_ms = int(time.time() * 1000)
    gen_frames.write_live_warmup(args.seed + 1, os.path.join(run_dir, "warm"),
                                 now_ms - 10000)
    if live:
        expected = gen_frames.write_live_warmup(args.seed, frames, now_ms - 5000)
    else:
        n = int(BACKLOG_FRAMES_PER_S * seconds)
        expected = gen_frames.write_backlog(args.seed, frames, n,
                                            hl_lines=n // 2)
    res_path = os.path.join(run_dir, "result.json")
    started = os.path.join(run_dir, "started.flag")

    def jargs(d):
        return ["--mode", "ingest", "--run-dir", d,
                "--frames", os.path.join(d, "frames"),
                "--master", args.master, "--trace", str(args.trace)]

    gen = None
    if live:
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen_frames.py"), "live",
             "--seed", str(args.seed), "--root", frames,
             "--rate", str(LIVE_RATE), "--seconds", str(seconds + LIVE_WARM_S),
             "--start-flag", started,
             "--out-prefix", os.path.join(run_dir, "live")],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=open(os.path.join(run_dir, "gen.log"), "w"))
    try:
        p = java(cp, run_dir, jargs(run_dir) + [
            "--warmup", os.path.join(run_dir, "warm"), "--result", res_path,
            "--started-flag", started], "ingest", wait=False)
        finish(p, "ingest", timeout=JVM_TIMEOUT_S)
        log("program JVM: %.1f s" % (time.time() - p.launch_ms / 1000.0))
        if gen:
            gen.wait(timeout=30)
            if gen.returncode != 0:
                raise SystemExit("perfbench: live generator failed")
    finally:
        if gen and gen.poll() is None:
            gen.kill()
            gen.wait()
    res = read_json(res_path)
    gen_info = None
    if live:
        for k, v in gen_frames.load_expected(
                os.path.join(run_dir, "live.expected.jsonl")).items():
            expected.setdefault(k, []).extend(v)
        gen_info = read_json(os.path.join(run_dir, "live.gen.json"))
    main_setup = (res["ready_ms"] - p.launch_ms) / 1000.0
    csv_rows = read_csv_rows(os.path.join(run_dir, "out"))
    pg_rows, by_batch = read_derby_rows(run_dir)
    attempted, failed, sums_ok, sums = check_sinks(expected, csv_rows, pg_rows)
    batches = batches_of(res)
    end_of = {b["id"]: b["end"] for b in batches}
    data_batches = [b for b in batches if by_batch.get(b["id"])]
    weather = {"cpus": res["cpus"], "load_start": res["load_start"],
               "load_end": res["load_end"]}
    out = {"attempted": attempted, "failed": failed,
           "setup_split": setup_split(p, res),
           "correct": failed == 0 and sums_ok and
           res["csv_rows"] == res["pg_rows"] == attempted,
           "checksums": sums, "weather": weather,
           "batches": len(batches), "data_batches": len(data_batches)}
    if not data_batches:
        raise SystemExit("perfbench: no micro-batch committed any row")
    if live:
        t_warm = gen_info["t0_ms"] + LIVE_WARM_S * 1000.0
        t_end = gen_info["end_ms"]
        lat = [end_of[b] - k[7] for b, keys in by_batch.items() for k in keys
               if k[7] is not None and t_warm <= k[7] < t_end]
        first = max(1, next(i for i, b in enumerate(data_batches)
                            if b["end"] >= t_warm))
        steady = [b for b in data_batches[first:] if b["end"] < t_end]
        steady_rows = sum(len(by_batch[b["id"]]) for b in steady)
        rows_per_s = steady_rows / (
            (steady[-1]["end"] - data_batches[first - 1]["end"]) / 1000.0)
        lag = [ws_lag(b["p"]) for b in steady]
        third = max(1, len(lag) // 3)
        lag_grows = statistics.mean(lag[-third:]) > \
            2 * statistics.mean(lag[:third]) + 100 if lag else False
        p99 = pct(lat, 99)
        out["live"] = {
            "latency_samples": len(lat), "steady_batches": len(steady),
            "p99_limit_ms": LIVE_P99_LIMIT_MS,
            "lag_grows": lag_grows,
            "sustainable": p99 <= LIVE_P99_LIMIT_MS and not lag_grows,
            "offered_rows_per_s": LIVE_RATE}
        weather["generator_lateness_p99_ms"] = pct(gen_info["lateness_ms"], 99)
        # busy time of a fixed number of steady batches: batches run back to
        # back here, so a sum over the whole window would only restate it
        busy = sum(b["dur"] for b in steady[:LIVE_BUSY_BATCHES]) / 1000.0
        durs = [b["dur"] / 1000.0 for b in steady]
    else:
        t0 = res["run_start_ms"]
        lat = [end_of[b] - t0 for b, keys in by_batch.items() for _ in keys]
        warm = min(BACKLOG_WARM_BATCHES, len(data_batches) - 2)
        steady = data_batches[warm:]
        rows_per_s = statistics.median(
            len(by_batch[b["id"]]) / (b["dur"] / 1000.0) for b in steady)
        busy = (data_batches[-1]["end"] - t0) / 1000.0
        durs = [b["dur"] / 1000.0 for b in data_batches]
        out["backlog"] = {"rows": attempted, "steady_batches": len(steady),
                          "warm_batches": warm}
    out["latency_samples"] = len(lat)
    out["listener_ms"] = res["listener_ms"]
    out["metrics"] = {
        "setup_s": (main_setup, "s"),
        "rss_peak_mb": (res["rss_peak_kb"] / 1024.0, "MB"),
        "ingest_rows_per_s": (rows_per_s, "rows/s"),
        "e2e_lat_p50_ms": (pct(lat, 50), "ms"),
        "e2e_lat_p99_ms": (pct(lat, 99), "ms"),
        "batch_total_s": (busy, "s"),
        "query_p50_s": (pct(durs, 50), "s"),
        "query_p95_s": (pct(durs, 95), "s"),
    }
    if args.trace:
        out["layers"] = ingest_layers(res, batches, by_batch, attempted)
    return out


def setup_split(p, res):
    """Where set-up time went: JVM start to session built, then to ready."""
    return {"launch_to_session_s": (res["session_ms"] - p.launch_ms) / 1000.0,
            "session_to_ready_s": (res["ready_ms"] - res["session_ms"]) / 1000.0}


def ws_lag(p):
    """Frames available but not yet admitted, summed over the WS sources."""
    lag = 0
    for s in p["sources"]:
        if "ws-replay" in s.get("description", "") or \
                "WsReplay" in s.get("description", ""):
            try:
                lag += int(s.get("latestOffset") or 0) - int(s.get("endOffset") or 0)
            except (TypeError, ValueError):
                pass
    return lag


def ingest_layers(res, batches, by_batch, rows_out):
    tr = res["trace"]
    t_lo, t_hi = res["run_start_ms"], res["run_end_ms"]
    acts = [a for a in tr["actions"] if t_lo <= a["end_ms"] <= t_hi]
    d = collections.Counter()
    accounted = excess = 0.0
    for b in batches:
        dm = b["p"]["durationMs"]
        parts = sum(v for k, v in dm.items() if k != "triggerExecution")
        d.update(dm)
        accounted += parts
        excess = max(excess, parts - dm.get("triggerExecution", 0))
    trigger = sum(b["dur"] for b in batches)
    frames_in = sum(b["p"]["numInputRows"] for b in batches)
    hl_dead = sum(int((b["p"].get("observedMetrics") or {}).get("hl_parse", {})
                      .get("dead_letters", 0)) for b in batches)
    console = sum(a["ms"] for a in acts if a["func"] == "collect")
    csvw = sum(a["ms"] for a in acts if "InsertIntoHadoopFsRelation" in a["plan"])
    jdbcw = sum(a["ms"] for a in acts if "SaveIntoDataSource" in a["plan"])
    last_state = [b for b in batches if b["p"].get("stateOperators")]
    st = last_state[-1]["p"]["stateOperators"] if last_state else []
    state_commit = sum(op.get("commitTimeMs", 0)
                       for b in batches for op in b["p"].get("stateOperators", []))
    norm = tr["normalize"]
    eng = tr["engine"]
    lag = [ws_lag(b["p"]) for b in batches]
    m = {
        "sources.latest_offset_ms": (d["latestOffset"], "ms"),
        "sources.get_batch_ms": (d["getBatch"], "ms"),
        "sources.frames_in": (frames_in, "count"),
        "sources.lag_frames_p99": (pct(lag, 99), "frames"),
        "sources.bytes_scanned_ratio":
            (tr["bytes_scanned"] / max(1, tr["capture_bytes"]), "ratio"),
        "normalize.rows_out": (rows_out, "count"),
        "normalize.dead_letters": (hl_dead + tr["ws_dead_letters"], "count"),
        "normalize.yield": (rows_out / max(1, frames_in), "rows/frame"),
        "cli.query_planning_ms": (d["queryPlanning"], "ms"),
        "cli.add_batch_ms": (d["addBatch"], "ms"),
        "cli.wal_commit_ms": (d["walCommit"], "ms"),
        "cli.batches": (len(batches), "count"),
        "cli.rows_per_batch": (rows_out / max(1, len(by_batch)), "rows/batch"),
        "cli.fanout_other_ms": (d["addBatch"] - console - csvw - jdbcw, "ms"),
        "streaming.console_ms": (console, "ms"),
        "streaming.csv_write_ms": (csvw, "ms"),
        "streaming.jdbc_write_ms": (jdbcw, "ms"),
        "streaming.state_rows": (sum(o.get("numRowsTotal", 0) for o in st), "count"),
        "streaming.state_mem_bytes":
            (sum(o.get("memoryUsedBytes", 0) for o in st), "B"),
        "streaming.state_commit_ms": (state_commit, "ms"),
    }
    for ex in ("binance", "aster", "bybit", "okx", "hyperliquid"):
        n = norm[ex]
        m["normalize.%s_ms_per_kframe" % ex] = \
            (n["ms"] / max(1e-9, n["frames"] / 1000.0), "ms/kframe")
    m.update(engine_metrics(eng, acts))
    accounting = {"trigger_ms": trigger, "parts_ms": accounted,
                  "max_batch_excess_ms": excess,
                  "accounted_share": accounted / max(1, trigger),
                  "holds": excess <= 2 and accounted >= 0.9 * trigger,
                  "unclassified_actions": sorted(
                      {a["plan"] + "/" + a["func"] for a in acts
                       if a["func"] != "collect" and
                       "InsertIntoHadoopFsRelation" not in a["plan"] and
                       "SaveIntoDataSource" not in a["plan"]})}
    return m, accounting


def engine_metrics(eng, acts):
    mb = 1024.0 * 1024.0
    return {
        "engine.analysis_s": (sum(a["analysis_ms"] for a in acts) / 1000.0, "s"),
        "engine.optimization_s":
            (sum(a["optimization_ms"] for a in acts) / 1000.0, "s"),
        "engine.planning_s": (sum(a["planning_ms"] for a in acts) / 1000.0, "s"),
        "engine.jobs": (eng["jobs"], "count"),
        "engine.stages": (eng["stages"], "count"),
        "engine.tasks": (eng["tasks"], "count"),
        "engine.task_s": (eng["task_ms"] / 1000.0, "s"),
        "engine.shuffle_read_mb": (eng["shuffle_read_bytes"] / mb, "MB"),
        "engine.shuffle_write_mb": (eng["shuffle_write_bytes"] / mb, "MB"),
        "engine.spill_mb": (eng["spill_bytes"] / mb, "MB"),
    }


# -- batch surface ------------------------------------------------------------

def query_sample():
    """The fixed query sample: three names per module (both of Bucketing's
    two), evenly spaced through the module's sorted query names."""
    with open(os.path.join(HERE, "queries.json")) as f:
        return json.load(f)


def oracle_rows(data_dir, oracles):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=4")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'"
                    % (os.path.basename(p)[:-8], p))
    out = {}
    for name, sql in oracles.items():
        try:
            out[name] = con.execute("SELECT count(*) FROM (%s)" % sql).fetchone()[0]
        except Exception as e:  # an oracle that cannot run is reported
            out[name] = "error: %s" % str(e)[:200]
    return out


def batch(args, cp, run_dir):
    import gen_tables
    data = os.path.join(run_dir, "data")
    gen_tables.write_tables(args.seed, data, BATCH_SF)
    sample = query_sample()
    names = [n for mod in sorted(sample) for n in sample[mod]]
    res_path = os.path.join(run_dir, "result.json")

    def jargs(d):
        return ["--mode", "batch", "--run-dir", d, "--data", data,
                "--cpus", args.master.strip("local[]") or "4",
                "--trace", str(args.trace)]
    p = java(cp, run_dir, jargs(run_dir) + ["--queries", ",".join(names),
                                            "--result", res_path], "batch")
    log("program JVM: %.1f s" % (time.time() - p.launch_ms / 1000.0))
    res = read_json(res_path)
    main_setup = (res["ready_ms"] - p.launch_ms) / 1000.0
    oracles = read_json(os.path.join(run_dir, "oracle_sql.json"))
    t = time.time()
    want = oracle_rows(data, oracles)
    log("oracle row counts: %.1f s" % (time.time() - t))
    qs = res["queries"]
    failed, mismatches = 0, []
    for q in qs:
        bad = not q["ok"] or (q["name"] in want and want[q["name"]] != q["rows"])
        if bad:
            failed += 1
            mismatches.append({"name": q["name"], "rows": q.get("rows"),
                               "oracle": want.get(q["name"]),
                               "error": q.get("error")})
    walls = [q["wall_s"] for q in qs]
    total = sum(walls)
    rows = sum(q.get("rows", 0) for q in qs if q["ok"])
    out = {"attempted": len(qs), "failed": failed, "correct": failed == 0,
           "setup_split": setup_split(p, res),
           "mismatches": mismatches, "no_oracle": sorted(set(names) - set(want)),
           "latency_samples": len(qs),
           "listener_ms": res["listener_ms"],
           "weather": {"cpus": res["cpus"], "load_start": res["load_start"],
                       "load_end": res["load_end"]}}
    out["metrics"] = {
        "setup_s": (main_setup, "s"),
        "rss_peak_mb": (res["rss_peak_kb"] / 1024.0, "MB"),
        "ingest_rows_per_s": (rows / total, "rows/s"),
        "e2e_lat_p50_ms": (pct(walls, 50) * 1000.0, "ms"),
        "e2e_lat_p99_ms": (pct(walls, 99) * 1000.0, "ms"),
        "batch_total_s": (total, "s"),
        "query_p50_s": (pct(walls, 50), "s"),
        "query_p95_s": (pct(walls, 95), "s"),
    }
    if args.trace:
        m = {}
        for mod in sorted(sample):
            mq = [q for q in qs if q["module"] == mod and q["ok"]]
            m["ops.%s.wall_s" % mod] = (sum(q["wall_s"] for q in mq), "s")
            m["ops.%s.construct_s" % mod] = (sum(q["construct_s"] for q in mq), "s")
            m["ops.%s.construct_jobs" % mod] = \
                (sum(q["construct_jobs"] for q in mq), "count")
            m["ops.%s.action_s" % mod] = (sum(q["action_s"] for q in mq), "s")
        acts = res["trace"]["actions"]
        m.update(engine_metrics(res["trace"]["engine"], acts))
        split = sum(q["construct_s"] + q["action_s"] for q in qs if q["ok"])
        accounting = {
            "wall_s": sum(q["wall_s"] for q in qs if q["ok"]), "parts_s": split,
            "max_query_gap_s": max(abs(q["wall_s"] - q["construct_s"] - q["action_s"])
                                   for q in qs if q["ok"]),
            "modules_sum_s": sum(v[0] for k, v in m.items()
                                 if k.endswith(".wall_s"))}
        accounting["holds"] = accounting["max_query_gap_s"] < 1e-3 and \
            abs(accounting["modules_sum_s"] - accounting["wall_s"]) < 1e-6
        out["layers"] = (m, accounting)
    return out


# -- output -------------------------------------------------------------------

def trace_overhead(workload, traced_total_s, listener_ms):
    """Tracing overhead of this traced run: its batch_total_s against the
    committed untraced median of the same workload, plus the time spent
    inside the benchmark's own listener callbacks."""
    out = {"batch_total_s": traced_total_s, "listener_ms": listener_ms}
    path = os.path.join(HERE, "baseline", "summary.json")
    if os.path.isfile(path):
        ref = read_json(path)["workloads"].get(workload, {})
        med = ref.get("batch_total_s", {}).get("median")
        if med:
            out["untraced_median_s"] = med
            out["overhead_frac"] = traced_total_s / med - 1.0
    return out


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return [(m["name"], m["unit"]) for m in b["per_layer"]]


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=["ingest_backlog", "ingest_live", "batch_surface"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--master", default="local[4]",
                    help="Spark master of the program under test")
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory for inspection")
    args = ap.parse_args(argv)
    cp = build()
    os.makedirs(RUNS, exist_ok=True)
    run_dir = os.path.join(RUNS, "%s-%d-%d" % (args.workload, args.seed,
                                               os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if args.workload == "batch_surface":
            out = batch(args, cp, run_dir)
        else:
            out = ingest(args, cp, run_dir, args.workload == "ingest_live")
    finally:
        if not args.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    detail = {k: v for k, v in out.items() if k not in ("metrics", "layers")}
    detail["metrics"] = {k: v[0] for k, v in out["metrics"].items()}
    if args.trace:
        layer_metrics, accounting = out["layers"]
        layer_metrics["trace.listener_ms"] = (out["listener_ms"], "ms")
        detail["span_accounting"] = accounting
        detail["trace_overhead"] = trace_overhead(
            args.workload, out["metrics"]["batch_total_s"][0], out["listener_ms"])
    with open(os.path.join(RUNS, "last-%s%s.json" % (
            args.workload, "-trace" if args.trace else "")), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # human-readable lines first, the JSON result last
    attempted, failed = out["attempted"], out["failed"]
    print("%s seed=%d: fail_frac=%.6f (failed %d of %d attempted)%s" % (
        args.workload, args.seed, failed / attempted, failed, attempted,
        "" if failed == 0 else "  <-- DEFECT"))
    for k, (v, unit) in out["metrics"].items():
        print("  %-20s %14.4f %s" % (k, v, unit))
    if args.trace:
        metrics = {}
        layer_metrics, _ = out["layers"]
        for name, unit in per_layer_names():
            v = layer_metrics.get(name, (0.0, unit))[0]
            metrics[name] = {"value": v, "unit": unit}
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in out["metrics"].items()}
    print(json.dumps({"correct": bool(out["correct"]), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main(sys.argv[1:])

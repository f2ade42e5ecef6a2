#!/usr/bin/env python3
"""graft benchmark: the reference's tick path and the batch query tier.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and
the engine with sbt (offline) into `.bench_build/`, and writes the
query-suite tables there; later runs reuse both. Each run works in one
temp root under `.bench_build/runs/`, deleted when the run ends.

Workloads: `ticks_live`, `query_suite` (README.md).
The last stdout line is the result object
`{"correct", "attempted", "failed", "metrics"}`; the line before it is
the run record (calibration block, sample counts, check details).
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
import tickgen  # noqa: E402

CPUS = 4
HEAP = "1536m"
RUN_LIMIT_S = 170

LIVE_SYMBOLS = 50
LIVE_RATE = 100.0                # offered ticks/s, from the rate sweep (README)
LIVE_HISTORY = 64                # cycles staged ahead: fills the 64-tick ring
WARM_CYCLES = 30
SUITE_PASS_S = 5                 # one warm pass per 5 s of --seconds: two at 10 s

HEADLINE = ["q1_agg", "q3_join", "q5_multijoin", "q_daily_ohlc", "q_sessionize",
            "q_window_agg", "q_analytics_full", "q_alerts", "q_dedup_minhash",
            "q_dedup_embedding", "q_ann_bruteforce", "q_token_count",
            "q_quality_score", "q_linreg_autoreg", "q_arima_forecast"]
DASHBOARD = ["q_latest_analytics", "q_recent_alerts", "q_analytics_window",
             "q_daily_summary"]
CONSTRUCTING = ["q_curation_pipeline", "q_return_corr", "q_curriculum"]
SUITE = HEADLINE + DASHBOARD + CONSTRUCTING

E2E_UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_ms": "ms",
             "latency_p90_ms": "ms", "cold_s": "s", "rss_peak_mb": "MB"}
# Per-layer metrics of the result line: every traced run prints each of
# them, so these are the layers both workloads pass through. The layers
# only one workload has (ingest, microbatch, state, sinks, per query)
# are in the run record's `layers`.
EXEC_KEYS = ("jobs", "stages", "tasks", "task_s", "shuffle_bytes", "spill_bytes",
             "bytes_written")
LAYER_UNITS = {
    "construct.s": "s", "construct.jobs": "count", "plan.ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.shuffle_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.bytes_written": "bytes",
    "jvm.gc_ms": "ms", "calib.cpu_ms": "ms", "calib.mt_ms": "ms", "host.steal_pct": "%",
    "trace.overhead_pct": "%",
}

WORKLOADS = ("ticks_live", "query_suite")
ENGINE_MARKER = os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """$SPARK_HOME, or the installation that `spark-submit` on PATH runs from."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("no Spark installation: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


# ------------------------------------------------------------------ build

def source_stamp(root):
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build(root, build_dir):
    classes = os.path.join(build_dir, "sbt-target", "scala-2.13", "classes")
    stamp_file = os.path.join(build_dir, "build.stamp")
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp(root)
        if os.path.isdir(classes) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return classes
        log("building harness and engine with sbt (offline)")
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
        tmp = os.path.join(build_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # keep sbt's own scratch (global base, temp files, JNA) in the checkout
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}",
                f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
                "-XX:-UsePerfData", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # also the launcher's probe JVMs
        t0 = time.time()
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=800)
        if p.returncode != 0 or not os.path.isdir(classes):
            sys.stderr.write(p.stdout[-6000:])
            raise SystemExit("sbt build failed")
        log(f"built in {time.time() - t0:.0f} s")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return classes


def ensure_tables(build_dir):
    import tables
    out = os.path.join(build_dir, f"suite-data-{tables.DEFAULT_SCALE}")
    with open(os.path.join(build_dir, "data.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(out):
            shutil.rmtree(out + ".partial", ignore_errors=True)
            log("writing query-suite tables")
            tables.write(out)
    return out


# ------------------------------------------------------------- processes

class Procs:
    """Every child process of the run; all are stopped and reaped."""

    def __init__(self):
        self.procs = []

    def start(self, cmd, logfile):
        f = open(logfile, "w")
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        p._logf = f
        self.procs.append(p)
        return p

    def stop_all(self):
        for p in self.procs:
            if p.poll() is None:
                p.terminate()
        for p in self.procs:
            try:
                p.wait(timeout=15)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            p._logf.close()


def jvm_cmd(classes, run_dir, params):
    path = os.path.join(run_dir, "params.properties")
    with open(path, "w") as f:
        for k, v in params.items():
            f.write(f"{k}={v}\n")
    jars = os.path.join(spark_home(), "jars", "*")
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}",
            f"-Dderby.stream.error.file={run_dir}/derby.log",
            *ADD_OPENS, "-cp", f"{classes}:{jars}", "graft.perfbench.Main", path]


def wait(p, deadline):
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return None


def write_valid_csv(path, valid):
    with open(path, "w") as f:
        for u, e, t, v in valid:
            f.write(f"{u},{e},{t},{v!r}\n")


# -------------------------------------------------------------- workloads

def run_ticks_live(a, run_dir, classes, procs, deadline):
    stage = os.path.join(run_dir, "stage")
    warm = os.path.join(run_dir, "warm")
    os.makedirs(stage)
    os.makedirs(warm)
    cycles = tickgen.live_cycles(LIVE_SYMBOLS, LIVE_RATE, a.seconds)
    t0 = time.time()
    tickgen.stage_cycles(stage, a.seed, LIVE_SYMBOLS, LIVE_HISTORY)
    per_file, rejects = tickgen.expected_cycles(a.seed, LIVE_SYMBOLS, LIVE_HISTORY + cycles)
    valid = [v for vs in per_file.values() for v in vs]
    tickgen.stage_cycles(warm, a.seed + 7919, LIVE_SYMBOLS, WARM_CYCLES)
    write_valid_csv(os.path.join(run_dir, "valid.csv"), valid)
    staging_s = time.time() - t0
    p = start_jvm(classes, run_dir, procs, dict(
        common_params(a, run_dir), stage_dir=stage, warm_dir=warm,
        valid_csv=os.path.join(run_dir, "valid.csv"),
        gen_timeout_s=a.seconds + 60))
    ready = os.path.join(run_dir, "ready")
    while not os.path.exists(ready) and p.poll() is None and time.time() < deadline:
        time.sleep(0.02)
    manifest_path = os.path.join(run_dir, "manifest.json")
    if os.path.exists(ready):
        g = procs.start([sys.executable, os.path.join(HERE, "tickgen.py"), "live",
                         "--seed", str(a.seed), "--symbols", str(LIVE_SYMBOLS),
                         "--rate", str(LIVE_RATE), "--seconds", str(a.seconds),
                         "--start", repr(time.time() + 0.2), "--out", stage,
                         "--manifest", manifest_path, "--first-cycle", str(LIVE_HISTORY)],
                        os.path.join(run_dir, "gen.log"))
        wait(g, min(deadline, time.time() + a.seconds + 30))
        open(os.path.join(run_dir, "gen_done"), "w").close()
    code = wait(p, deadline)
    rec = read_record(run_dir, code, p.launch_ms)
    manifest = json.load(open(manifest_path)) if os.path.exists(manifest_path) else {"files": []}
    files = {f["name"]: f["lines"] for f in manifest["files"]}
    sent = {f["name"]: f["scheduled_ms"] for f in manifest["files"]}
    gen = {"ticks_offered": sum(files.values()), "valid": len(valid),
           "rejects": len(rejects), "per_file": per_file,
           "lag_ms_max": manifest.get("lag_ms_max"),
           "last_publish_ms": max([f["published_ms"] for f in manifest["files"]] or [0])}
    return tick_result(a, rec, run_dir, staging_s, files, sent, gen)


def run_query_suite(a, run_dir, classes, procs, deadline):
    data = ensure_tables(os.path.dirname(os.path.dirname(run_dir)))
    p = start_jvm(classes, run_dir, procs, dict(
        common_params(a, run_dir), data_dir=data, queries=",".join(SUITE),
        warm_passes=max(1, a.seconds // SUITE_PASS_S)))
    code = wait(p, deadline)
    rec = read_record(run_dir, code, p.launch_ms)
    return suite_result(a, rec)


def common_params(a, run_dir):
    return {"workload": a.workload, "run_dir": run_dir, "cpus": CPUS,
            "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "record": os.path.join(run_dir, "record.json")}


def start_jvm(classes, run_dir, procs, params):
    """Launch the benchmark JVM; the process carries its launch time
    (epoch ms), from which its set-up is timed."""
    cmd = jvm_cmd(classes, run_dir, params)
    launch_ms = time.time() * 1000.0
    p = procs.start(cmd, os.path.join(run_dir, "jvm.log"))
    p.launch_ms = launch_ms
    return p


def read_record(run_dir, code, launch_ms):
    """The JVM's run record; `setup_s` is the JVM's set-up time, from
    its launch to the end of the workload's warm-up."""
    path = os.path.join(run_dir, "record.json")
    rec = json.load(open(path)) if os.path.exists(path) else {}
    errors = rec.setdefault("errors", [])
    if code != 0:
        errors.append(f"benchmark JVM exit code {code}")
        tail = open(os.path.join(run_dir, "jvm.log"), errors="replace").read()[-4000:]
        sys.stderr.write(tail)
    if "setup_end_ms" in rec:
        rec["setup_s"] = (rec["setup_end_ms"] - launch_ms) / 1000.0
    return rec


# ------------------------------------------------------------ aggregation

def common_metrics(rec, staging_s):
    e2e, layer = {}, {}
    if "setup_s" in rec:
        e2e["setup_s"] = staging_s + rec["setup_s"]
    if rec.get("rss_peak_mb", -1) > 0:
        e2e["rss_peak_mb"] = rec["rss_peak_mb"]
    calib = rec.get("calib") or {}
    if calib:
        layer["calib.cpu_ms"] = calib["cpu_ms"]
        layer["calib.mt_ms"] = calib["mt_ms"]
    if "gc_ms" in rec:
        layer["jvm.gc_ms"] = rec["gc_ms"]
    listener_ms = (rec.get("recorder") or {}).get("listener_ms")
    if listener_ms is not None and rec.get("run_ms"):
        # traced runs: the share of the measured run's wall time the
        # listeners spent in their tracing callbacks
        layer["trace.overhead_pct"] = 100.0 * listener_ms / rec["run_ms"]
    return e2e, layer


def progress_of(triggers, qid):
    return [t for t in triggers if t["query"] == qid and "progress" in t]


def tick_result(a, rec, run_dir, staging_s, files, sent, gen):
    """Metrics, checks and (traced) spans of a tick workload.

    files / sent: the ticks per file and the send time of each file the
    latency covers; gen: what the generator produced (all files)."""
    e2e, layer = common_metrics(rec, staging_s)
    roles = ("analytics", "alerts")
    triggers = (rec.get("recorder") or {}).get("triggers", [])
    qids = [(rec.get("query_ids") or {}).get(r) for r in roles]
    file_batches = [M.read_source_log(os.path.join(run_dir, f"ckpt_{r}")) for r in roles]
    ends = [M.batch_ends(triggers, q) for q in qids]
    samples, undelivered = M.attribute_latency(files, sent, file_batches, ends)
    if samples:
        last_end = max(e for en in ends for e in en.values())
        delivered = sum(files.values()) - undelivered
        e2e["throughput_per_s"] = delivered / ((last_end - min(sent.values())) / 1000.0)
        lat = [v for v, _ in samples]
        e2e["latency_p50_ms"], n = M.percentile(lat, 50)
        e2e["latency_p90_ms"], _ = M.percentile(lat, 90)
        layer["latency.samples"] = n
        layer["latency.batches"] = len({b for _, b in samples})
        layer["latency.batches_beyond_p90"] = M.batches_beyond(samples, e2e["latency_p90_ms"])
    first = [t for t in triggers if t["batch"] == 0 and t["query"] in qids]
    if len(first) == len(qids):
        e2e["cold_s"] = sum(t["trigger_ms"] for t in first) / 1000.0

    # checks: analytics keys exactly once; alerts equal to the batch operator
    attempted, failed = max(1, gen["valid"] + gen["rejects"]), len(rec["errors"]) + undelivered
    ac, al = rec.get("analytics_check"), rec.get("alerts_check")
    if ac:
        failed += ac["missing"] + ac["extra"] + abs(ac["expected"] - gen["valid"])
    else:
        failed += 1
    if al:
        attempted += al["batch"]
        failed += al["missing"] + al["extra"]
    else:
        failed += 1
    details = {"gen": {k: v for k, v in gen.items() if k != "per_file"},
               "analytics_check": ac, "alerts_check": al,
               "alert_types": rec.get("alert_types"), "undelivered": undelivered,
               "latency_samples": layer.get("latency.samples"),
               "latency_batches": layer.get("latency.batches")}
    res = {"e2e": e2e, "layer": layer, "attempted": attempted, "failed": failed,
           "details": details, "spans": []}
    if a.trace:
        tl, series = tick_layers(rec, roles, qids, triggers, file_batches, gen,
                                 files, sent, ends)
        layer.update(tl)
        details["sink_series"] = series
        res["spans"] = spans_of(rec, dict(zip(qids, roles)))
    return res


def rows_per_batch(file_batch, per_file_rows):
    out = {}
    for name, b in file_batch.items():
        out[b] = out.get(b, 0) + per_file_rows.get(name, 0)
    return out


def sink_layers(prefix, progress, batch_rows):
    """addBatch p50 and commit ms per 1000 target-table rows: the slope
    of addBatch time against the table's rows before the batch, over the
    warm batches. Also returns the series, as [batch, rows before, ms]."""
    out = {}
    adds = [(t["batch"], t["progress"]["durationMs"].get("addBatch", 0)) for t in progress]
    if not adds:
        return out, []
    out[f"{prefix}.addBatch_ms_p50"] = M.median([ms for _, ms in adds])
    before, rows = {}, 0
    for b in sorted(batch_rows):
        before[b] = rows
        rows += batch_rows[b]
    series = [[b, before.get(b, 0), ms] for b, ms in adds]
    # batch 0 is the cold batch: codegen and sink bring-up, not table size
    warm = [x for x in series if x[0] > 0]
    s = M.slope([x[1] for x in warm], [x[2] for x in warm])
    if s is not None:
        out[f"{prefix}.commit_ms_per_krow"] = s * 1000.0
    out[f"{prefix}.table_rows"] = rows
    return out, series


def tick_layers(rec, roles, qids, triggers, file_batches, gen, files, sent, ends):
    L, series = {}, {}
    prog = {r: progress_of(triggers, q) for r, q in zip(roles, qids)}
    pa = prog["analytics"]
    allp = [t for r in roles for t in prog[r]]

    def dur(ts, k):
        return [t["progress"]["durationMs"].get(k, 0) for t in ts]

    ticks_in = sum(t["input_rows"] for t in pa)
    accepted = (rec.get("analytics_check") or {}).get("rows", 0)
    L["ingest.ticks_in"] = ticks_in
    L["ingest.ticks_accepted"] = accepted
    L["ingest.ticks_rejected"] = ticks_in - accepted
    # parseTicks drops rejects and no engine ledger records them
    L["ingest.rejects_recorded"] = 0
    L["ingest.getBatch_ms"] = sum(dur(pa, "getBatch"))
    L["microbatch.triggers"] = len(allp)
    L["microbatch.trigger_ms_p50"] = M.median([t["trigger_ms"] for t in allp])
    for k in ("queryPlanning", "walCommit", "commitOffsets"):
        L[f"microbatch.{k}_ms"] = M.median(dur(allp, k))
    st = [t["progress"]["stateOperators"][0] for t in pa if t["progress"].get("stateOperators")]
    if st:
        L["state.keys"] = st[-1]["numRowsTotal"]
        L["state.rows_updated"] = sum(s["numRowsUpdated"] for s in st)
        L["state.memory_bytes"] = st[-1]["memoryUsedBytes"]
        L["state.update_ms"] = sum(s.get("allUpdatesTimeMs", 0) for s in st)
        L["state.commit_ms"] = sum(s.get("commitTimeMs", 0) for s in st)
    valid_rows = {n: len(v) for n, v in gen["per_file"].items()}
    m, series["sink.parquet"] = sink_layers(
        "sink.parquet", pa, rows_per_batch(file_batches[0], valid_rows))
    L.update(m)
    written = (rec.get("recorder") or {}).get("bytes_written", {}).get(qids[0])
    if written and rec.get("parquet_table_bytes"):
        L["sink.parquet.write_amplification"] = written / rec["parquet_table_bytes"]
    L["gen.ticks_offered"] = gen["ticks_offered"]
    alert_rows = {(u, e): n for u, e, n in rec.get("alert_rows", [])}
    per_file_alerts = {name: sum(alert_rows.get((u, e), 0) for u, e, _, _ in v)
                       for name, v in gen["per_file"].items()}
    pj = prog["alerts"]
    m, series["sink.jdbc"] = sink_layers(
        "sink.jdbc", pj, rows_per_batch(file_batches[1], per_file_alerts))
    L.update(m)
    jobs = [j for j in (rec.get("recorder") or {}).get("jobs", [])
            if j["stream_query"] == qids[1]]
    L["sink.jdbc.batches_skipped"] = sum(
        1 for t in pj if t["input_rows"] > 0 and not any(
            t["start_ms"] <= j["submit_ms"] <= t["start_ms"] + t["trigger_ms"] for j in jobs))
    L["alerts.per_tick"] = sum(alert_rows.values()) / max(1, gen["valid"])
    L["gen.lag_ms_max"] = gen["lag_ms_max"]
    delivered = {n: M.delivery(n, file_batches, ends) for n in files}
    # ticks published but not yet committed by both sinks when the
    # generator finished: the backlog the open loop left behind
    L["backlog.end_ticks"] = sum(n for name, n in files.items()
                                 if delivered[name] is None
                                 or delivered[name][0] > gen["last_publish_ms"])
    # latency against send time: flat when the rate is sustained,
    # rising when the backlog grows over the run
    pts = [(sent[n] / 1000.0, d[0] - sent[n]) for n, d in delivered.items() if d]
    trend = M.slope([x for x, _ in pts], [y for _, y in pts])
    if trend is not None:
        L["latency.trend_ms_per_s"] = trend
    L.update(tick_shared_layers(rec, allp))
    return L, series


def tick_shared_layers(rec, allp):
    """construct: building the two stream frames (parse → adapter →
    indicators / alerts); plan: both queries' queryPlanning time over
    the live window; exec: the jobs submitted in the live window."""
    L = {}
    wins = (rec.get("recorder") or {}).get("windows", [])
    cons = [w for w in wins if w["phase"] == "construct"]
    L["construct.s"] = sum(w["ms"] for w in cons) / 1000.0
    L["construct.jobs"] = sum(w["totals"]["jobs"] for w in cons)
    live = [w for w in wins if w["phase"] == "execute"]
    if live:
        w = live[0]
        L["plan.ms"] = sum(t["progress"]["durationMs"].get("queryPlanning", 0) for t in allp
                           if w["start_ms"] <= t["start_ms"] <= w["end_ms"])
        for k in EXEC_KEYS:
            L[f"exec.{k}"] = w["totals"][k]
    return L


def suite_result(a, rec):
    e2e, layer = common_metrics(rec, 0.0)
    runs = rec.get("suite_runs", [])
    ok = [r for r in runs if r["ok"]]

    def secs(r):
        return (r["construct_ms"] + r["execute_ms"]) / 1000.0

    cold = {r["query"]: secs(r) for r in ok if r["pass"] == 0}
    warm = {}
    for r in ok:
        if r["pass"] > 0:
            warm.setdefault(r["query"], []).append(secs(r))
    med = {q: M.median(v) for q, v in warm.items()}
    if len(med) == len(SUITE) and len(cold) == len(SUITE):
        suite_s = sum(med.values())
        e2e["throughput_per_s"] = len(SUITE) / suite_s
        e2e["latency_p50_ms"] = M.percentile(med.values(), 50)[0] * 1000.0
        e2e["latency_p90_ms"] = M.percentile(med.values(), 90)[0] * 1000.0
        e2e["cold_s"] = sum(cold.values())
        layer["suite_s"] = suite_s
    exp_path = os.path.join(HERE, "expected_suite.json")
    expected = json.load(open(exp_path)) if os.path.exists(exp_path) else {}
    checks = rec.get("suite_check") or {}
    wrong = [q for q in SUITE if checks.get(q) != expected.get(q)]
    failed = len(runs) - len(ok) + len(wrong) + (0 if runs else 1)
    details = {"passes": 1 + max([r["pass"] for r in runs] or [0]), "cold_s": cold,
               "wrong_outputs": wrong, "jvm_errors": rec["errors"][:5]}
    res = {"e2e": e2e, "layer": layer, "attempted": max(1, len(runs)), "failed": failed,
           "details": details, "spans": []}
    if a.trace:
        layer.update(suite_layers(rec, med))
        res["spans"] = spans_of(rec, {})
    return res


def suite_layers(rec, med):
    L = {f"query.{q}.s": v for q, v in med.items()}
    wins = (rec.get("recorder") or {}).get("windows", [])
    passes = sorted({w["pass"] for w in wins if w["pass"] > 0})
    if not passes:
        return L

    def per_pass(phase, key):
        return M.median([sum(w["totals"][key] for w in wins
                             if w["pass"] == p and w["phase"] == phase) for p in passes])

    cons = {}
    for w in wins:
        if w["pass"] > 0 and w["phase"] == "construct":
            cons.setdefault(w["label"], []).append(w["ms"])
    L["construct.s"] = sum(M.median(v) for v in cons.values()) / 1000.0
    L["construct.jobs"] = per_pass("construct", "jobs")
    L["plan.ms"] = per_pass("execute", "plan_ms")
    for k in EXEC_KEYS:
        L[f"exec.{k}"] = per_pass("execute", k)
    return L


def spans_of(rec, names):
    """Traced runs: microbatch → latestOffset / walCommit / getBatch /
    queryPlanning / addBatch / commitOffsets spans laid out from each
    progress record's durations, query → construct / execute windows
    with their job and stage totals, one span per planned query
    execution (first analysis phase start to last planning phase end)
    and one per Spark job; plan and job spans fall inside the window
    that caused them. `names` maps stream query ids
    to workload roles."""
    spans = []
    order = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
             "addBatch", "commitOffsets")
    r = rec.get("recorder") or {}
    for t in r.get("triggers", []):
        if "progress" not in t:
            continue
        role = names.get(t["query"], t["query"])
        spans.append({"name": "microbatch", "query": role, "batch": t["batch"],
                      "start_ms": t["start_ms"], "end_ms": t["start_ms"] + t["trigger_ms"]})
        at = t["start_ms"]
        d = t["progress"]["durationMs"]
        for k in order:
            if k in d:
                spans.append({"name": k, "parent": "microbatch", "query": role,
                              "batch": t["batch"], "start_ms": at, "end_ms": at + d[k]})
                at += d[k]
    for w in r.get("windows", []):
        spans.append({"name": w["phase"], "parent": "query", "query": w["label"],
                      "pass": w["pass"], "start_ms": w["start_ms"], "end_ms": w["end_ms"],
                      **w["totals"]})
    for p in r.get("plans", []):
        spans.append({"name": "plan", "start_ms": p["start_ms"], "end_ms": p["end_ms"],
                      "phases_ms": p["ms"]})
    for j in r.get("jobs", []):
        spans.append({"name": "job", "job": j["job"], "start_ms": j["submit_ms"],
                      "end_ms": j["end_ms"],
                      "stream_query": names.get(j["stream_query"], j["stream_query"])})
    return spans


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="query_suite only: store this run's output hashes as expected")
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, ENGINE_MARKER)):
        raise SystemExit(f"no engine sources at {ENGINE_MARKER}: run from a checkout root")
    deadline = time.time() + RUN_LIMIT_S
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = ensure_build(root, build_dir)
    # the first run of a checkout pays the build; the run limit starts after it
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 20)
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{os.getpid()}-{int(time.time())}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    procs = Procs()
    steal0 = cpu_ticks()
    try:
        fn = {"ticks_live": run_ticks_live, "query_suite": run_query_suite}[a.workload]
        res = fn(a, run_dir, classes, procs, deadline)
        if a.record_expected and a.workload == "query_suite":
            checks = json.load(open(os.path.join(run_dir, "record.json")))["suite_check"]
            with open(os.path.join(HERE, "expected_suite.json"), "w") as f:
                json.dump({q: checks[q] for q in SUITE}, f, indent=1, sort_keys=True)
                f.write("\n")
    except Exception:
        # a harness fault still ends in a result line, counted as failed
        import traceback
        traceback.print_exc()
        res = {"e2e": {}, "layer": {}, "attempted": 1, "failed": 1,
               "details": {"harness_error": True}, "spans": []}
    finally:
        procs.stop_all()
        shutil.rmtree(run_dir, ignore_errors=True)
    e2e, layer = res["e2e"], res["layer"]
    steal1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests during the run: the
    # ambient share that calibration alone cannot separate
    layer["host.steal_pct"] = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    # tracing overhead seen from outside: the traced median latency
    # against the last untraced run of the same workload in this checkout
    last = os.path.join(build_dir, "last", f"{a.workload}.json")
    os.makedirs(os.path.dirname(last), exist_ok=True)
    if "latency_p50_ms" in e2e:
        if not a.trace:
            with open(last, "w") as f:
                json.dump({"latency_p50_ms": e2e["latency_p50_ms"]}, f)
        elif os.path.exists(last):
            base = json.load(open(last)).get("latency_p50_ms")
            if base:
                res["details"]["latency_p50_vs_untraced_pct"] = \
                    (e2e["latency_p50_ms"] / base - 1.0) * 100.0
    if a.trace:
        tdir = os.path.join(build_dir, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump(res["spans"], f)
    chosen, units = (layer, LAYER_UNITS) if a.trace else (e2e, E2E_UNITS)
    out_metrics = {k: {"value": float(chosen[k]), "unit": u}
                   for k, u in sorted(units.items()) if chosen.get(k) is not None}
    # a metric the run could not measure is a failed run
    missing = sorted(set(units) - set(out_metrics))
    failed = res["failed"] + len(missing)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "calibration": {k: layer.get(f"calib.{k}")
                                                for k in ("cpu_ms", "mt_ms")},
              "host_steal_pct": layer["host.steal_pct"], "missing_metrics": missing,
              "end_to_end": e2e, "layers": layer if a.trace else {},
              "details": res["details"]}
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": out_metrics}))


if __name__ == "__main__":
    main()

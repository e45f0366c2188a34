#!/usr/bin/env python3
"""Benchmark of the binlog-to-HTTP CDC delivery path and a warm query mix.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--rates low,mid,high]

Run from the repository root. Builds the program and the benchmark
(`build.py`), writes the workload's inputs from the seed and the sf0.1
tables (`gen.py`), starts the load generator and HTTP receiver in one JVM
(`src/Harness.scala`) and the system under test in another
(`src/Sut.scala`), checks every output, prints each metric by name with
its unit, and ends with one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the workload runs
untraced and then traced, and the metrics are the per-layer ones,
including the tracing overhead. See README.md for the workloads and the
metrics.
"""
import argparse
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def _sf_dir():
    """The sf0.1 tables, where the repository's TESTDATA.md says they are."""
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", f.read())
    except OSError:
        return None
    return m.group(1).rstrip("/") if m else None


SF_DIR = _sf_dir()
WORKLOADS = ("binlog_catchup", "repl_open_loop", "query_mix")
# The warm query mix: the four queries ROADMAP item 1 names; none of them
# reads a session index artifact.
QUERIES = ["cdc_route_filter", "cdc_envelope", "join_inner3", "events_rfm"]
# Timed reps of the mix, after the untimed first rep that writes the
# results for the oracle check; a warm rep takes 3-8 s on 4 cores.
QUERY_REPS = 3
CATCHUP_EVENTS = 6000
# Catch-up runs first deliver CATCHUP_WARMUP_ROUNDS untimed rounds of a
# spool of the same size, from another seed.
CATCHUP_WARMUP_ROUNDS = 4
SPOOL_FILE_BYTES = 1 << 20
LATENCY_LIMIT_MS = 2000.0

JVM_OPTS = [
    *[a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")],
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]

END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s")]


def per_layer_names():
    names = [
        ("repl.events", "count"), ("repl.bytes", "bytes"), ("repl.lag_ms_p50", "ms"),
        ("repl.lag_ms_p99", "ms"),
        ("scan.events", "count"), ("scan.bytes", "bytes"), ("scan.partitions", "count"),
        ("scan.busy_s", "s"), ("scan.behind_head_bytes", "bytes"),
        ("decode.rows", "count"), ("decode.busy_s", "s"),
        ("transform.in", "count"), ("transform.out", "count"),
        ("transform.routed_ratio", "ratio"), ("transform.busy_s", "s"),
        ("transform.bytes_out", "bytes"),
        ("http.posts", "count"), ("http.non2xx", "count"), ("http.transport_fail", "count"),
        ("http.busy_s", "s"),
        ("queue.items", "count"), ("queue.segments", "count"), ("queue.bytes", "bytes"),
        ("queue.busy_s", "s"),
        ("drain.items", "count"), ("drain.busy_s", "s"), ("drain.lag_ms_p99", "ms"),
        ("microbatch.count", "count"), ("microbatch.rows_p50", "count"),
    ]
    for k in ("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch",
              "commitOffsets"):
        names += [(f"microbatch.{k}_ms_p50", "ms"), (f"microbatch.{k}_ms_p99", "ms")]
    names += [
        ("plan.analysis_s", "s"), ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
        ("codegen.compiles", "count"), ("codegen.compile_s", "s"),
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.busy", "ratio"),
        ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"), ("spark.gc_s", "s"),
    ]
    names += [(f"query.{q}_s", "s") for q in QUERIES]
    names += [("query.warmup_s", "s"),
              ("gen.late_ms_p99", "ms"), ("recv.requests", "count"), ("recv.bytes", "bytes"),
              ("ref.post_bound_eps", "1/s")]
    names += [(f"self.{l}_s", "s") for l in
              ("wall", "scan", "decode", "transform", "http", "queue", "drain", "query",
               "other")]
    names += [("trace.untraced_ops_per_s", "1/s"), ("trace.traced_ops_per_s", "1/s"),
              ("trace.overhead_pct", "%"), ("trace.untraced_lat_p50_ms", "ms"),
              ("trace.traced_lat_p50_ms", "ms")]
    names += [("e2e.lat_p50_ms", "ms"), ("e2e.lat_tail_ms", "ms"), ("mem.peak_rss_mb", "MB"),
              ("e2e.events_per_s", "1/s"), ("e2e.suite_s", "s"), ("e2e.sustained_eps", "1/s"),
              ("e2e.error_rate", "ratio"), ("e2e.lat_samples", "count"),
              ("e2e.lat_tail_pct", "%")]
    for r in ("low", "mid", "high"):
        names += [(f"e2e.lat_p50_ms.{r}", "ms"), (f"e2e.lat_p99_ms.{r}", "ms"),
                  (f"e2e.backlog_grows.{r}", "bool")]
    return names


PER_LAYER = per_layer_names()


def log(msg):
    sys.stderr.write(f"[cdcbench] {msg}\n")
    sys.stderr.flush()


class Procs:
    """Every process this run starts; all are stopped and awaited on exit."""

    def __init__(self):
        self.ps = []

    def java(self, cls, args, xmx, classpath, tmp, nice=0, **kw):
        # temp files and Spark's scratch space stay inside the run directory
        os.makedirs(tmp, exist_ok=True)
        p = subprocess.Popen(["nice", "-n", str(nice), "java", f"-Xmx{xmx}", f"-Xms{xmx}", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
                              f"-Dspark.local.dir={tmp}", "-cp", classpath, cls, *args],
                             cwd=ROOT, **kw)
        self.ps.append(p)
        return p

    def stop(self):
        for p in self.ps:
            if p.poll() is None:
                try:
                    if p.stdin:
                        p.stdin.close()
                except OSError:
                    pass
                try:
                    p.wait(timeout=3)
                except subprocess.TimeoutExpired:
                    p.kill()
                    p.wait()


def nproc():
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ one run

def run_once(workload, seed, seconds, trace, rates, classpath, work):
    t = time.time()
    os.makedirs(work + "/spool", exist_ok=True)
    expect = warm_expect = None
    if workload == "binlog_catchup":
        os.makedirs(work + "/warm/spool", exist_ok=True)
        for d, s in ((work, seed), (work + "/warm", seed + 1_000_000)):
            gen.write_catchup(SF_DIR, d, s, CATCHUP_EVENTS, SPOOL_FILE_BYTES)
        with open(work + "/warm/expect.json") as f:
            warm_expect = json.load(f)
    elif workload == "repl_open_loop":
        gen.write_openloop(SF_DIR, work, seed, rates, seconds)
    if workload != "query_mix":
        with open(work + "/expect.json") as f:
            expect = json.load(f)
    log(f"inputs for {workload} seed {seed}: {time.time() - t:.1f}s")

    procs = Procs()
    try:
        sut_args = ["--workload", workload, "--work", work, "--seconds", str(seconds),
                    "--trace", str(trace), "--cores", str(nproc()), "--sf", SF_DIR]
        harness = None
        if workload == "binlog_catchup":
            sut_args += ["--warmup", str(CATCHUP_WARMUP_ROUNDS)]
        if workload == "query_mix":
            sut_args += ["--queries", ",".join(QUERIES), "--reps", str(QUERY_REPS)]
        else:
            hargs = [work + "/openloop.bin"] if workload == "repl_open_loop" else []
            harness = procs.java("cdcbench.Harness", hargs, "1g", classpath, work + "/tmp",
                                 stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
            ready = harness.stdout.readline().split()
            if not ready or ready[0] != "READY":
                raise RuntimeError("harness did not start")
            sut_args += ["--url", f"http://127.0.0.1:{ready[1]}", "--master", ready[2]]
        with open(work + "/sut.log", "w") as sut_log:
            # The load side stands for other machines: niced, the system
            # under test cannot starve the receiver it is measured by. Its
            # set-up time runs from this launch.
            sut_args += ["--out", work + "/sut.json", "--launch-us", str(time.time_ns() // 1000)]
            sut = procs.java("cdcbench.Sut", sut_args, "3g", classpath, work + "/tmp", nice=10,
                             stdout=sut_log, stderr=subprocess.STDOUT)
            t = time.time()
            try:
                rc = sut.wait(timeout=seconds + 120)
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0:
            with open(work + "/sut.log") as f:
                sys.stderr.write(f.read()[-5000:])
            raise RuntimeError(f"system under test exited with {rc}")
        with open(work + "/sut.json") as f:
            sut_out = json.load(f)
        log(f"system under test ran {time.time() - t:.1f}s, set-up {sut_out['setup_s']:.2f}s")
        receipts, hstats = [], {}
        if harness is not None:
            harness.stdin.write(f"DUMP {work}/receipts.tsv\n")
            harness.stdin.flush()
            if harness.stdout.readline().strip() != "DUMPED":
                raise RuntimeError("harness did not dump its receipts")
            harness.stdin.write("QUIT\n")
            harness.stdin.flush()
            with open(f"{work}/receipts.tsv.stats.json") as f:
                hstats = json.load(f)
            with open(f"{work}/receipts.tsv", encoding="utf-8") as f:
                for line in f:
                    path, us, body = line.rstrip("\n").split("\t", 2)
                    receipts.append((path, int(us), body))
    finally:
        procs.stop()

    if workload == "query_mix":
        return query_metrics(sut_out, work)
    return cdc_metrics(workload, expect, warm_expect, sut_out, receipts, hstats)


# ------------------------------------------------------------------ metrics

def _split(receipts, prefix, memo):
    """[(group, canonical envelope)], [recv_us], [body] under `prefix`."""
    pairs, times, bodies = [], [], []
    for path, us, body in receipts:
        if path.startswith(prefix):
            c = memo.get(body)
            if c is None:
                c = memo[body] = stats.canon_body(body)
            pairs.append((path[len(prefix):], c))
            times.append(us)
            bodies.append(c)
    return pairs, times, bodies


def cdc_metrics(workload, expect, warm_expect, sut, receipts, hstats):
    memo = {}
    attempted = failed = 0
    mismatches = []
    m = {}
    if workload == "repl_open_loop":
        starts = [float(sut["t0_us"])]
    else:
        starts = sut["round_start_us"]
    # the untimed warm-up rounds are checked like the timed ones
    n_warm = len({p.split("/")[1] for p, _, _ in receipts if p.startswith("/w")})
    rounds = [(f"w{k}", warm_expect, None) for k in range(n_warm)] + \
        [(f"r{k}", expect, s) for k, s in enumerate(starts)]
    eps, durs, p50s, tails, tail_pcts, lat_n = [], [], [], [], [], 0
    drain_lag = []
    direct_all = []
    for name, want, start in rounds:
        direct, dt, dbodies = _split(receipts, f"/{name}/direct/", memo)
        drain, rt, rbodies = _split(receipts, f"/{name}/drain/", memo)
        led = stats.reconcile(want, direct, drain)
        attempted += led["attempted"]
        failed += led["failed"]
        mismatches += [f"round {name}: {x}" for x in led["mismatches"]]
        if start is None:
            continue
        direct_all.append((direct, dt, dbodies))
        # drain lag: each drained envelope against the same envelope's
        # direct receipt (multisets paired in receipt order)
        first = {}
        for c, us in sorted(zip(dbodies, dt), key=lambda x: x[1]):
            first.setdefault(c, []).append(us)
        for c, us in sorted(zip(rbodies, rt), key=lambda x: x[1]):
            if first.get(c):
                drain_lag.append((us - first[c].pop(0)) / 1e3)
        if workload != "repl_open_loop":
            last = max(dt + rt, default=start)
            durs.append((last - start) / 1e6 if dt else float("inf"))
            lats = [(us - start) / 1e3 for us in dt]
            p50s.append(stats.median(lats))
            pct, v = stats.tail(lats)
            tails.append(v)
            tail_pcts.append(pct)
            lat_n += len(lats)
    if workload == "repl_open_loop":
        t0 = float(sut["t0_us"])
        direct, dt, dbodies = direct_all[0]
        dues = [json.loads(c)["after"]["bench_due_us"] for c in dbodies]
        dues = [int(d) for d in dues]
        lats = stats.due_latencies_ms(dt, dues, t0)
        begin = expect["phases"][0][0]  # the warm-up before it is not measured
        measured = [l for d, l in zip(dues, lats) if d >= begin]
        pct, v = stats.tail(measured)
        p50s, tails, tail_pcts, lat_n = [stats.median(measured)], [v], [pct], len(measured)
        # source events per second over the measured phases
        want_due = [int(json.loads(env)["after"]["bench_due_us"]) for _, env in expect["kept"]]
        kept_in = sum(1 for d in want_due if d >= begin)
        last = max(dt) if dt else t0
        eps = [kept_in * expect["generated"] / len(expect["kept"])
               / ((last - t0 - begin) / 1e6)]
        phases = []
        for (lo, hi, rate), name in zip(expect["phases"], ("low", "mid", "high")):
            sel = [(d, l) for d, l in zip(dues, lats) if lo <= d < hi]
            pl = [l for _, l in sel]
            n_want = sum(1 for d in want_due if lo <= d < hi)
            ph = {"rate": rate, "p99_ms": stats.quantile(pl, 0.99) if pl else float("inf"),
                  "grows": stats.backlog_grows([d for d, _ in sel], pl),
                  "missing": max(0, n_want - len(pl))}
            phases.append(ph)
            m[f"e2e.lat_p50_ms.{name}"] = stats.median(pl)
            m[f"e2e.lat_p99_ms.{name}"] = ph["p99_ms"]
            m[f"e2e.backlog_grows.{name}"] = 1 if ph["grows"] else 0
        m["e2e.sustained_eps"] = stats.sustained(phases, LATENCY_LIMIT_MS)
        late = hstats.get("late_us", [])
        m["gen.late_ms_p99"] = stats.quantile(late, 0.99) / 1e3 if late else 0.0
        lag = sut.get("repl.lag_ms")
        if lag:
            m["repl.lag_ms_p50"] = stats.median(lag)
            m["repl.lag_ms_p99"] = stats.quantile(lag, 0.99)
    else:
        # the timed rounds' source events over their summed time: across 10
        # seeds on 4 cores its IQR/median was 0.147, the median of the
        # rounds' rates 0.167
        m["e2e.events_per_s"] = len(durs) * expect["generated"] / sum(durs)
        eps = [m["e2e.events_per_s"]]
        log("round s: " + " ".join(f"{d:.3f}" for d in durs))
    if sut.get("ref.kept_events"):
        # the reference's model, in source events per second
        m["ref.post_bound_eps"] = sut["ref.kept_events"] / sut["ref.elapsed_s"] \
            * expect["generated"] / len(expect["kept"])
    m["ops_per_s"] = stats.median(eps)
    m["e2e.lat_p50_ms"] = stats.median(p50s)
    m["e2e.lat_tail_ms"] = stats.median(tails)
    m["e2e.lat_tail_pct"] = tail_pcts[0] if tail_pcts else 0
    m["e2e.lat_samples"] = lat_n
    m["e2e.error_rate"] = failed / attempted if attempted else 0.0
    m["recv.requests"] = hstats.get("recv_requests", 0)
    m["recv.bytes"] = hstats.get("recv_bytes", 0)
    m["http.posts"] = sum(len(d[0]) for d in direct_all)
    m["http.transport_fail"] = sum(max(0, len(expect["kept"]) - len(d[0])) for d in direct_all)
    m["http.non2xx"] = 0  # the receiver answers every request with 200
    m["drain.items"] = sum(1 for p, _, _ in receipts if p.startswith("/r") and "/drain/" in p)
    m["drain.lag_ms_p99"] = stats.quantile(drain_lag, 0.99) if drain_lag else 0.0
    m["mismatches"] = mismatches
    return common(m, sut, attempted, failed)


def query_metrics(sut, work):
    m = {}
    medians = {}
    for q in QUERIES:
        ts = sut.get(f"query.{q}", [])
        medians[q] = stats.median(ts)
        m[f"query.{q}_s"] = medians[q]
    suite = sum(medians.values())
    log("rep s: " + " ".join(f"{sum(r):.3f}" for r in zip(*(sut[f"query.{q}"] for q in QUERIES))))
    m["e2e.suite_s"] = suite
    m["ops_per_s"] = len(QUERIES) / suite
    m["e2e.lat_p50_ms"] = stats.median(list(medians.values())) * 1e3
    m["e2e.lat_tail_ms"] = max(medians.values()) * 1e3
    m["e2e.lat_samples"] = len(sut.get(f"query.{QUERIES[0]}", []))
    m["query.warmup_s"] = sut.get("query.warmup_s", 0.0)
    attempted, failed = int(sut["attempted"]), int(sut["failed"])
    bad = check_oracles(work)
    failed += len(bad)
    m["mismatches"] = bad
    m["e2e.error_rate"] = failed / attempted
    return common(m, sut, attempted, failed)


def check_oracles(work):
    """Each listed query's result against its DuckDB oracle on the same
    tables; columns sorted by name, rows compared in full as strings."""
    import duckdb
    with open(f"{work}/check/oracle.json") as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events documents "
              "embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    bad = []
    for q in QUERIES:
        if q not in oracle:
            bad.append(f"{q}: no oracle")
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{work}/check/{q}/*.parquet')").df()
            want = con.execute(oracle[q]).df()
        except Exception as e:  # a missing result or a failing oracle both fail the check
            bad.append(f"{q}: {str(e).splitlines()[0][:200]}")
            continue
        got = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True).astype(str)
        want = want.reindex(sorted(want.columns), axis=1).reset_index(drop=True).astype(str)
        if list(got.columns) != list(want.columns) or len(got) != len(want) \
                or not got.equals(want):
            bad.append(f"{q}: result differs from its oracle ({len(got)} vs {len(want)} rows)")
    con.close()
    return bad


def common(m, sut, attempted, failed):
    m["setup_s"] = sut["setup_s"]
    m["mem.peak_rss_mb"] = sut["peak_rss_mb"]
    for k in ("plan.analysis_s", "plan.optimization_s", "plan.planning_s", "codegen.compiles",
              "codegen.compile_s", "spark.jobs", "spark.stages", "spark.tasks",
              "spark.task_run_s", "spark.task_cpu_s", "spark.busy", "spark.shuffle_bytes",
              "spark.spill_bytes", "spark.gc_s", "queue.items", "queue.segments", "queue.bytes",
              "scan.events", "scan.bytes", "scan.partitions", "decode.rows", "transform.in",
              "transform.out", "transform.bytes_out", "repl.events", "repl.bytes",
              "microbatch.count"):
        if k in sut and sut[k] is not None:
            m[k] = sut[k]
    if sut.get("microbatch.rows"):
        m["microbatch.rows_p50"] = stats.median(sut["microbatch.rows"])
    for k in ("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch",
              "commitOffsets"):
        v = sut.get(f"microbatch.{k}")
        if v:
            m[f"microbatch.{k}_ms_p50"] = stats.median(v)
            m[f"microbatch.{k}_ms_p99"] = stats.quantile(v, 0.99)
    if sut.get("scan.behind_head_bytes"):
        m["scan.behind_head_bytes"] = max(sut["scan.behind_head_bytes"])
    if "prefix.scan_s" in sut:
        ps, pd, pt = sut["prefix.scan_s"], sut["prefix.decode_s"], sut["prefix.transform_s"]
        m["scan.busy_s"], m["decode.busy_s"], m["transform.busy_s"] = ps, pd - ps, pt - pd
        if sut.get("transform.in"):
            m["transform.routed_ratio"] = sut["transform.out"] / sut["transform.in"]
        # split the traced compute span by the prefixes' shares
        shares = [max(0.0, x) for x in (ps, pd - ps, pt - pd)]
        total = sum(shares) or 1.0
        for name, s in zip(("scan", "decode", "transform"), shares):
            m[f"self.{name}_s"] = sut.get("span.compute", 0.0) * s / total
    for l in ("http", "queue", "drain"):
        if f"span.{l}" in sut:
            m[f"self.{l}_s"] = sut[f"span.{l}"]
            m[f"{l}.busy_s"] = sut[f"span.{l}"]
    m["self.query_s"] = sum(sum(sut.get(f"query.{q}", [])) for q in QUERIES)
    m["attempted"], m["failed"] = attempted, failed
    return m


def traced_wall(sut, m):
    """Wall of the traced window; self times must add up to it."""
    if "round_start_us" in sut:
        wall = sum((e - s) / 1e6 for s, e in zip(sut["round_start_us"], sut["round_end_us"]))
    elif "t0_us" in sut:
        wall = (sut["delivered_us"] - float(sut["t0_us"])) / 1e6
    else:
        wall = sut.get("timed_s", 0.0)
    layers = ("scan", "decode", "transform", "http", "queue", "drain", "query")
    return wall, wall - sum(m.get(f"self.{l}_s", 0.0) for l in layers)


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rates", default="350,1400,2800",
                    help="open-loop rates low,mid,high in events/s")
    a = ap.parse_args()
    rates = [int(x) for x in a.rates.split(",")]
    for need in (os.path.join(ROOT, "src", "main", "scala"), SF_DIR, build.SPARK_JARS):
        if not need or not os.path.isdir(need):
            log(f"missing {need}: run from a full checkout of the repository, "
                "with the sf0.1 tables and Spark installed")
            sys.exit(2)
    classpath = build.classpath(ROOT)
    t = time.time()
    build.build(ROOT)
    log(f"build ready in {time.time() - t:.1f}s")
    work = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.trace:
            base = run_once(a.workload, a.seed, a.seconds, 0, rates, classpath, work + "-u")
            m = run_once(a.workload, a.seed, a.seconds, 1, rates, classpath, work)
            sut_path = work + "/sut.json"
            with open(sut_path) as f:
                sut = json.load(f)
            wall, other = traced_wall(sut, m)
            m["self.wall_s"], m["self.other_s"] = wall, other
            m["trace.untraced_ops_per_s"] = base["ops_per_s"]
            m["trace.traced_ops_per_s"] = m["ops_per_s"]
            # the open loop's rate is fixed, so its overhead shows in latency
            if a.workload == "repl_open_loop":
                m["trace.overhead_pct"] = (m["e2e.lat_p50_ms"] / base["e2e.lat_p50_ms"] - 1) * 100
            else:
                m["trace.overhead_pct"] = (base["ops_per_s"] / m["ops_per_s"] - 1) * 100
            m["trace.untraced_lat_p50_ms"] = base["e2e.lat_p50_ms"]
            m["trace.traced_lat_p50_ms"] = m["e2e.lat_p50_ms"]
            m["attempted"] += base["attempted"]
            m["failed"] += base["failed"]
            m["mismatches"] = base["mismatches"] + m["mismatches"]
            names = PER_LAYER
        else:
            m = run_once(a.workload, a.seed, a.seconds, 0, rates, classpath, work)
            names = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(work + "-u", ignore_errors=True)

    for x in m["mismatches"][:40]:
        print(f"MISMATCH {x}")
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}")
    shown = names if a.trace else names + [
        (k, u) for k, u in PER_LAYER if k.startswith(("e2e.", "mem.")) and k in m]
    for k, u in shown:
        print(f"  {k:34s} {m.get(k, 0):>16.6g} {u}")
    print(f"  {'attempted':34s} {m['attempted']:>16d}\n  {'failed':34s} {m['failed']:>16d}")
    metrics = {}
    for k, u in names:
        v = float(m.get(k) or 0)
        if not math.isfinite(v):
            if not a.trace:
                log(f"{k} is not finite: the run measured nothing")
                sys.exit(3)
            v = 0.0
        metrics[k] = {"value": v, "unit": u}
    print(json.dumps({"correct": m["failed"] == 0, "attempted": int(m["attempted"]),
                      "failed": int(m["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()

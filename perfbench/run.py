#!/usr/bin/env python3
"""The project's benchmark: the live chat topology and the query roster.

    python3 perfbench/run.py --workload WORKLOAD --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the harness from source (perfbench/jvm, sbt); later runs reuse the build
while no source file has changed.

Workloads (see BENCHMARK.json for why each exists):
  chat    the live topology against a seeded fake IRC server, in two
          phases: live (open loop at a fixed line rate, 2 s triggers) and
          drain (a backlog drained through the source's admission control)
  roster  a fixed sample of `SparkEntry.queries` over seeded tables

Every run checks the program's outputs: the chat snapshots against counts
computed here from the generated lines, the roster outputs against each
query's DuckDB oracle. With --trace 0 the last line of stdout is a JSON
object with the end-to-end metrics; with --trace 1 it carries the
per-layer metrics, and the spans and per-trigger / per-query report are
written under perfbench/.work/. Exits non-zero on any wrong output.

End-to-end metrics:
  latency_ms        chat: geometric mean over the two snapshot tables of
                    each table's median freshness (scheduled send time of
                    the last line a snapshot covers to the end of the
                    trigger that wrote it); roster: geometric mean over
                    the queries of each query's median time over passes
  throughput_per_s  chat: backlog lines over drain time, median drain;
                    roster: queries over the sum of their median times
  heap_mb_peak      heap in use after a full collection: chat at the end
                    of the live phase, roster the largest after a query
  setup_s           median of three set-ups in one process (a fresh
                    session, then the topology's first snapshots or the
                    warm-up queries); the first of them is cold
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from datetime import datetime
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import chatgen  # noqa: E402
import report  # noqa: E402
from report import geomean, median, pct  # noqa: E402

# Spark runs two task slots on this four-vCPU host: with four, the task
# threads share the CPUs with the JIT, the collector and the load
# generator, and both the drain rate and the roster came out slower and
# far less steady from run to run.
CORES = 2
RUN_LIMIT_S = 170.0
# The heap is committed and touched up front so that no measured window
# pays for first-touch page faults, which made consecutive runs on a
# virtual machine drift apart by up to 1.5x. The parallel collector with
# two threads and two JIT compiler threads leave the other CPUs to the
# task slots; it also compacts, so heap in use after a full collection
# is the live set and nothing else.
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=1g",
    "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2",
    "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

# Workload parameters.
# chat, live phase: 1,000 lines/s for the run's seconds with 2 s triggers;
#   Zipf words over a chat vocabulary, half the tokens never seen before,
#   so word state grows to tens of thousands of keys. A word-table
#   trigger costs close to 1 s whatever its size, so with 1 s triggers
#   the phase sits at saturation and its freshness flips between two
#   regimes from run to run.
# chat, drain phase: a 100k-line backlog over a compact vocabulary drained
#   in 50k-line batches, at least twice and for half the run's seconds,
#   the median drain counting.
# roster: every sixteenth query of the roster by name over sf0.01 tables;
#   an untimed pass for the oracle check, then timed passes for the run's
#   seconds (at least three), each query's median pass counting.
LIVE_RATE, LIVE_INTERVAL = 1000, "2 seconds"
LIVE_VOCAB, LIVE_TAIL = 3000, 0.5
DRAIN_LINES, DRAIN_BATCH, DRAIN_VOCAB = 100_000, 50_000, 400
SETUP_LINES, SETUP_ROUNDS = 200, 3
ROSTER_SF, ROSTER_STRIDE = 0.01, 16
MIN_DRAINS, MIN_PASSES = 2, 3


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# --------------------------------------------------------------------- build

def _fingerprint():
    """Size and mtime of every build input: the program's build and
    sources, and the harness."""
    h = hashlib.sha1()
    files = [ROOT / "build.sbt"]
    for base in (ROOT / "project", ROOT / "src" / "main", HERE / "jvm"):
        files += sorted(p for p in base.rglob("*")
                        if p.is_file() and "target" not in p.relative_to(base).parts)
    for p in files:
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die("the program's build (build.sbt, src/main/scala) is not here; run from a checkout root")
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    fp = _fingerprint()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    log = WORK / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE / "jvm", stdout=f, stderr=subprocess.STDOUT, env=env,
                           stdin=subprocess.DEVNULL, timeout=850)
    lines = [ln for ln in log.read_text().splitlines() if ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(log.read_text()[-4000:])
        die("build failed")
    cp_file.write_text(lines[-1])
    stamp.write_text(fp)
    return lines[-1]


def cpu_ticks():
    """(steal, total) jiffies of the host as the guest sees them."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t)


def run_jvm(cp, cfg, name):
    cfg_path = WORK / f"{name}.config.json"
    cfg_path.write_text(json.dumps(cfg))
    log = open(WORK / f"{name}.jvm.log", "w")
    proc = subprocess.Popen(
        ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp", cp,
                               "perfbench.Harness", str(cfg_path)],
        stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    return proc, log


def wait_jvm(proc, log, deadline, name):
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = "timeout"
    log.close()
    if rc != 0:
        sys.stderr.write((WORK / f"{name}.jvm.log").read_text()[-6000:])
        die(f"harness failed ({rc})", 1)
    return json.loads((WORK / f"{name}.out.json").read_text())


# ---------------------------------------------------------------------- chat

def parse_ts_ms(ts):
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def read_table(path, key):
    import pyarrow.parquet as pq
    t = pq.read_table(path).to_pydict()
    return dict(zip(t[key], t["count"]))


def check_session(s, ref):
    """Lines lost plus keys whose final count differs from the reference."""
    bad = max(0, s["expect"] - s["consumed"]) if s["error"] is None else s["expect"]
    words, cats = ref
    for table, key, want in (("perfbench_wordcount", "word", words),
                             ("perfbench_categoryCount", "category", cats)):
        try:
            got = read_table(os.path.join(s["tables"], table), key)
        except Exception as e:  # missing or unreadable snapshot
            print(f"perfbench: {s['chan']} {table}: {e}", file=sys.stderr)
            return s["expect"]
        diff = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
        if diff:
            print(f"perfbench: {s['chan']} {table}: {len(diff)} keys differ, e.g. "
                  f"{[(k, got.get(k), want.get(k)) for k in diff[:3]]}", file=sys.stderr)
        bad += len(diff)
    return min(bad, s["expect"])


def chat_triggers(out, stats):
    """Per data trigger of every session: timings, state and freshness."""
    by_query = {}
    for s in out["sessions"] + out["setup_sessions"]:
        for qid, table in s["queries"].items():
            by_query[qid] = (s, table)
    rows = []
    for p in out["progress"]:
        if p["id"] not in by_query or p["numInputRows"] == 0:
            continue
        s, table = by_query[p["id"]]
        st = stats.get("#" + s["chan"])
        d = p["durationMs"]
        start = parse_ts_ms(p["timestamp"])
        end = start + d.get("triggerExecution", 0)
        end_off = int(p["sources"][0]["endOffset"])
        rate = st["rate"] if st else 0
        t0 = st["t0_ms"] if st else s["start_ms"]
        due_last = t0 + ((end_off - 1) / rate * 1000.0 if rate else 0.0)
        due_by_start = (min(s["expect"], int((start - t0) / 1000.0 * rate) + 1)
                        if rate else s["expect"])
        so = (p.get("stateOperators") or [{}])[0]
        rows.append({
            "chan": s["chan"], "label": s["label"], "phase": s["phase"], "table": table,
            "query": p["id"],
            "batch": p["batchId"], "start_ms": start, "end_ms": end,
            "lines": p["numInputRows"], "end_offset": end_off,
            "fresh_ms": end - due_last, "lag_lines": max(0, due_by_start - end_off),
            "after_end": bool(rate) and start > t0 + (s["expect"] - 1) / rate * 1000.0,
            "exec_ms": d.get("triggerExecution", 0), "latest_offset_ms": d.get("latestOffset", 0),
            "wal_ms": d.get("walCommit", 0), "get_batch_ms": d.get("getBatch", 0),
            "planning_ms": d.get("queryPlanning", 0), "add_batch_ms": d.get("addBatch", 0),
            "commit_ms": d.get("commitOffsets", 0),
            "state_rows": so.get("numRowsTotal", 0), "state_mem": so.get("memoryUsedBytes", 0),
            "state_commit_ms": so.get("commitTimeMs", 0),
            "state_update_ms": so.get("allUpdatesTimeMs", 0)})
    rows.sort(key=lambda r: (r["chan"], r["table"], r["batch"]))
    return rows


def run_chat(args, cp, deadline):
    n_live = int(LIVE_RATE * args.seconds)
    live_lines = chatgen.make_lines(args.seed, n_live, LIVE_VOCAB, LIVE_TAIL)
    drain_lines = chatgen.make_lines(args.seed, DRAIN_LINES, DRAIN_VOCAB, 0.0)
    live_file, drain_file = WORK / "live_lines.txt", WORK / "drain_lines.txt"
    live_file.write_text("\n".join(live_lines) + "\n")
    drain_file.write_text("\n".join(drain_lines) + "\n")
    stats_file, port_file = WORK / "irc_stats.jsonl", WORK / "irc_port"
    for f in (stats_file, port_file):
        f.unlink(missing_ok=True)
    spec = {"port_file": str(port_file), "stats": str(stats_file), "streams": {
        "setup": {"file": str(live_file), "rate": 0, "limit": SETUP_LINES},
        "live": {"file": str(live_file), "rate": LIVE_RATE, "limit": n_live},
        "drain": {"file": str(drain_file), "rate": 0, "limit": DRAIN_LINES}}}
    (WORK / "irc_spec.json").write_text(json.dumps(spec))
    server = subprocess.Popen([sys.executable, str(HERE / "ircserver.py"),
                               str(WORK / "irc_spec.json")], stdin=subprocess.DEVNULL)
    try:
        while not port_file.exists():
            if server.poll() is not None:
                die("fake IRC server exited", 1)
            time.sleep(0.02)
        cfg = {"mode": "chat", "cores": CORES, "work": str(WORK),
               "port": int(port_file.read_text()), "live_lines": n_live,
               "live_interval": LIVE_INTERVAL, "drain_lines": DRAIN_LINES,
               "drain_file": str(drain_file),
               "max_lines_per_trigger": DRAIN_BATCH, "seconds": args.seconds,
               "trace": bool(args.trace), "setup_rounds": SETUP_ROUNDS,
               "setup_lines": SETUP_LINES, "min_drains": MIN_DRAINS, "timeout_s": 60,
               "out": str(WORK / "chat.out.json")}
        proc, log = run_jvm(cp, cfg, "chat")
        out = wait_jvm(proc, log, deadline, "chat")
    finally:
        server.send_signal(signal.SIGTERM)
        try:
            server.wait(timeout=10)
        except subprocess.TimeoutExpired:
            server.kill()
            server.wait()
    stats = {}
    for ln in stats_file.read_text().splitlines() if stats_file.exists() else []:
        rec = json.loads(ln)
        stats[rec["channel"]] = rec

    refs = {"setup": chatgen.reference_counts(live_lines[:SETUP_LINES]),
            "live": chatgen.reference_counts(live_lines),
            "drain": chatgen.reference_counts(drain_lines)}
    for s in out["setup_sessions"]:
        s["phase"] = "setup"
    failed = attempted = 0
    for s in out["sessions"] + out["setup_sessions"]:
        attempted += s["expect"]
        failed += check_session(s, refs[s["phase"]])
    rows = chat_triggers(out, stats)

    def e2e(label, live_label):
        # snapshots of triggers that started after the last line was due
        # wait for a trigger tick once the generator has stopped; that wait
        # is an artefact of the stream ending, so they are left out
        live = [r for r in rows if r["label"] == live_label and r["phase"] == "live"
                and not r["after_end"]]
        fresh = [r["fresh_ms"] for r in live]
        # the word table carries the growing state and is the slower of
        # the two; the median of the pooled samples would fall in the gap
        # between the tables, so each table gets its own median
        per_table = [median([r["fresh_ms"] for r in live if r["table"] == t])
                     for t in ("wordcount", "categoryCount")]
        rates = []
        for s in out["sessions"]:
            if s["label"] == label and s["phase"] == "drain":
                ends = [r["end_ms"] for r in rows
                        if r["chan"] == s["chan"] and r["end_offset"] >= s["expect"]]
                if ends:
                    rates.append(s["expect"] / ((max(ends) - s["start_ms"]) / 1000.0))
        return {"latency_ms": geomean(per_table), "fresh_ms_p50": median(fresh),
                "fresh_ms_p95": pct(fresh, 0.95),
                "throughput_per_s": median(rates), "n_snapshots": len(fresh),
                "n_drains": len(rates)}

    # a traced run traces its only live session
    live_label = "t" if args.trace else "m"
    metrics = e2e("m", live_label)
    metrics["setup_s"] = median(out["setup_s"])
    metrics["heap_mb_peak"] = out["heap_mb_peak"]
    late = [v["late_ms_p99"] for k, v in stats.items() if k.startswith("#live")]
    extra = {"live_lines": n_live, "drain_lines": DRAIN_LINES,
             "gen.late_ms_p99": max(late) if late else 0.0,
             "pings": sum(v["pings"] for v in stats.values()),
             "pongs": sum(v["pongs"] for v in stats.values())}
    traced = None
    if args.trace:
        traced = e2e("t", live_label)
        extra["scale.drain_lines_per_s_1core"] = e2e("1core", live_label)["throughput_per_s"]
        extra["rows"] = rows
    return out, metrics, traced, extra, attempted, failed


# -------------------------------------------------------------------- roster

def canon(df):
    """Columns sorted by name, rows as sorted tuples of cell strings: the
    comparison tools/check.py replicates from the correctness gate."""
    import numpy as np
    for c in df.columns:
        if len(df) and isinstance(df[c].iloc[0], (list, np.ndarray)):
            raise ValueError(f"column {c} is array-typed")
    df = df[sorted(df.columns, key=str.lower)]
    return ([c.lower() for c in df.columns],
            sorted(tuple(str(v) for v in row) for row in df.itertuples(index=False)))


def check_roster(out, data_dir, verify_dir):
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    from tables import TABLES
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = set()
    for v in out["verify"]:
        q = v["query"]
        sql = out["oracle_sql"].get(q)
        try:
            if v["error"]:
                raise RuntimeError(v["error"])
            if sql is None:
                raise RuntimeError("no oracle SQL")
            if canon(con.sql(sql).df()) != canon(pd.read_parquet(verify_dir / q)):
                raise RuntimeError("output differs from the oracle")
        except Exception as e:
            print(f"perfbench: {q}: {str(e)[:300]}", file=sys.stderr)
            bad.add(q)
    for r in out["runs"]:
        if r["error"]:
            print(f"perfbench: {r['query']} pass {r['pass']}: {r['error'][:300]}", file=sys.stderr)
            bad.add(r["query"])
    return bad


def roster_stats(runs):
    """Per query the median over its timed passes; the geometric mean over
    queries weighs a 0.2 s query's change like a 1.5 s query's, and is
    steadier from run to run than the median query."""
    per_q = {}
    for r in runs:
        per_q.setdefault(r["query"], []).append(r["construct_s"] + r["action_s"])
    typical = {q: median(v) for q, v in per_q.items()}
    total = sum(typical.values())
    lat = [v * 1000.0 for v in typical.values()]
    return typical, {"latency_ms": geomean(lat), "query_s_p50": median(lat) / 1000,
                     "query_s_p90": pct(lat, 0.90) / 1000,
                     "throughput_per_s": len(typical) / total if total else 0.0}, total


def run_roster(args, cp, deadline):
    import tables
    data_dir = WORK / "tables"
    tables.generate(str(data_dir), ROSTER_SF, args.seed)
    verify_dir = WORK / "roster_verify"
    name = "roster"
    cfg = {"mode": "roster", "cores": CORES, "work": str(WORK), "data": str(data_dir),
           "stride": ROSTER_STRIDE, "seconds": args.seconds, "trace": bool(args.trace),
           "setup_rounds": SETUP_ROUNDS, "min_passes": MIN_PASSES,
           "verify_dir": str(verify_dir), "out": str(WORK / f"{name}.out.json")}
    proc, log = run_jvm(cp, cfg, name)
    out = wait_jvm(proc, log, deadline, name)
    bad = check_roster(out, data_dir, verify_dir)
    typical, metrics, total = roster_stats([r for r in out["runs"] if r["label"] == "m"])
    metrics["setup_s"] = median(out["setup_s"])
    metrics["heap_mb_peak"] = out["heap_mb_peak"]
    names = out["queries"]
    extra = {"queries": len(names), "roster_s": total, "per_query_s": typical,
             "passes": len({r["pass"] for r in out["runs"] if r["label"] == "m"})}
    traced = None
    if args.trace:
        t_runs = [r for r in out["runs"] if r["label"] == "t"]
        _, traced, t_total = roster_stats(t_runs)
        traced["roster_s"] = t_total
        extra["t_runs"] = t_runs
    return out, metrics, traced, extra, len(names), len(bad)


# ---------------------------------------------------------------------- main

E2E = [("latency_ms", "ms"), ("throughput_per_s", "1/s"), ("heap_mb_peak", "MB"),
       ("setup_s", "s")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["chat", "roster"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    WORK.mkdir(exist_ok=True)
    for d in ("chat", "roster_verify", "spark-local", "tables", "tmp", "warehouse"):
        shutil.rmtree(WORK / d, ignore_errors=True)
    (WORK / "tmp").mkdir()
    cp = build()
    deadline = max(deadline, time.time() + 120)
    runner = run_roster if args.workload == "roster" else run_chat
    steal0, total0 = cpu_ticks()
    out, metrics, traced, extra, attempted, failed = runner(args, cp, deadline)
    steal1, total1 = cpu_ticks()
    extra["host.steal_ratio"] = (steal1 - steal0) / max(1, total1 - total0)
    correct = failed == 0
    extra["host.spin_ms_before"] = out["spin_ms_before"]
    extra["host.spin_ms_after"] = out["spin_ms_after"]
    report.print_summary(args, metrics, extra, attempted, failed)
    if args.trace:
        layer = report.per_layer(args, out, metrics, traced, extra, WORK)
        result = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        result = {k: {"value": metrics[k], "unit": u} for k, u in E2E}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

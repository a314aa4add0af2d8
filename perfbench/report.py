"""Summary, per-layer metrics, spans and the traced-run report."""
import json
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    if not xs or min(xs) <= 0:
        return 0.0
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def union_ms(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def print_summary(args, metrics, extra, attempted, failed):
    """The end-to-end metrics under the names the project uses for them."""
    lines = [f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  "
             f"trace {args.trace}"]
    if args.workload == "chat":
        lines += [f"latency_ms          {metrics['latency_ms']:.1f} ms  (geometric mean over "
                  f"the two tables of each one's median freshness)",
                  f"fresh_ms_p50        {metrics['fresh_ms_p50']:.1f} ms  "
                  f"({metrics['n_snapshots']} snapshots, live phase, "
                  f"{extra['live_lines']} lines)",
                  f"fresh_ms_p95        {metrics['fresh_ms_p95']:.1f} ms",
                  f"drain_lines_per_s   {metrics['throughput_per_s']:.0f} 1/s  "
                  f"(median of {metrics['n_drains']} drains of {extra['drain_lines']} lines)"]
    else:
        lines += [f"latency_ms          {metrics['latency_ms']:.1f} ms  (geometric mean "
                  f"query time)",
                  f"roster_s            {extra['roster_s']:.3f} s  ({extra['queries']} queries, "
                  f"median of {extra['passes']} passes each)",
                  f"query_s_p50         {metrics['query_s_p50']:.3f} s",
                  f"query_s_p90         {metrics['query_s_p90']:.3f} s"]
    lines += [f"setup_s             {metrics['setup_s']:.3f} s",
              f"heap_mb_peak        {metrics['heap_mb_peak']:.1f} MB",
              f"fail_ratio          {failed / max(1, attempted):.6f}  ({failed} of {attempted})",
              f"host.spin_ms        {extra['host.spin_ms_before']:.1f} before, "
              f"{extra['host.spin_ms_after']:.1f} after; "
              f"steal {100 * extra['host.steal_ratio']:.1f}% of CPU time"]
    if "gen.late_ms_p99" in extra:
        lines.append(f"gen.late_ms_p99     {extra['gen.late_ms_p99']:.2f} ms  "
                     f"(PING {extra['pings']}, PONG {extra['pongs']})")
    print("\n".join(lines))


def _stage_job(jobs):
    owner = {}
    for j in sorted(jobs, key=lambda j: j["start_ms"]):
        for s in j["stages"]:
            owner.setdefault(s, j["job"])
    return owner


def _listener_totals(jobs, stages, reps):
    owner = _stage_job(jobs)
    mine = {j["job"] for j in jobs}
    st = [s for s in stages if owner.get(s["stage"]) in mine and s["start_ms"] >= 0]
    reps = max(1, reps)
    return {
        "stage.tasks": (sum(s["tasks"] for s in st) / reps, "count"),
        "stage.busy_s": (union_ms([(s["start_ms"], s["end_ms"]) for s in st]) / 1000 / reps, "s"),
        "task.run_s": (sum(s["run_ms"] for s in st) / 1000 / reps, "s"),
        "task.gc_ms": (sum(s["gc_ms"] for s in st) / reps, "ms"),
        "shuffle.read_bytes": (sum(s["shuffle_read_bytes"] for s in st) / reps, "B"),
        "shuffle.write_bytes": (sum(s["shuffle_write_bytes"] for s in st) / reps, "B"),
        "spill.bytes": (sum(s["spill_bytes"] for s in st) / reps, "B"),
    }


LAYER_UNITS = {
    "source.lag_lines_p95": "count", "source.latest_offset_ms_p50": "ms",
    "source.lines_per_trigger_p50": "count",
    "trigger.count": "count", "trigger.exec_ms_p50": "ms", "trigger.add_batch_ms_p50": "ms",
    "trigger.planning_ms_p50": "ms", "trigger.wal_ms_p50": "ms", "trigger.jobs_p50": "count",
    "state.keys_end": "count", "state.mem_bytes_end": "B", "state.commit_ms_p50": "ms",
    "state.update_ms_p50": "ms",
    "sink.write_ms_p50": "ms", "sink.write_ms_p95": "ms", "sink.rows_per_write_p50": "count",
    "kernel.parse_ns_per_line": "ns", "kernel.clean_tokens_ns_per_line": "ns",
    "kernel.classify_ns_per_line": "ns",
    "stage.tasks": "count", "shuffle.read_bytes": "B", "shuffle.write_bytes": "B",
    "spill.bytes": "B", "task.gc_ms": "ms",
    "query.construct_s": "s", "query.action_s": "s", "query.jobs": "count",
    "query.stages": "count", "query.driver_gap_s": "s", "stage.busy_s": "s",
    "task.run_s": "s", "query.leaked_rdds": "count",
    "scale.drain_lines_per_s_1core": "1/s",
    "gen.late_ms_p99": "ms", "host.spin_ms_before": "ms", "host.spin_ms_after": "ms",
    "trace.overhead_ratio": "ratio",
}


def _chat_layers(out, metrics, traced, extra, spans, report):
    """Traced sessions only: source, trigger, state and sink layers from
    the live phase; listener totals per drain from the drain phase."""
    t_sessions = [s for s in out["sessions"] if s["label"] == "t"]
    rows = [r for r in extra["rows"] if r["label"] == "t"]
    live = [r for r in rows if r["phase"] == "live"]
    live_chans = {s["chan"] for s in t_sessions if s["phase"] == "live"}
    drain_ids = {q for s in t_sessions if s["phase"] == "drain" for q in s["queries"]}
    jobs = [j for j in out["jobs"] if j["query_id"]]
    per_trigger = {}
    for j in jobs:
        per_trigger.setdefault((j["query_id"], j["batch_id"]), []).append(j)
    write_ms = [w["end_ms"] - w["start_ms"] for w in out["sink_writes"]
                if w["chan"] in live_chans]
    ends = [[r for r in live if r["chan"] == c and r["table"] == "wordcount"][-1]
            for c in live_chans if any(r["chan"] == c for r in live)]
    k = out["kernels"]
    v = {
        "source.lag_lines_p95": pct([r["lag_lines"] for r in live], 0.95),
        "source.latest_offset_ms_p50": median([r["latest_offset_ms"] for r in live]),
        "source.lines_per_trigger_p50": median([r["lines"] for r in live]),
        "trigger.count": len(live) / max(1, len(live_chans)),
        "trigger.exec_ms_p50": median([r["exec_ms"] for r in live]),
        "trigger.add_batch_ms_p50": median([r["add_batch_ms"] for r in live]),
        "trigger.planning_ms_p50": median([r["planning_ms"] for r in live]),
        "trigger.wal_ms_p50": median([r["wal_ms"] for r in live]),
        "trigger.jobs_p50": median([len(per_trigger.get((r["query"], str(r["batch"])), []))
                                    for r in live]),
        "state.keys_end": median([r["state_rows"] for r in ends]),
        "state.mem_bytes_end": median([r["state_mem"] for r in ends]),
        "state.commit_ms_p50": median([r["state_commit_ms"] for r in live]),
        "state.update_ms_p50": median([r["state_update_ms"] for r in live]),
        "sink.write_ms_p50": median(write_ms),
        "sink.write_ms_p95": pct(write_ms, 0.95),
        "sink.rows_per_write_p50": median([r["state_rows"] for r in live]),
        "kernel.parse_ns_per_line": k["parse_ns_per_line"],
        "kernel.clean_tokens_ns_per_line": k["clean_tokens_ns_per_line"],
        "kernel.classify_ns_per_line": k["classify_ns_per_line"],
        "scale.drain_lines_per_s_1core": extra["scale.drain_lines_per_s_1core"],
        # drain time traced / untraced: the drain phase has the most samples
        "trace.overhead_ratio": metrics["throughput_per_s"] / traced["throughput_per_s"],
    }
    n_drains = sum(1 for s in t_sessions if s["phase"] == "drain")
    v.update({n: x for n, (x, _) in _listener_totals(
        [j for j in jobs if j["query_id"] in drain_ids], out["stages"], n_drains).items()})

    # spans: session > trigger > phases; trigger > job > stage; sink writes
    # under the trigger of their table that encloses them
    owner = _stage_job(jobs)
    trig_span = {}
    for s in t_sessions:
        sid = f"session:{s['chan']}"
        spans.append({"id": sid, "name": f"session {s['phase']}", "start_ms": s["start_ms"],
                      "end_ms": s["done_ms"], "parent": None})
        mine = [r for r in rows if r["chan"] == s["chan"]]
        for r in mine:
            tid = f"trigger:{s['chan']}:{r['table']}:{r['batch']}"
            trig_span[(r["query"], str(r["batch"]))] = tid
            spans.append({"id": tid, "name": f"trigger {r['table']}", "start_ms": r["start_ms"],
                          "end_ms": r["end_ms"], "parent": sid, "lines": r["lines"]})
            # Spark reports phase durations, not start times: phases are
            # laid out back to back in the order a trigger runs them
            t = r["start_ms"]
            for ph in ("latest_offset_ms", "wal_ms", "get_batch_ms", "planning_ms",
                       "add_batch_ms", "commit_ms"):
                spans.append({"id": f"{tid}:{ph[:-3]}", "name": ph[:-3], "start_ms": t,
                              "end_ms": t + r[ph], "parent": tid})
                t += r[ph]
        for w in [w for w in out["sink_writes"] if w["chan"] == s["chan"]]:
            table = "wordcount" if w["table"].endswith("_wordcount") else "categoryCount"
            parent = next((f"trigger:{s['chan']}:{r['table']}:{r['batch']}" for r in mine
                           if r["table"] == table and r["start_ms"] <= w["start_ms"] <= r["end_ms"]),
                          sid)
            spans.append({"id": f"sink:{w['chan']}:{w['table']}:{w['start_ms']}",
                          "name": f"sink.write {w['table']}", "start_ms": w["start_ms"],
                          "end_ms": w["end_ms"], "parent": parent})
    _job_stage_spans(jobs, out["stages"], owner,
                     lambda j: trig_span.get((j["query_id"], j["batch_id"])), spans)

    for phase in ("live", "drain"):
        report.append(f"per-trigger phases, traced {phase} sessions "
                      "(ms; st.rows = state rows = rows per snapshot)")
        hdr = ("chan", "table", "batch", "lines", "exec", "latest", "wal", "plan", "addBatch",
               "commit", "st.upd", "st.commit", "st.rows", "fresh")
        report.append(" ".join(f"{h:>10}" for h in hdr))
        for r in [r for r in rows if r["phase"] == phase]:
            report.append(" ".join(f"{x:>10}" for x in (
                r["chan"][-10:], r["table"][:10], r["batch"], r["lines"], r["exec_ms"],
                r["latest_offset_ms"], r["wal_ms"], r["planning_ms"], r["add_batch_ms"],
                r["commit_ms"], r["state_update_ms"], r["state_commit_ms"], r["state_rows"],
                f"{r['fresh_ms']:.0f}")))
        report.append("")
    return v


def _job_stage_spans(jobs, stages, owner, parent_of, spans):
    mine = {j["job"] for j in jobs}
    for j in jobs:
        spans.append({"id": f"job:{j['job']}", "name": "job", "start_ms": j["start_ms"],
                      "end_ms": j["end_ms"], "parent": parent_of(j)})
    for s in stages:
        if owner.get(s["stage"]) in mine and s["start_ms"] >= 0:
            spans.append({"id": f"stage:{s['stage']}.{s['attempt']}", "name": "stage",
                          "start_ms": s["start_ms"], "end_ms": s["end_ms"],
                          "parent": f"job:{owner[s['stage']]}", "tasks": s["tasks"]})


def _roster_layers(out, metrics, traced, extra, spans, report):
    runs = extra["t_runs"]
    jobs = [j for j in out["jobs"] if j["unit"]]
    owner = _stage_job(jobs)
    stage_by_id = {s["stage"]: s for s in out["stages"] if s["start_ms"] >= 0}
    by_unit = {}
    for j in jobs:
        by_unit.setdefault(j["unit"], []).append(j)
    per_q = {}
    for r in runs:
        unit = f"{r['label']}:{r['pass']}:{r['query']}"
        js = by_unit.get(unit, [])
        ids = {j["job"] for j in js}
        st = [stage_by_id[s] for s, o in owner.items() if o in ids and s in stage_by_id]
        wall = r["end_ms"] - r["start_ms"]
        busy = union_ms([(s["start_ms"], s["end_ms"]) for s in st])
        per_q.setdefault(r["query"], []).append({
            "construct_s": r["construct_s"], "action_s": r["action_s"], "jobs": len(js),
            "stages": len(st), "busy_s": busy / 1000, "gap_s": (wall - busy) / 1000,
            "run_s": sum(s["run_ms"] for s in st) / 1000, "leaked": r["leaked"]})
        pid = f"pass:{r['label']}:{r['pass']}"
        qid = f"query:{unit}"
        t1 = r["start_ms"] + r["construct_s"] * 1000
        spans += [
            {"id": qid, "name": r["query"], "start_ms": r["start_ms"], "end_ms": r["end_ms"],
             "parent": pid},
            {"id": qid + ":construct", "name": "construct", "start_ms": r["start_ms"],
             "end_ms": t1, "parent": qid},
            {"id": qid + ":action", "name": "toRdd.count", "start_ms": t1,
             "end_ms": r["end_ms"], "parent": qid}]
    for p in {r["pass"] for r in runs}:
        rs = [r for r in runs if r["pass"] == p]
        spans.append({"id": f"pass:t:{p}", "name": "roster pass", "parent": None,
                      "start_ms": min(r["start_ms"] for r in rs),
                      "end_ms": max(r["end_ms"] for r in rs)})
    run_by_unit = {f"{r['label']}:{r['pass']}:{r['query']}": r for r in runs}

    def parent(j):
        r = run_by_unit.get(j["unit"])
        if r is None:
            return None
        qid = f"query:{j['unit']}"
        return qid + (":construct" if j["start_ms"] < r["start_ms"] + r["construct_s"] * 1000
                      else ":action")
    _job_stage_spans(jobs, out["stages"], owner, parent, spans)

    med = {q: {k: median([x[k] for x in xs]) for k in xs[0]} for q, xs in per_q.items()}
    passes = max(1, len({r["pass"] for r in runs}))
    tot = {k: sum(m[k] for m in med.values()) for k in next(iter(med.values()))}
    v = {"query.construct_s": tot["construct_s"], "query.action_s": tot["action_s"],
         "query.jobs": tot["jobs"], "query.stages": tot["stages"],
         "query.driver_gap_s": tot["gap_s"], "stage.busy_s": tot["busy_s"],
         "task.run_s": tot["run_s"], "query.leaked_rdds": tot["leaked"],
         "trace.overhead_ratio": traced["roster_s"] / extra["roster_s"]}
    lt = _listener_totals(jobs, out["stages"], passes)
    for n in ("stage.tasks", "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes",
              "task.gc_ms"):
        v[n] = lt[n][0]

    for key, title in (("gap_s", "query.driver_gap_s"), ("busy_s", "stage.busy_s")):
        report.append(f"top roster queries by {title} (median of traced passes)")
        report.append(f"{'query':<36}{'wall_s':>9}{'constr_s':>9}{'gap_s':>9}{'busy_s':>9}"
                      f"{'jobs':>6}{'stages':>7}{'leaked':>7}")
        for q, m in sorted(med.items(), key=lambda kv: -kv[1][key])[:8]:
            report.append(f"{q:<36}{m['construct_s'] + m['action_s']:>9.3f}"
                          f"{m['construct_s']:>9.3f}{m['gap_s']:>9.3f}{m['busy_s']:>9.3f}"
                          f"{m['jobs']:>6.0f}{m['stages']:>7.0f}{m['leaked']:>7.0f}")
        report.append("")
    return v


def per_layer(args, out, metrics, traced, extra, work):
    """Every per-layer metric (0 where a layer is not on this workload's
    path), plus the spans file and the report file."""
    spans, report = [], []
    if args.workload == "roster":
        v = _roster_layers(out, metrics, traced, extra, spans, report)
    else:
        v = _chat_layers(out, metrics, traced, extra, spans, report)
    v["gen.late_ms_p99"] = extra.get("gen.late_ms_p99", 0.0)
    v["host.spin_ms_before"] = extra["host.spin_ms_before"]
    v["host.spin_ms_after"] = extra["host.spin_ms_after"]
    layers = {n: (float(v.get(n, 0.0)), u) for n, u in LAYER_UNITS.items()}
    tag = f"{args.workload}-seed{args.seed}"
    (work / f"spans-{tag}.json").write_text(json.dumps(spans))
    text = "\n".join(report)
    (work / f"report-{tag}.txt").write_text(text + "\n")
    print(text)
    print(f"spans: {len(spans)} written to {work.name}/spans-{tag}.json; "
          f"report in {work.name}/report-{tag}.txt")
    return layers

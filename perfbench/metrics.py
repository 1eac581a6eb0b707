"""Turn a run record (written by perfbench/src/perfbench/Main.scala) into
the benchmark's end-to-end and per-layer metrics.

Every time in the record is System.nanoTime of the benchmark JVM. An
"operation" is the unit the workload's op_p50_ms measures: a dashboard
statement (tsdb_serve), a lane (lake_analytics), a pipeline stage
(corpus_pipeline). Per-operation Spark counts are the counts of the job
group the benchmark set around that operation.
"""
import math
import statistics

from stats import lock_wait, percentile, self_times, union_length

STAGES = ["quality", "decontaminate", "exact_dedup", "near_dedup", "sample", "semantic_dedup"]
NS_MS = 1e6
NS_S = 1e9


def _ms(a, b):
    return (b - a) / NS_MS


def _timed_ops(rec, kinds):
    return [o for o in rec["ops"] if o["counted"] and o["kind"] in kinds]


def _passes_s(rec):
    return [(p["end"] - p["start"]) / NS_S for p in rec["passes"]]


def _dashboard(rec):
    """tsdb_serve's dashboard statements in the order sent; the k-th (from
    1) is the k-th call into the sql route."""
    return sorted((o for o in rec["ops"] if o["kind"] == "query"),
                  key=lambda o: int(o["tag"].rsplit(":", 1)[1]))


def _committed_bodies(rec):
    """{spool body number: (commit end, stream end)}."""
    out = {}
    for c in rec["commits"]:
        for b in range(c["first"], c["last"] + 1):
            out[b] = (c["committed"], c["streamed"])
    return out


def end_to_end(workload, rec, truth, params):
    """({metric: (value, unit)}, detail) for an untraced run."""
    detail = {}
    if workload == "tsdb_serve":
        done = _committed_bodies(rec)
        # pass_s: the backfill's rounds times its median round, from the
        # round's first POST until its last body is committed and streamed;
        # the median keeps a burst of host noise in one round out of it
        backfill = sorted((s for s in rec["sent"] if s["phase"] == "backfill"),
                          key=lambda s: s["index"])
        per = math.ceil(len(backfill) / params["backfill_rounds"])
        rounds = [backfill[i:i + per] for i in range(0, len(backfill), per)]
        round_s = [(done[r[-1]["body"]][1] - r[0]["start"]) / NS_S for r in rounds]
        pass_s = len(rounds) * statistics.median(round_s)
        q = [_ms(x["start"], x["end"]) for x in _dashboard(rec)]
        op_p50 = statistics.median(q)
        steady = [s for s in rec["sent"] if s["phase"] == "steady" and s["ok"]]
        ingest = [_ms(s["sched"], done[s["body"]][0]) for s in steady if s["body"] in done]
        rollup = [_ms(s["sched"], done[s["body"]][1]) for s in steady if s["body"] in done]
        late = [_ms(s["sched"], s["start"]) for s in steady]
        points = truth["points"]
        backfill_points = sum(len(points[f"backfill-{i:05d}.lp"])
                              for i in range(params["backfill_bodies"]))
        committed = len(points["seed.lp"]) + backfill_points + sum(
            len(points[f"steady-{s['index']:05d}.lp"]) for s in steady if s["body"] in done)
        files = rec["files"]
        b0, b1 = rec["backfill"]
        detail.update(
            backfill_round_s=round_s, backfill_wall_s=(b1 - b0) / NS_S,
            backfill_points_per_s=backfill_points / pass_s,
            query_samples=len(q), query_p95_ms=percentile(q, 0.95),
            ingest_lag_samples=len(ingest),
            ingest_lag_p50_ms=percentile(ingest, 0.5), ingest_lag_p95_ms=percentile(ingest, 0.95),
            rollup_lag_p50_ms=percentile(rollup, 0.5),
            steady_bodies_sent=len(steady), steady_bodies_uncommitted=len(steady) - len(ingest),
            gen_late_p99_ms=percentile(late, 0.99), gen_late_max_ms=max(late, default=0.0),
            bytes_per_point=(files["raw"]["bytes"] + files["rollup"]["bytes"]) / committed,
            committed_points=committed, drained=rec["drained"],
            backfill_done=rec["backfill_done"])
    else:
        kinds = {"lane"} if workload == "lake_analytics" else set(STAGES)
        passes = _passes_s(rec)
        pass_s = statistics.median(passes)
        q = [_ms(o["start"], o["end"]) for o in _timed_ops(rec, kinds)]
        op_p50 = statistics.median(q)
        detail.update(passes=len(passes), op_samples=len(q), op_p95_ms=percentile(q, 0.95))
        if workload == "corpus_pipeline":
            detail["docs_per_s"] = rec["input_docs"] / pass_s
            detail["stage_rows_last_pass"] = rec["stage_rows"][-1]
    return {
        "setup_s": (statistics.median(rec["setup_s"]), "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "pass_s": (pass_s, "s"),
        "op_p50_ms": (op_p50, "ms"),
    }, detail


def _pct(values, q):
    """Percentile for a per-layer metric: 0 for a layer that did no work,
    -1 when the sample is too small for the percentile rule."""
    if not values:
        return 0.0
    v = percentile(values, q)
    return -1.0 if v is None else float(v)


def _median_or_zero(values):
    return float(statistics.median(values)) if values else 0.0


def per_layer(workload, rec, truth, params, e2e):
    """{metric: (value, unit)} for a traced run. Every metric is reported on
    every workload; a layer the workload does not exercise reads 0."""
    lst = rec["listeners"]
    tags = lst.get("tags", {})
    spans = [dict(zip(("id", "parent", "name", "req", "start", "end"), s)) for s in rec["spans"]]
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    m = {}

    # ---- operations and their job groups --------------------------------
    if workload == "tsdb_serve":
        # dashboard statement k is the k-th call into the sql route
        http = {s["req"]: s for s in by_name.get("admin.exec_http", [])}
        ops = [(f"sql:{k + 1}", http[k + 1]["start"], http[k + 1]["end"])
               for k in range(len(_dashboard(rec))) if k + 1 in http]
    else:
        kinds = {"lane"} if workload == "lake_analytics" else set(STAGES)
        ops = [(o["tag"], o["start"], o["end"]) for o in _timed_ops(rec, kinds)]
    per_op = [tags.get(t, {}) for t, _, _ in ops]

    def op_med(key):
        return _median_or_zero([c.get(key, 0) for c in per_op])

    # ---- sources: WireHttp + LineProtocol ------------------------------
    writes = [_ms(s["start"], s["end"]) for s in by_name.get("sources.wire_write", [])]
    m["sources.wire_write_ms_p50"] = (_pct(writes, 0.5), "ms")
    m["sources.wire_write_ms_p95"] = (_pct(writes, 0.95), "ms")
    # a dashboard round trip (client thread) is the parent of its
    # admin.exec_http span (listener thread): the wire's cost is the round
    # trip's self time
    tree = []
    if workload == "tsdb_serve":
        http = {s["req"]: s for s in by_name.get("admin.exec_http", [])}
        for k, q in enumerate(_dashboard(rec)):
            if k + 1 in http:
                h = http[k + 1]
                tree += [{"id": ("q", k), "parent": None, "start": q["start"], "end": q["end"]},
                         {"id": ("h", k), "parent": ("q", k), "start": h["start"], "end": h["end"]}]
    own = self_times(tree)
    overhead = [own[s["id"]] / NS_MS for s in tree if s["id"][0] == "q"]
    m["sources.wire_sql_overhead_ms_p50"] = (_pct(overhead, 0.5), "ms")
    m["sources.spool_bytes"] = (float(sum(c["bytes"] for c in rec.get("commits", []))), "bytes")

    # ---- admin: AdminEngine ----------------------------------------------
    commits = by_name.get("admin.write_lines", [])
    m["admin.write_lines_ms_p50"] = (_pct([_ms(c["start"], c["end"]) for c in commits], 0.5), "ms")
    m["admin.write_lines_ms_p95"] = (_pct([_ms(c["start"], c["end"]) for c in commits], 0.95), "ms")
    points = truth.get("points", {})
    body_points = {}
    for s in rec.get("sent", []):
        if s["ok"]:
            name = f"{s['phase']}-{s['index']:05d}.lp"
            body_points[s["body"]] = len(points.get(name, []))
    per_commit = [sum(body_points.get(b, 0) for b in range(c["first"], c["last"] + 1))
                  for c in rec.get("commits", [])]
    m["admin.points_per_commit_p50"] = (_median_or_zero(per_commit), "count")
    commit_tags = [t for t in tags if t.startswith("commit:")]
    m["admin.write_lines_jobs"] = (_median_or_zero([tags[t]["jobs"] for t in commit_tags]), "count")
    spool = sum(c["bytes"] for c in rec.get("commits", []))
    read = sum(tags[t]["input_bytes"] for t in commit_tags)
    m["admin.read_amplification"] = (read / spool if spool else 0.0, "ratio")
    stmts = by_name.get("admin.exec_http", [])
    m["admin.exec_http_ms_p50"] = (_pct([_ms(s["start"], s["end"]) for s in stmts], 0.5), "ms")
    m["admin.exec_http_ms_p95"] = (_pct([_ms(s["start"], s["end"]) for s in stmts], 0.95), "ms")
    waits = [w / NS_MS for w in lock_wait([(s["start"], s["end"]) for s in stmts],
                                          [(c["start"], c["end"]) for c in commits])]
    m["admin.lock_wait_ms_p50"] = (_pct(waits, 0.5), "ms")
    m["admin.lock_wait_ms_p95"] = (_pct(waits, 0.95), "ms")

    # ---- stream jobs: StreamingQueryProgress -------------------------------
    prog = lst.get("stream_progress", [])
    m["stream.triggers"] = (float(len(prog)), "count")
    m["stream.trigger_ms_p50"] = (_pct([p["trigger_ms"] for p in prog], 0.5), "ms")
    m["stream.add_batch_ms_p50"] = (_pct([p["add_batch_ms"] for p in prog], 0.5), "ms")
    m["stream.rows_per_trigger_p50"] = (_pct([p["rows"] for p in prog], 0.5), "count")
    awaits = [_ms(s["start"], s["end"]) for s in by_name.get("stream.await", [])]
    m["stream.await_ms_p50"] = (_pct(awaits, 0.5), "ms")
    last = max(prog, key=lambda p: p["end_ns"]) if prog else {"state_rows": 0}
    m["stream.state_rows"] = (float(last["state_rows"]), "count")

    # ---- lake: stored tskv files --------------------------------------------
    files = rec.get("files", {})
    m["lake.raw_files"] = (float(files.get("raw", {}).get("files", 0)), "count")
    m["lake.raw_bytes"] = (float(files.get("raw", {}).get("bytes", 0)), "bytes")
    m["lake.rollup_files"] = (float(files.get("rollup", {}).get("files", 0)), "count")

    # ---- sql (Catalyst + graft.plans) and scan, per operation --------------
    m["sql.analysis_ms"] = (op_med("analysis_ms"), "ms")
    m["sql.optimization_ms"] = (op_med("optimization_ms"), "ms")
    m["sql.planning_ms"] = (op_med("planning_ms"), "ms")
    m["sql.actions_per_query"] = (op_med("actions"), "count")
    m["scan.files_per_query"] = (op_med("scan_files"), "count")
    m["scan.bytes_per_query"] = (op_med("scan_bytes"), "bytes")
    m["scan.rows_per_query"] = (op_med("scan_rows"), "count")

    # ---- spark: dispatch and execution -------------------------------------
    m["spark.jobs_per_query"] = (op_med("jobs"), "count")
    m["spark.stages_per_query"] = (op_med("stages"), "count")
    m["spark.tasks_per_query"] = (op_med("tasks"), "count")
    driver_self = [_ms(0, (b - a) - union_length(
        [tuple(iv) for iv in tags.get(t, {}).get("job_intervals", [])], a, b))
        for t, a, b in ops]
    m["spark.driver_self_ms_p50"] = (_pct(driver_self, 0.5), "ms")
    timed = {t: c for t, c in tags.items() if not t.startswith("check")}
    starts = [o["start"] for o in rec["ops"] if o["counted"] and o["kind"] != "check"]
    ends = [o["end"] for o in rec["ops"] if o["counted"] and o["kind"] != "check"]
    window_s = (max(ends) - min(starts)) / NS_S if starts else 1.0

    def rate(key):
        return sum(c[key] for c in timed.values()) / window_s

    m["spark.executor_run_ms"] = (rate("run_ms"), "ms/s")
    m["spark.executor_cpu_ms"] = (rate("cpu_ms"), "ms/s")
    m["spark.gc_ms"] = (rate("gc_ms"), "ms/s")
    tasks = lst.get("slowest_stage_task_ms", [])
    med = statistics.median(tasks) if tasks else 0
    m["spark.task_skew"] = (max(tasks) / med if med else 0.0, "ratio")
    m["shuffle.write_bytes"] = (rate("shuffle_write"), "bytes/s")
    m["shuffle.read_bytes"] = (rate("shuffle_read"), "bytes/s")
    m["shuffle.spill_bytes"] = (rate("spill"), "bytes/s")
    m["spark.peak_exec_mem_mb"] = (
        max((c["peak_exec_mem"] for c in timed.values()), default=0) / 2 ** 20, "MB")

    # ---- ops: graft.functions + graft.operators stages ---------------------
    stage_ops = _timed_ops(rec, set(STAGES)) if workload == "corpus_pipeline" else []
    last_rows = rec["stage_rows"][-1] if workload == "corpus_pipeline" else {}
    rows_in = rec.get("input_docs", 0)
    for st in STAGES:
        m[f"ops.{st}_ms"] = (_median_or_zero(
            [_ms(o["start"], o["end"]) for o in stage_ops if o["kind"] == st]), "ms")
        out = last_rows.get(st, 0)
        m[f"ops.{st}_keep_ratio"] = (out / rows_in if rows_in else 0.0, "ratio")
        rows_in = out

    # ---- the traced run's own end-to-end numbers, for trace overhead -------
    m["trace.pass_s"] = (e2e["pass_s"][0], "s")
    m["trace.op_p50_ms"] = (e2e["op_p50_ms"][0], "ms")
    return m

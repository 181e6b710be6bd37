"""Turn a harness record into checked metrics, and print them."""
import json
import os

import numpy as np

import checks
import gen
import stats

# End-to-end metrics, the same five on every workload (what each one
# measures per workload is in WORKLOAD_METRICS).
END_TO_END = {
    "setup_s": "s", "peak_rss_mb": "MB", "throughput_per_s": "1/s",
    "latency_p50_ms": "ms", "latency_tail_ms": "ms",
}

# The named end-to-end metric each generic one carries, per workload.
WORKLOAD_METRICS = {
    "pipeline_ingest": {"throughput_per_s": ("ingest.capacity_msgs_s", "msg/s"),
                        "latency_p50_ms": ("ingest.ack_p50_ms", "ms"),
                        "latency_tail_ms": ("ingest.ack_p99_ms", "ms")},
    "stateful_stream": {"throughput_per_s": ("join.capacity_rows_s", "rows/s"),
                        "latency_p50_ms": ("batcher.emit_p50_ms", "ms"),
                        "latency_tail_ms": ("batcher.emit_p90_ms", "ms")},
    "query_suite": {"throughput_per_s": ("query.cold_pass_queries_s", "queries/s"),
                    "latency_p50_ms": ("query.warm_p50_ms", "ms"),
                    "latency_tail_ms": ("query.warm_p75_ms", "ms")},
}

# Per-layer metrics of the traced run: name -> (unit, better). A layer the
# workload does not run reads 0.
PER_LAYER = {
    # graft.sources.QueueSource and the load generator
    "source.backlog_max": ("count", "lower"),
    "source.backlog_slope_msgs_s": ("msg/s", "lower"),
    "source.ack_lag_ms": ("ms", "lower"),
    "pipe.drain_ms": ("ms", "lower"),
    "gen.late_ms_p99": ("ms", "lower"),
    "ingest.sustainable_msgs_s": ("msg/s", "higher"),
    "ingest.capacity_1core_msgs_s": ("msg/s", "higher"),
    # micro-batch engine (StreamingQueryProgress) over the workload's main streaming phase
    "mb.count": ("count", "lower"),
    "mb.rows_mean": ("count", "higher"),
    "mb.trigger_ms_p50": ("ms", "lower"),
    "mb.trigger_ms_p99": ("ms", "lower"),
    "mb.add_batch_ms": ("ms", "lower"),
    "mb.wal_commit_ms": ("ms", "lower"),
    "mb.commit_offsets_ms": ("ms", "lower"),
    "mb.planning_ms": ("ms", "lower"),
    "mb.latest_offset_ms": ("ms", "lower"),
    # graft.core.Pipeline (RunningPipeline.stageMetrics and the bench's callbacks)
    "processor.ns_per_msg": ("ns", "lower"),
    "processor.failed": ("count", "lower"),
    "batcher.batches": ("count", "lower"),
    "batcher.msgs_per_batch": ("count", "higher"),
    "batcher.handle_ns_per_msg": ("ns", "lower"),
    "ack.calls": ("count", "lower"),
    "ack.msgs_ok": ("count", "lower"),
    "ack.msgs_failed": ("count", "lower"),
    "ack.call_ms_p99": ("ms", "lower"),
    # Spark execution under the streaming phase (SparkListener)
    "pipe.jobs_per_mb": ("count", "lower"),
    "pipe.stages_per_mb": ("count", "lower"),
    "pipe.tasks_per_mb": ("count", "lower"),
    "pipe.task_cpu_ms_per_kmsg": ("ms", "lower"),
    "pipe.shuffle_bytes_per_msg": ("bytes", "lower"),
    "pipe.gc_ms": ("ms", "lower"),
    # graft.streaming.KeyedBatcher and its state store
    "kb.emitted_size": ("count", "lower"),
    "kb.emitted_timeout": ("count", "lower"),
    "kb.emitted_flush": ("count", "lower"),
    "kb.open_groups_max": ("count", "lower"),
    "state.commit_ms": ("ms", "lower"),
    "state.rows_max": ("count", "lower"),
    "state.mem_mb_max": ("MB", "lower"),
    # graft.streaming.EventTime interval join
    "join.matched": ("count", "lower"),
    "join.dropped_late": ("count", "lower"),
    "join.state_rows_max": ("count", "lower"),
    "join.state_commit_ms": ("ms", "lower"),
    "join.add_batch_ms": ("ms", "lower"),
    "join.mb_count": ("count", "lower"),
    # graft.ops.Tables, query construction, Catalyst, codegen, execution, Caches (per warm pass)
    "tables.resolve_ms_p50": ("ms", "lower"),
    "query.construct_jobs": ("count", "lower"),
    "query.construct_ms_p50": ("ms", "lower"),
    "query.construct_ms_sum": ("ms", "lower"),
    "query.analysis_ms": ("ms", "lower"),
    "query.optimization_ms": ("ms", "lower"),
    "query.planning_ms": ("ms", "lower"),
    "query.codegen_ms_cold": ("ms", "lower"),
    "query.codegen_ms_warm": ("ms", "lower"),
    "query.exec_ms_sum": ("ms", "lower"),
    "query.jobs": ("count", "lower"),
    "query.stages": ("count", "lower"),
    "query.tasks": ("count", "lower"),
    "query.task_cpu_ms": ("ms", "lower"),
    "query.shuffle_bytes": ("bytes", "lower"),
    "query.spill_bytes": ("bytes", "lower"),
    "query.gc_ms": ("ms", "lower"),
    "caches.cold_builds": ("count", "lower"),
}

# Generator lateness above which a phase does not count (it did not offer
# the load it was meant to).
LATE_LIMIT_MS = 20.0

# Warm query latency tail: with 10 queries and four warm passes (40 samples)
# the 75th is the highest percentile with ten samples beyond it.
QUERY_TAIL_P = 75


def _mean(xs):
    return float(np.mean(xs)) if len(xs) else 0.0


def _in(t, lo, hi):
    return lo <= t <= hi


class Run:
    """Accumulates metrics, sample counts and failures of one run."""

    def __init__(self, workload):
        self.workload = workload
        self.metrics, self.named, self.failures, self.notes = {}, {}, [], {}
        self.attempted = 0

    def e2e(self, key, value, n, why=None):
        """Record an end-to-end metric. A value of None (too few samples, or
        the phase did not count) makes the run fail, with `why`."""
        name, unit = WORKLOAD_METRICS[self.workload].get(key, (key, END_TO_END[key]))
        if value is None:
            self.failures.append(f"{key} ({name}) missing: {why or f'too few samples ({n}) for its percentile'}")
        self.metrics[key] = (value, END_TO_END[key], n)
        if name != key:
            self.named[name] = (value, unit, n)

    def layer(self, key, value, n=None):
        self.metrics[key] = (float(value), PER_LAYER[key][0], n)


def progress_in(progress, lo, hi):
    return [p for p in progress if _in(p["start_us"], lo, hi)]


def mb_metrics(run, progress):
    trig = [p.get("triggerExecution", 0) for p in progress]
    run.layer("mb.count", len(progress))
    run.layer("mb.rows_mean", _mean([p["rows"] for p in progress]))
    run.layer("mb.trigger_ms_p50", stats.percentile(trig, 50) if trig else 0, len(trig))
    run.layer("mb.trigger_ms_p99", stats.percentile(trig, 99) if trig else 0, len(trig))
    for key, field in (("mb.add_batch_ms", "addBatch"), ("mb.wal_commit_ms", "walCommit"),
                       ("mb.commit_offsets_ms", "commitOffsets"), ("mb.planning_ms", "queryPlanning"),
                       ("mb.latest_offset_ms", "latestOffset")):
        run.layer(key, _mean([p.get(field, 0) for p in progress]), len(progress))


def exec_in(result, lo, hi):
    """Jobs, stages and task totals whose time falls in [lo, hi]."""
    ex = result.get("exec", {"tasks": [], "jobs": []})
    jobs = [j for j in ex["jobs"] if _in(j[0], lo, hi)]
    tasks = np.array([t for t in ex["tasks"] if _in(t[0], lo, hi)], dtype=np.float64).reshape(-1, 8)
    return {"jobs": len(jobs), "stages": sum(j[1] for j in jobs), "tasks": len(tasks),
            "cpu_ms": tasks[:, 1].sum() / 1e6, "shuffle": tasks[:, 3].sum(),
            "spill": tasks[:, 5].sum(), "gc_ms": tasks[:, 6].sum()}


def pipe_metrics(run, result, lo, hi, mbs, msgs):
    e = exec_in(result, lo, hi)
    per = max(mbs, 1)
    run.layer("pipe.jobs_per_mb", e["jobs"] / per)
    run.layer("pipe.stages_per_mb", e["stages"] / per)
    run.layer("pipe.tasks_per_mb", e["tasks"] / per)
    run.layer("pipe.task_cpu_ms_per_kmsg", e["cpu_ms"] / max(msgs / 1000.0, 1e-9))
    run.layer("pipe.shuffle_bytes_per_msg", e["shuffle"] / max(msgs, 1))
    run.layer("pipe.gc_ms", e["gc_ms"])


def spans_of(result, progress_sets):
    """The JVM's spans plus one span per micro-batch from progress
    timestamps. A micro-batch nests under the root span that contains it
    (a join wave); ack and handle_batch spans nest under their micro-batch."""
    spans = [dict(zip(("name", "start", "end", "id", "parent", "trace"), s)) for s in result.get("spans", [])]
    next_id = max([s["id"] for s in spans], default=0) + 1
    roots = [s for s in spans if s["parent"] == 0]
    mbs = []
    for name, progress in progress_sets:
        for p in progress:
            end = p["start_us"] + 1000 * p.get("triggerExecution", 0)
            outer = next((r for r in roots if r["start"] <= p["start_us"] and end <= r["end"]), None)
            mbs.append({"name": name, "start": p["start_us"], "end": end, "id": next_id,
                        "parent": outer["id"] if outer else 0, "trace": outer["trace"] if outer else next_id})
            next_id += 1
    mbs.sort(key=lambda s: s["start"])
    starts = [m["start"] for m in mbs]
    for s in spans:
        if s["parent"] == -1:
            i = int(np.searchsorted(starts, s["start"], side="right")) - 1
            if i >= 0 and mbs[i]["end"] >= s["start"]:
                s["parent"], s["trace"] = mbs[i]["id"], mbs[i]["trace"]
            else:
                s["parent"] = 0
    return spans + mbs


def span_summary(spans):
    self_t = stats.self_times(spans)
    out = {}
    for s in spans:
        o = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        o["count"] += 1
        o["total_ms"] += (s["end"] - s["start"]) / 1000.0
        o["self_ms"] += self_t[s["id"]] / 1000.0
    return out


def ingest(run, plan, result, inputs, work, trace):
    c = plan["ingest"]
    intended = gen.read(inputs, "action", "i1")
    pushed = result["pushed"]
    counts = gen.read(work, "acks_main", "i1")[:pushed]
    status = gen.read(work, "status_main", "i1")[:pushed]
    run.attempted += pushed
    run.failures += checks.acks(intended[:pushed], counts, status)
    if result["bad_chunks"]:
        run.failures.append(f"{result['bad_chunks']} handleBatch chunks over size or mixing batch keys")
    st = result["stage"]
    if st["processed"] + st["failed"] != pushed:
        run.failures.append(f"processed {st['processed']} + failed {st['failed']} != pushed {pushed}")

    rungs, sustainable, ref = [], 0.0, None
    for r in result["rungs"]:
        rate = r["rate"]
        # latency of messages due after the rung's first micro-batches
        settle = int(len(r["ack_ms"]) * c["settle_share"])
        lat = r["ack_ms"][settle:]
        s = stats.summary(lat, 99)
        b = np.array(r["backlog"], dtype=np.float64).reshape(-1, 5)
        gen_window = b[b[:, 0] <= r["gen_end_us"]]
        # growth test on the messages pushed but not yet acked
        grows = stats.backlog_grows((gen_window[:, 0] - gen_window[0, 0]) / 1e6,
                                    gen_window[:, 1] - gen_window[:, 4], rate)
        late = stats.percentile(r["late_ms"], 99)
        valid = late <= LATE_LIMIT_MS
        if not valid:
            run.failures.append(f"rung {rate} msg/s invalid: generator p99 lateness {late:.3g} ms "
                                f"over {LATE_LIMIT_MS} ms")
        ok = valid and r["drained"] and not grows and s["tail"] is not None and s["tail"] <= c["latency_limit_ms"]
        if ok:
            sustainable = max(sustainable, rate)
        rungs.append({"rate": rate, "msgs": len(lat), "ack_p50_ms": s["p50"], "ack_p99_ms": s["tail"],
                      "backlog_grows": grows, "gen_late_p99_ms": late, "valid": valid, "sustainable": ok})
        if rate == c["reference_rate"]:
            ref = (r, s, gen_window)
    run.notes["rungs"] = rungs
    r, s, window = ref
    if next(x["valid"] for x in rungs if x["rate"] == c["reference_rate"]):
        run.e2e("latency_p50_ms", s["p50"], s["n"])
        run.e2e("latency_tail_ms", s["tail"], s["n"])
    else:
        for key in ("latency_p50_ms", "latency_tail_ms"):
            run.e2e(key, None, s["n"], "the generator fell behind the reference rung")
    run.notes["reference_highest_percentile"] = s["highest_p"]
    caps = [x["msgs"] / x["seconds"] for x in result["saturated"]]
    run.e2e("throughput_per_s", stats.median(caps), len(caps))
    run.named["ingest.sustainable_msgs_s"] = (sustainable, "msg/s", len(rungs))
    if not trace:
        return
    one = result["one_core"]
    n1 = one["pushed"]
    run.attempted += n1
    run.failures += checks.acks(intended[:n1], gen.read(work, "acks_1core", "i1")[:n1],
                                gen.read(work, "status_1core", "i1")[:n1])
    if one["bad_chunks"]:
        run.failures.append(f"single core: {one['bad_chunks']} handleBatch chunks over size or mixing batch keys")
    if one["stage"]["processed"] + one["stage"]["failed"] != n1:
        run.failures.append(f"single core: processed + failed != pushed {n1}")
    backlog = window[:, 1] - window[:, 2]
    t = (window[:, 0] - window[0, 0]) / 1e6
    run.layer("source.backlog_max", backlog.max(), len(backlog))
    run.layer("source.backlog_slope_msgs_s", stats.slope(list(t), list(backlog)), len(backlog))
    lags = []
    committed_t = window[:, 0]
    for row in window[::10]:
        k = np.nonzero(window[:, 3] >= row[2])[0]
        if len(k):
            lags.append((committed_t[k[0]] - row[0]) / 1000.0)
    run.layer("source.ack_lag_ms", stats.percentile(lags, 50) if lags else 0, len(lags))
    run.layer("pipe.drain_ms", result["drain_ms"], 1)
    run.layer("gen.late_ms_p99", stats.percentile(r["late_ms"], 99), len(r["late_ms"]))
    run.layer("ingest.sustainable_msgs_s", sustainable, len(rungs))
    caps1 = [x["msgs"] / x["seconds"] for x in one["saturated"]]
    run.layer("ingest.capacity_1core_msgs_s", stats.median(caps1), len(caps1))
    prog = progress_in(result["progress"], r["start_us"], r["end_us"])
    mb_metrics(run, prog)
    msgs = sum(p["rows"] for p in prog)
    pipe_metrics(run, result, r["start_us"], r["end_us"], len(prog), msgs)
    run.layer("processor.ns_per_msg", st["processor_ns"] / max(st["processed"], 1))
    run.layer("processor.failed", st["failed"])
    run.layer("batcher.batches", st["batches"])
    run.layer("batcher.msgs_per_batch", st["batch_msgs"] / max(st["batches"], 1))
    run.layer("batcher.handle_ns_per_msg", st["batch_ns"] / max(st["batch_msgs"], 1))
    acks = [(s[2] - s[1]) / 1000.0 for s in result["spans"] if s[0] == "ack"]
    run.layer("ack.calls", len(acks))
    run.layer("ack.msgs_ok", st["ack_ok"])
    run.layer("ack.msgs_failed", st["ack_failed"])
    run.layer("ack.call_ms_p99", stats.percentile(acks, 99) if acks else 0, len(acks))
    run.spans = spans_of(result, [("micro_batch", result["progress"])])


def stateful(run, plan, result, inputs, work, trace):
    c = plan["stateful"]
    kb = result["batcher"]
    n = c["kb_msgs"]
    due_us = kb["due_start_us"] + gen.read(inputs, "kb_due", "f8") * 1e6
    fails, lat = checks.batches(n, kb["emit_us"], kb["trigger"], kb["ids"], due_us,
                                gen.read(inputs, "kb_flush", "i1"), c["batcher"]["batch_size"],
                                c["batcher"]["timeout_ms"])
    run.attempted += n
    run.failures += fails
    # A run emits ~4500 batches from only a dozen micro-batches, so the p99
    # is one slow micro-batch; the p90 spans several and repeats run to run.
    s = stats.summary(lat, 90)
    late = stats.percentile(kb["late_ms"], 99)
    run.notes["batcher_gen_late_p99_ms"] = late
    if late <= LATE_LIMIT_MS:
        run.e2e("latency_p50_ms", s["p50"], s["n"])
        run.e2e("latency_tail_ms", s["tail"], s["n"])
        run.named["batcher.emit_p99_ms"] = (stats.summary(lat, 99)["tail"], "ms", s["n"])
    else:
        why = f"the batcher feed fell behind: generator p99 lateness {late:.3g} ms over {LATE_LIMIT_MS} ms"
        for key in ("latency_p50_ms", "latency_tail_ms"):
            run.e2e(key, None, s["n"], why)
    run.notes["batcher_highest_percentile"] = s["highest_p"]

    j = result["join"]
    jc = c["join"]
    side = lambda s: (gen.read(inputs, f"{s}_ts", "i8"), gen.read(inputs, f"{s}_key", "i4"),
                      gen.read(inputs, f"{s}_late", "i1"))
    want, want_sum = checks.join_reference(side("left"), side("right"), jc["within_ms"])
    dropped = sum(p["dropped"] for p in j["progress"])
    want_dropped = c["left_late"] + c["right_late"]
    run.attempted += j["rows"]
    # each missing or extra row is one failed operation
    if j["matched"] != want or j["checksum"] != want_sum:
        msg = f"join matched {j['matched']} rows (checksum {j['checksum']}), reference {want} ({want_sum})"
        run.failures += [msg] * max(1, abs(j["matched"] - want))
    if dropped != want_dropped:
        run.failures += [f"join dropped {dropped} late rows, {want_dropped} injected"] * abs(dropped - want_dropped)
    run.e2e("throughput_per_s", j["rows"] / j["seconds"], 1)
    run.notes["join"] = {"matched": j["matched"], "dropped": dropped, "rows": j["rows"], "seconds": j["seconds"]}
    if not trace:
        return
    kbp = kb["progress"]
    mb_metrics(run, kbp)
    pipe_metrics(run, result, kb["start_us"], kb["end_us"], len(kbp), sum(p["rows"] for p in kbp))
    trig = kb["trigger"]
    run.layer("kb.emitted_size", trig.count("size"))
    run.layer("kb.emitted_timeout", trig.count("timeout"))
    run.layer("kb.emitted_flush", trig.count("flush"))
    run.layer("kb.open_groups_max", max([p["state_rows"] for p in kbp], default=0))
    run.layer("state.commit_ms", _mean([p["state_commit_ms"] for p in kbp]), len(kbp))
    run.layer("state.rows_max", max([p["state_rows"] for p in kbp], default=0))
    run.layer("state.mem_mb_max", max([p["state_mem"] for p in kbp], default=0) / 2 ** 20)
    jp = j["progress"]
    run.layer("join.matched", j["matched"])
    run.layer("join.dropped_late", dropped)
    run.layer("join.state_rows_max", max([p["state_rows"] for p in jp], default=0))
    run.layer("join.state_commit_ms", _mean([p["state_commit_ms"] for p in jp]), len(jp))
    run.layer("join.add_batch_ms", _mean([p.get("addBatch", 0) for p in jp]), len(jp))
    run.layer("join.mb_count", len(jp))
    run.spans = spans_of(result, [("kb.micro_batch", kbp), ("join.micro_batch", jp)])


def queries(run, plan, result, inputs, work, trace):
    import duckdb
    c = plan["queries"]
    runs = result["runs"]
    run.attempted += len(runs)
    for r in runs:
        if not r["ok"]:
            run.failures.append(f"{r['name']} pass {r['pass']}: {r['error']}")
    con = duckdb.connect()
    for t in gen.ROWS_AT_SF01.keys() | {"region", "nation"}:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(inputs, t)}.parquet'")
    run.attempted += len(c["queries"])
    mismatched = {}
    for name in c["queries"]:
        cold_run = next(r for r in runs if r["pass"] == 0 and r["name"] == name)
        if not cold_run["ok"] or "check_error" in cold_run:
            mismatched[name] = cold_run.get("check_error", "no output")
            continue
        sql = result["oracle_sql"].get(name)
        if sql is None:
            continue
        got = con.sql(f"SELECT * FROM '{os.path.join(work, 'check', name)}/*.parquet'").df()
        diff = checks.frames(con.sql(sql).df(), got)
        if diff:
            mismatched[name] = diff
    run.failures += [f"{n}: {d}" for n, d in mismatched.items()]
    run.notes["oracle_mismatches"] = mismatched
    query_latency(run, runs)
    if not trace:
        return
    warm = [r for r in runs if r["pass"] > 0 and r["ok"]]
    passes = max(1, len({r["pass"] for r in warm}))
    resolve = [stats.median(v) for v in result["resolve_ms"].values()]
    run.layer("tables.resolve_ms_p50", stats.percentile(resolve, 50), len(resolve))
    construct = [(r["construct_end_us"] - r["start_us"]) / 1000.0 for r in warm if "construct_end_us" in r]
    run.layer("query.construct_ms_p50", stats.percentile(construct, 50) if construct else 0, len(construct))
    run.layer("query.construct_ms_sum", sum(construct) / passes)
    jobs = result["exec"]["jobs"]
    run.layer("query.construct_jobs", sum(1 for r in warm for j in jobs
                                          if _in(j[0], r["start_us"], r.get("construct_end_us", 0))) / passes)
    plans = result["plans"]
    for i, key in ((2, "query.analysis_ms"), (3, "query.optimization_ms"), (4, "query.planning_ms")):
        run.layer(key, sum(p[i] for r in warm for p in plans if _in(p[0], r["start_us"], r["end_us"])) / passes)
    run.layer("query.codegen_ms_cold", sum(r["codegen_ms"] for r in runs if r["pass"] == 0))
    run.layer("query.codegen_ms_warm", sum(r["codegen_ms"] for r in warm) / passes)
    run.spans = spans_of(result, [])
    self_t = stats.self_times(run.spans)
    warm_exec = [s for s in run.spans if s["name"] == "execute"
                 and any(_in(s["start"], r["start_us"], r["end_us"]) for r in warm)]
    run.layer("query.exec_ms_sum", sum(self_t[s["id"]] for s in warm_exec) / 1000.0 / passes)
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "cpu_ms": 0.0, "shuffle": 0.0, "spill": 0.0, "gc_ms": 0.0}
    for r in warm:
        e = exec_in(result, r["start_us"], r["end_us"])
        for k in tot:
            tot[k] += e[k]
    for key, k in (("query.jobs", "jobs"), ("query.stages", "stages"), ("query.tasks", "tasks"),
                   ("query.task_cpu_ms", "cpu_ms"), ("query.shuffle_bytes", "shuffle"),
                   ("query.spill_bytes", "spill"), ("query.gc_ms", "gc_ms")):
        run.layer(key, tot[k] / passes)
    run.layer("caches.cold_builds", sum(r["cold_builds"] for r in warm) / passes)


def query_latency(run, runs):
    """Cold-pass throughput and warm latency. A failed query stays in the
    sample with the time it took to fail; its failure is counted from the
    harness record."""
    cold = [r for r in runs if r["pass"] == 0]
    warm = [r for r in runs if r["pass"] > 0]
    cold_s = sum(r["ms"] for r in cold) / 1000.0
    run.e2e("throughput_per_s", len(cold) / cold_s, len(cold))
    run.named["query.cold_pass_s"] = (cold_s, "s", len(cold))
    s = stats.summary([r["ms"] for r in warm], QUERY_TAIL_P)
    run.e2e("latency_p50_ms", s["p50"], s["n"])
    run.e2e("latency_tail_ms", s["tail"], s["n"])
    run.notes["warm_highest_percentile"] = s["highest_p"]
    run.notes["warm_passes"] = len({r["pass"] for r in warm})


def analyse(workload, plan, result, inputs, work, cfg, t_start):
    run = Run(workload)
    run.spans = []
    {"pipeline_ingest": ingest, "stateful_stream": stateful, "query_suite": queries}[workload](
        run, plan, result, inputs, work, plan["trace"] == 1)
    run.e2e("setup_s", result["first_timed_us"] / 1e6 - t_start, 1)
    run.e2e("peak_rss_mb", result["peak_rss_mb"], 1)
    if plan["trace"]:
        for k in PER_LAYER:
            run.metrics.setdefault(k, (0.0, PER_LAYER[k][0], 0))
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(run.spans, f)
        run.notes["spans"] = span_summary(run.spans)
    return summarise(run, plan["trace"])


def summarise(run, trace):
    failed = len(run.failures)
    return {"workload": run.workload, "trace": trace, "correct": failed == 0,
            "attempted": max(run.attempted, 1), "failed": failed,
            "failed_ratio": failed / max(run.attempted, 1),
            "metrics": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in run.metrics.items()},
            "named": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in run.named.items()},
            "failures": run.failures[:50], "notes": run.notes}


def show(rep, untraced):
    w = rep["workload"]
    kind = "traced" if rep["trace"] else "untraced"
    print(f"== {w} ({kind}): {rep['attempted']} operations, {rep['failed']} failed")
    print(f"  {'failed_ratio':34s} {rep['failed_ratio']:14.6g} fraction  n={rep['attempted']}")
    for k, m in sorted(rep["named"].items()) + sorted(rep["metrics"].items()):
        n = "" if m["n"] is None else f"n={m['n']}"
        v = "missing" if m["value"] is None else f"{m['value']:.6g}"
        print(f"  {k:34s} {v:>14s} {m['unit']:9s} {n}")
    for k, v in rep["notes"].items():
        print(f"  note {k}: {json.dumps(v)}")
    for f in rep["failures"][:20]:
        print(f"  FAILED {f}")
    if rep["trace"] and untraced:
        for k in END_TO_END:
            a, b = rep["metrics"].get(k), untraced["metrics"].get(k)
            if a and b and a["value"] is not None and b["value"] is not None:
                print(f"  overhead {k:25s} traced - untraced = {a['value'] - b['value']:+.6g} {a['unit']}")
    elif rep["trace"]:
        print("  overhead: no untraced run of this workload and seed to compare with")


def contract_line(rep, trace):
    keys = PER_LAYER if trace else END_TO_END
    return {"correct": rep["correct"], "attempted": rep["attempted"], "failed": rep["failed"],
            "metrics": {k: {"value": rep["metrics"][k]["value"], "unit": rep["metrics"][k]["unit"]} for k in keys}}

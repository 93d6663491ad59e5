"""Metrics of one run, computed from the measured JVM's event log.

End-to-end metrics (untraced runs) and per-layer metrics (traced runs) are
listed in BENCHMARK.json; README.md maps each layer metric to the
end-to-end metric and workload it should move.
"""
import statistics
from collections import defaultdict

import stats
import trace

# query modules whose summed wall time is reported as queries.<module>_s
QUERY_MODULES = ("RelationalQueries", "PipelineQueries")
FOREX_METHODS = {"runSilver": "forex.silver_s", "runGold": "forex.gold_s",
                 "runSilverBackfill": "forex.silver_backfill_s",
                 "runGoldBackfill": "forex.gold_backfill_s"}


def _med(xs):
    return statistics.median(xs) if xs else None


def op_seconds(ops, kind=None):
    return [(o["t1"] - o["t0"]) / 1000 for o in ops if kind is None or o["kind"] == kind]


def end_to_end(events, ops, setup_s):
    """{name: (value, unit, samples)}; the same metrics on every workload.

    A pass is one run through the workload's operation list (the landing
    plan of pipeline_daily, the query set of a query workload).  op_p50_s
    is the median of the scheduled operations: daily runs or queries.
    Backfills, the occasional corrections, count in pass_s only, so that on
    pipeline_daily op_p50_s is the daily run and not half of a pass."""
    lat = [s for o, s in zip(ops, op_seconds(ops)) if o["kind"] != "backfill"]
    passes = [(e["t1"] - e["t0"]) / 1000 for e in events if e["ev"] == "pass"]
    rss = next(e["peak_kb"] for e in events if e["ev"] == "rss") / 1024
    return {
        "setup_s": (setup_s, "s", 1),
        "pass_s": (_med(passes), "s", len(passes)),
        "op_p50_s": (_med(lat), "s", len(lat)),
        "peak_rss_mb": (rss, "MB", 1),
    }


def tail_line(ops):
    """The latency tail, or why there is none: a run has too few operations
    for a percentile with ten samples beyond it (stats.tail)."""
    lat = op_seconds(ops)
    t = stats.tail(lat)
    if t is None:
        return f"op_tail_s: none (n={len(lat)}; a tail needs at least 20 operations)"
    return f"op_tail_s = {t[1]} s (p{t[0]:g}, n={len(lat)})"


def gold_mismatch(check):
    """Rows of the one-shot gold the store lacks plus rows the store holds
    in excess (multiset differences both ways), so a row that differs
    counts twice and a duplicated row counts once."""
    return check["missing_rows"] + check["extra_rows"]


def by_kind(events, ops):
    """Per-kind latency medians, and the pipeline's gold check."""
    out = {}
    for kind, name in (("daily", "pipeline.daily_run_s"), ("backfill", "pipeline.backfill_s"),
                       ("fixpoint", "queries.fixpoint_p50_s"), ("stream", "queries.stream_p50_s")):
        xs = op_seconds(ops, kind)
        out[name] = (_med(xs) if xs else 0.0, "s", len(xs))
    gold = [e for e in events if e["ev"] == "gold_check"]
    out["pipeline.gold_mismatch_rows"] = (gold_mismatch(gold[0]) if gold else 0, "rows", len(gold))
    return out


def per_layer(events, ops, cores, ticks_per_day):
    by = defaultdict(list)
    for e in events:
        by[e["ev"]].append(e)
    spans = [(o["t0"], o["t1"]) for o in ops]

    def op_of(t):
        for i, (lo, hi) in enumerate(spans):
            if lo <= t <= hi:
                return i
        return None

    m = defaultdict(float)
    # ---- Spark boundary
    job_end = {e["job"]: e["t"] for e in by["job_end"]}
    stage = {e["stage"]: e for e in by["stage"]}
    sql_root = {e["id"]: e["root"] for e in by["sql_start"]}
    jobs_in_op = defaultdict(list)
    stages_of_exec = defaultdict(set)
    seen_stages = set()
    for j in by["job_start"]:
        i = op_of(j["t"])
        if i is None:
            continue
        jobs_in_op[i].append((j["t"], job_end.get(j["job"], spans[i][1])))
        seen_stages.update(j["stages"])
        if j["exec"] >= 0:
            stages_of_exec[sql_root.get(j["exec"], j["exec"])].update(j["stages"])
    m["spark.jobs"] = sum(len(v) for v in jobs_in_op.values())
    m["spark.driver_gap_s"] = sum(trace.driver_gap(spans[i], jobs_in_op.get(i, []))
                                  for i in range(len(spans))) / 1000
    for s in seen_stages & stage.keys():
        st = stage[s]
        m["spark.tasks"] += st["tasks"]
        m["spark.executor_run_s"] += st["run_ms"] / 1000
        m["spark.executor_cpu_s"] += st["cpu_ns"] / 1e9
        m["spark.shuffle_write_bytes"] += st["shuffle_write"]
        m["spark.shuffle_read_bytes"] += st["shuffle_read"]
        m["spark.spill_bytes"] += st["spill"]
        m["spark.input_bytes"] += st["input_bytes"]
    wall = sum(hi - lo for lo, hi in spans) / 1000
    m["spark.busy_frac"] = m["spark.executor_run_s"] / (wall * cores) if wall else 0.0
    m["spark.planning_s"] = sum(p["ms"] for p in by["plan"] if op_of(p["t"]) is not None) / 1000
    m["spark.gc_s"] = sum(o["gc_ms"] for o in ops) / 1000
    m["codegen.compiles"] = sum(o["compiles"] for o in ops)

    # ---- SQL executions attributed to modules by call site
    sql_end = {e["id"]: e["t"] for e in by["sql_end"]}
    envelopes = defaultdict(lambda: [float("inf"), float("-inf")])
    for s in by["sql_start"]:
        i = op_of(s["t"])
        if i is None or s["root"] != s["id"]:
            continue
        t0, t1 = s["t"], sql_end.get(s["id"], s["t"])
        caller, callee = trace.attribute(s["stack"])
        if caller and caller[0] == "forex":
            name = FOREX_METHODS.get(trace.frame_method(caller[1]))
        elif caller and caller[0] == "quality":
            name = "quality.checks_s"
        else:
            name = None
        if name:  # a layer's time in an operation: first start to last end
            env = envelopes[(name, i)]
            env[0], env[1] = min(env[0], t0), max(env[1], t1)
        if callee:
            layer = callee[0]
            out = [stage[x] for x in stages_of_exec.get(s["id"], ()) if x in stage]
            if s["write"]:
                m[f"{layer}.write_s"] += (t1 - t0) / 1000
                m[f"{layer}.bytes_written"] += sum(x["output_bytes"] for x in out)
                if layer == "store":
                    m["store.rows_written"] += sum(x["output_rows"] for x in out)
            elif layer == "store":
                m["store.read_s"] += (t1 - t0) / 1000
    for (name, _), (t0, t1) in envelopes.items():
        m[name] += (t1 - t0) / 1000
    m["store.files_written"] = sum(o.get("files_written", 0) for o in ops)
    landed = sum(1 for o in ops if o["kind"] in ("daily", "backfill")) * ticks_per_day
    m["store.write_amplification"] = m["store.rows_written"] / landed if landed else 0.0

    # ---- streaming triggers
    last_state = {}
    for tr in by["trigger"]:
        if op_of(tr["t"]) is None:
            continue
        d = tr["dur"]
        m["stream.triggers"] += 1
        m["stream.trigger_s"] += d.get("triggerExecution", 0) / 1000
        m["stream.add_batch_s"] += d.get("addBatch", 0) / 1000
        m["stream.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000
        last_state[tr["run"]] = tr["state_rows"]
    m["stream.state_rows"] = sum(last_state.values())

    # ---- operations by module
    for o in ops:
        if o["module"] in QUERY_MODULES:
            m[f"queries.{o['module']}_s"] += (o["t1"] - o["t0"]) / 1000
        elif o["module"] == "PipelineRunner":
            m["pipeline.run_s"] += (o["t1"] - o["t0"]) / 1000
    return m


PER_LAYER_UNITS = {
    "spark.jobs": "count", "spark.driver_gap_s": "s", "spark.planning_s": "s",
    "codegen.compiles": "count", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.busy_frac": "ratio", "spark.tasks": "count", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.gc_s": "s",
    "pipeline.run_s": "s",
    "forex.silver_s": "s", "forex.gold_s": "s", "forex.silver_backfill_s": "s",
    "forex.gold_backfill_s": "s", "quality.checks_s": "s",
    "store.write_s": "s", "store.read_s": "s", "store.rows_written": "rows",
    "store.files_written": "count", "store.bytes_written": "bytes",
    "store.write_amplification": "ratio",
    "scratch.write_s": "s", "scratch.bytes_written": "bytes",
    "stream.triggers": "count", "stream.trigger_s": "s", "stream.add_batch_s": "s",
    "stream.commit_s": "s", "stream.state_rows": "rows",
    **{f"queries.{q}_s": "s" for q in QUERY_MODULES},
    "pipeline.daily_run_s": "s", "pipeline.backfill_s": "s", "pipeline.gold_mismatch_rows": "rows",
    "queries.fixpoint_p50_s": "s", "queries.stream_p50_s": "s",
    "ops.error_rate": "ratio", "trace.op_p50_s": "s", "trace.setup_s": "s",
}


def compute(events, setup_t0, problems, trace, cores, ticks_per_day):
    ops = sorted((e for e in events if e["ev"] == "op"), key=lambda o: o["t0"])
    setup_s = ops[0]["t0"] / 1000 - setup_t0 if ops else None
    failed_queries = {p.split(":", 1)[0] for p in problems}
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in failed_queries)
    e2e = end_to_end(events, ops, setup_s)
    kinds = by_kind(events, ops)
    phases = ", ".join(f"{e['name']} {(e['t1'] - e['t0']) / 1000:.2f} s"
                       for e in events if e["ev"] == "phase")
    result = {"attempted": len(ops), "failed": failed, "end_to_end": e2e, "by_kind": kinds,
              "tail": tail_line(ops), "phases": phases}
    if trace:
        layer = per_layer(events, ops, cores, ticks_per_day)
        layer.update({k: v for k, (v, _, _) in kinds.items()})
        layer["ops.error_rate"] = failed / len(ops) if ops else 0.0
        layer["trace.op_p50_s"] = e2e["op_p50_s"][0]
        layer["trace.setup_s"] = setup_s
        result["per_layer"] = {k: (layer.get(k, 0.0), u, len(ops))
                               for k, u in PER_LAYER_UNITS.items()}
        chosen = result["per_layer"]
    else:
        chosen = e2e
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u, _) in chosen.items()}
    return result


def report(result, problems, host):
    """Human-readable lines: every metric with its unit and sample count."""
    lines = [f"host: {host}"]
    lines += [f"problem: {p}" for p in problems]
    lines.append(f"operations: attempted={result['attempted']} failed={result['failed']}")
    lines.append(f"phases: {result['phases']}")
    lines.append(result["tail"])
    for section in ("end_to_end", "by_kind", "per_layer"):
        for k, (v, u, n) in result.get(section, {}).items():
            if section != "by_kind" or n:
                lines.append(f"{section} {k} = {v} {u} (n={n})")
    return lines

"""Metric extraction from one harness run (``run.json``).

End-to-end metrics, printed with tracing off:
  setup_s      wall seconds from JVM launch to the first timed op ready
               (session; the corpus op's frozen base over day 0)
  op_cpu_s     CPU seconds the JVM spent per timed op (mean over the
               round), on all its threads

The record line also carries op_prog_cpu_s (op_cpu_s without the JIT
compiler threads' share, op_jit_s), setup_cpu_s and setup_jit_s, and the
wall-clock view of the timed round, which a shared 4-core box makes too
noisy to bound (in busy periods one run in three runs 30% slow on every
op):
  run_s        JVM launch to the last op's result materialized
  op_p50_s     median op latency
  op_tail_s    latency at the highest percentile with at least 10 ops
               beyond it, with that percentile and the op count (absent
               when a run has fewer than 11 timed ops)
  ops_per_s    timed ops per second of summed op latency
  peak_rss_mb  the JVM's VmHWM at the end of the timed round

Per-layer metrics, printed with tracing on: each op layer's counters
and the frozen-build ledger cover the one timed round; the ``setup``
layer covers the set-up. Every workload prints every name of
``per_layer_names()`` (BENCHMARK.json's per_layer list).
"""
import statistics

from workloads import REFERENCE, WORKLOADS, all_ops, op_layers

END_TO_END = [("setup_s", "s"), ("op_cpu_s", "s")]

TAIL_BEYOND = 10

# frozen models the workloads' set-up builds
ARTIFACTS = ["sq8_bounds", "scan_widen"]

LAYER_COUNTERS = [
    ("wall_s", "s"), ("jobs", "count"), ("tasks", "count"), ("empty_task_ratio", "ratio"),
    ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("cpu_s", "s"), ("gc_s", "s"),
    ("plan_s", "s"), ("driver_gap_s", "s"),
]


def per_layer_names() -> list:
    """(name, unit, better) of every per-layer metric, in report order.
    Every workload reports the same names; a layer a workload does not
    run reads 0."""
    ops = all_ops()
    out = [(f"{layer}.{c}", u, "lower") for layer in op_layers(ops) + ["setup"]
           for c, u in LAYER_COUNTERS]
    out += [(f"{layer}.{op}.wall_s", "s", "lower") for layer, op in ops]
    out += [(f"{layer}.{op}.shuffle_mb", "MB", "lower") for layer, op in ops if layer == REFERENCE]
    out += [("ops.Tables.input_mb", "MB", "lower"), ("ops.Tables.records_read", "count", "lower"),
            ("ops.Tables.scan_task_s", "s", "lower")]
    out += [("ops.FrozenCaches.builds", "count", "lower"), ("ops.FrozenCaches.build_s", "s", "lower")]
    out += [(f"ops.FrozenCaches.{a}.build_s", "s", "lower") for a in ARTIFACTS]
    out += [("functions.native_nodes", "count", "lower"), ("functions.cpu_s", "s", "lower")]
    out += [("streaming.Streams.batches", "count", "lower"),
            ("streaming.Streams.batch_p50_s", "s", "lower"),
            ("streaming.Streams.rows_per_s", "1/s", "higher"),
            ("sources.Formats.output_mb", "MB", "lower")]
    out += [("spark.driver.session_s", "s", "lower"), ("spark.driver.jobs", "count", "lower"),
            ("spark.driver.plan_s", "s", "lower"), ("spark.driver.driver_gap_s", "s", "lower")]
    out += [("unattributed.wall_s", "s", "lower"), ("unattributed.jobs", "count", "lower"),
            ("trace.coverage", "ratio", "higher")]
    return out


def tail(latencies: list) -> tuple:
    """(value, percentile) of the highest percentile with at least
    TAIL_BEYOND ops strictly beyond it; None when there are too few ops."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None, None
    i = n - TAIL_BEYOND - 1
    return xs[i], 100.0 * (i + 1) / n


def end_to_end(run: dict) -> dict:
    """Every end-to-end number of one run: the bounded ones of END_TO_END
    and the record-only ones."""
    lat = [float(o["sec"]) for o in run["ops"]]
    cpu = [float(o["cpu_s"]) for o in run["ops"]]
    launch = run["launch_ms"]
    value, pct = tail(lat)
    jit = [float(o["jit_s"]) for o in run["ops"]]
    return {
        "setup_s": (run["setup_end_ms"] - launch) / 1000.0,
        "setup_cpu_s": run["setup_cpu_s"],
        "op_cpu_s": sum(cpu) / len(cpu),
        "setup_jit_s": run["setup_jit_s"],
        "op_jit_s": sum(jit) / len(jit),
        "op_prog_cpu_s": (sum(cpu) - sum(jit)) / len(cpu),
        "run_s": (run["last_op_end_ms"] - launch) / 1000.0,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": value,
        "op_tail_percentile": pct,
        "ops_timed": len(lat),
        "ops_per_s": len(lat) / sum(lat),
        "peak_rss_mb": run["peak_rss_mb"],
    }


def _union_ms(intervals: list, lo: int, hi: int) -> int:
    """Length of the union of [s, e) intervals clipped to [lo, hi)."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_layer(run: dict, e2e: dict) -> dict:
    t = run["trace"]
    spans, jobs, groups, plans = t["spans"], t["jobs"], t["groups"], t["plans"]
    layers = op_layers(WORKLOADS[run["workload"]].ops)
    out = {name: 0.0 for name, _, _ in per_layer_names()}

    # a job group the harness did not set (a streaming query sets its run
    # id) belongs to the span its first job started in
    known = {sp["layer"] for sp in spans} | {"unattributed"}
    first_start = {}
    for j in sorted(jobs, key=lambda j: j["start_ms"]):
        first_start.setdefault(j["group"], j["start_ms"])

    def resolve(group: str) -> str:
        if group.split("/", 1)[0] in known:
            return group
        at = first_start.get(group, -1)
        inside = [sp for sp in spans if sp["start_ms"] <= at <= sp["end_ms"]]
        return f"{inside[-1]['layer']}/{inside[-1]['name']}" if inside else "unattributed/-"

    jobs = [dict(j, group=resolve(j["group"])) for j in jobs]
    merged = {}
    for name, g in groups.items():
        into = merged.setdefault(resolve(name), dict.fromkeys(g, 0))
        for k, v in g.items():
            into[k] += v
    groups = merged

    def layer_of(group: str) -> str:
        return group.split("/", 1)[0]

    def in_span(ms: int, layer: str) -> bool:
        return any(s["layer"] == layer and s["start_ms"] <= ms <= s["end_ms"] for s in spans)

    for layer in layers + ["setup"]:
        ls = [s for s in spans if s["layer"] == layer]
        gs = [g for name, g in groups.items() if layer_of(name) == layer]
        js = [j for j in jobs if layer_of(j["group"]) == layer]
        tasks = sum(g["tasks"] for g in gs)
        wall_ms = sum(s["end_ms"] - s["start_ms"] for s in ls)
        gap_ms = 0
        for s in ls:
            mine = [(j["start_ms"], j["end_ms"]) for j in js
                    if j["group"] == f"{layer}/{s['name']}" and j["end_ms"] >= 0]
            gap_ms += (s["end_ms"] - s["start_ms"]) - _union_ms(mine, s["start_ms"], s["end_ms"])
        plan_ms = sum(p["plan_ms"] for p in plans if in_span(p["start_ms"], layer))
        out.update({
            f"{layer}.wall_s": wall_ms / 1000.0,
            f"{layer}.jobs": len(js),
            f"{layer}.tasks": tasks,
            f"{layer}.empty_task_ratio": sum(g["empty_tasks"] for g in gs) / tasks if tasks else 0.0,
            f"{layer}.shuffle_mb": sum(g["shuffle_write_bytes"] for g in gs) / 2**20,
            f"{layer}.spill_mb": sum(g["spill_bytes"] for g in gs) / 2**20,
            f"{layer}.cpu_s": sum(g["cpu_ns"] for g in gs) / 1e9,
            f"{layer}.gc_s": sum(g["gc_ms"] for g in gs) / 1000.0,
            f"{layer}.plan_s": plan_ms / 1000.0,
            f"{layer}.driver_gap_s": gap_ms / 1000.0,
        })

    for o in run["ops"]:
        out[f"{o['layer']}.{o['row']}.wall_s"] += float(o["sec"])
        key = f"{o['layer']}.{o['row']}.shuffle_mb"
        if key in out and f"{o['layer']}/{o['row']}" in groups:
            out[key] = groups[f"{o['layer']}/{o['row']}"]["shuffle_write_bytes"] / 2**20

    op_groups = [g for name, g in groups.items() if layer_of(name) in layers]
    out["ops.Tables.input_mb"] = sum(g["input_bytes"] for g in op_groups) / 2**20
    out["ops.Tables.records_read"] = sum(g["records_read"] for g in op_groups)
    out["ops.Tables.scan_task_s"] = sum(g["scan_run_ms"] for g in op_groups) / 1000.0
    out["sources.Formats.output_mb"] = sum(
        g["output_bytes"] for name, g in groups.items()
        if layer_of(name) == "sources.Formats") / 2**20
    # the timed day's micro-batches; day 0's belong to the set-up
    batches = [b for b in run.get("stream_batches", []) if b["day"] > 0]
    if batches:
        secs = sum(b["batch_ms"] for b in batches) / 1000.0
        out["streaming.Streams.batches"] = len(batches)
        out["streaming.Streams.batch_p50_s"] = statistics.median(b["batch_ms"] for b in batches) / 1000.0
        out["streaming.Streams.rows_per_s"] = sum(b["rows"] for b in batches) / secs if secs else 0.0

    out["ops.FrozenCaches.builds"] = float(len(run["builds"]))
    out["ops.FrozenCaches.build_s"] = sum(float(b["sec"]) for b in run["builds"])
    for b in run["builds"]:
        key = f"ops.FrozenCaches.{b['artifact']}.build_s"
        if key in out:
            out[key] += float(b["sec"])

    native_rows = set()
    for s in spans:
        if s["layer"] in layers:
            n = sum(p["native_nodes"] for p in plans if s["start_ms"] <= p["start_ms"] <= s["end_ms"])
            out["functions.native_nodes"] += n
            if n:
                native_rows.add(f"{s['layer']}/{s['name']}")
    out["functions.cpu_s"] = sum(groups[g]["cpu_ns"] for g in native_rows if g in groups) / 1e9

    session = [s for s in spans if s["layer"] == "spark.driver"]
    out["spark.driver.session_s"] = sum(s["end_ms"] - s["start_ms"] for s in session) / 1000.0
    out["spark.driver.jobs"] = sum(out[f"{l}.jobs"] for l in layers)
    out["spark.driver.plan_s"] = sum(out[f"{l}.plan_s"] for l in layers)
    out["spark.driver.driver_gap_s"] = sum(out[f"{l}.driver_gap_s"] for l in layers)

    attributed = sum(s["end_ms"] - s["start_ms"] for s in spans) / 1000.0
    out["unattributed.wall_s"] = max(0.0, e2e["run_s"] - attributed)
    out["unattributed.jobs"] = float(sum(1 for j in jobs if layer_of(j["group"]) == "unattributed"
                                         and j["start_ms"] <= run["last_op_end_ms"]))
    out["trace.coverage"] = attributed / e2e["run_s"]
    return out


def summarize(run: dict, oracle_failures: dict, trace: bool) -> tuple:
    """(record, result) for one run. An op fails if it threw or if its
    result fails the oracle (an oracle result named <op>.<part> checks that
    op); a corpus op whose set-up threw counts as attempted and failed."""
    failures = [{"row": r, "phase": "setup", "error": m} for r, m in run["setup_errors"].items()]
    failures += [{"row": r, "phase": "oracle", "error": m} for r, m in oracle_failures.items()]
    bad_rows = {name.split(".")[0] for name in oracle_failures}
    failed = len(run["setup_errors"])
    for o in run["ops"]:
        if o["error"] is not None:
            failures.append({"row": o["row"], "phase": "timed", "error": o["error"]})
        if o["error"] is not None or o["row"] in bad_rows or "*" in oracle_failures:
            failed += 1
    attempted = len(run["ops"]) + len(run["setup_errors"])

    e2e = end_to_end(run)
    if trace:
        layer = per_layer(run, e2e)
        unit_of = {n: u for n, u, _ in per_layer_names()}
        metrics = {k: {"value": v, "unit": unit_of[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    record = {
        "workload": run["workload"], "cpus": run["cpus"], "heap_max_mb": run["heap_max_mb"],
        "spark_version": run["spark_version"], "java_version": run["java_version"],
        "ops_attempted": attempted, "ops_failed": failed,
        "failures": failures, "end_to_end": e2e,
        "builds": run["builds"],
        "op_latencies": [[o["row"], float(o["sec"])] for o in run["ops"]],
    }
    if trace:
        record["per_layer"] = {k: v["value"] for k, v in metrics.items()}
    result = {"correct": failed == 0,
              "attempted": attempted, "failed": failed, "metrics": metrics}
    return record, result

"""Turns a run record written by the JVM (`graft.perfbench.Main`) into the
benchmark's metric line. Pure functions, unit-tested in
`perfbench/tests/test_stats.py`."""
import json
import statistics

# Layer spans, in the order the layers appear in a request.
SPANS = (
    "pipeline.quarantine", "catalog.profile", "catalog.ddl", "pipeline.gate", "pipeline.load",
    "queries.read",
    "streaming.cdc_commit", "streaming.drain.activity", "streaming.drain.rfm",
    "streaming.drain.graph_edge", "streaming.fold", "streaming.serve",
    "queries.graph_edges", "queries.pagerank", "queries.ppr", "queries.triangles",
    "queries.reach", "operators.components",
)
GRAPH_SPANS = SPANS[SPANS.index("queries.graph_edges"):]

# (suffix, unit, better) of the counters every span records.
SPAN_COUNTERS = (
    ("self_ms", "ms", "lower"), ("tasks", "count", "lower"), ("task_busy_s", "s", "lower"),
    ("shuffle_mb", "MB", "lower"), ("spill_mb", "MB", "lower"),
)
GRAPH_COUNTERS = (("checkpoint_mb", "MB", "lower"), ("core_util", "ratio", "higher"))

# Exact counts that guard against a change doing different work.
GUARDS = (
    ("pipeline.quarantine.rows", "count", "lower"), ("pipeline.gate.diverted", "count", "lower"),
    ("streaming.versions_drained", "count", "higher"), ("streaming.log_depth_max", "count", "lower"),
    ("streaming.write_amp", "ratio", "lower"),
)
RUN_METRICS = (
    ("trace.wall_s", "s", "lower"), ("trace.overhead_s", "s", "lower"),
    ("trace.unattributed_ms", "ms", "lower"), ("input.rows", "count", "higher"),
    ("input.bytes", "bytes", "higher"), ("run.work_dir_mb", "MB", "lower"),
)

END_TO_END = (
    ("setup_s", "s", "lower"), ("wall_s", "s", "lower"), ("load_p50_s", "s", "lower"),
    ("load_rows_per_s", "rows/s", "higher"), ("query_p50_ms", "ms", "lower"),
)


def per_layer_names():
    """(name, unit, better) of every per-layer metric, in output order."""
    out = [(f"{s}.{c}", u, b) for s in SPANS for c, u, b in SPAN_COUNTERS]
    out += [(f"{s}.{c}", u, b) for s in GRAPH_SPANS for c, u, b in GRAPH_COUNTERS]
    return out + list(GUARDS) + list(RUN_METRICS)


def tail_percentile(samples):
    """The highest of p99/p95/p90/p75 with at least ten samples beyond
    it, as (label, value), or None when there are too few samples."""
    xs = sorted(samples)
    for q in (99, 95, 90, 75):
        if len(xs) * (100 - q) / 100 >= 10:
            # nearest-rank percentile
            rank = max(1, -(-q * len(xs) // 100))
            return f"p{q}", xs[rank - 1]
    return None


def self_times(spans):
    """Span id -> duration minus the part of its interval its children cover (ns)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0, s["start_ns"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], cursor, s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = s["end_ns"] - s["start_ns"] - covered
    return out


def end_to_end(rec):
    s, c = rec["samples"], rec["counts"]
    return {
        "setup_s": c["session_s"] + statistics.median(s["setup_gen_s"]) + c["setup_once_s"],
        "wall_s": statistics.median(s["round_s"]),
        "load_p50_s": statistics.median(s["load_s"]),
        "load_rows_per_s": c["load_rows"] / c["load_time_s"],
        "query_p50_ms": statistics.median(s["query_ms"]),
    }


def per_layer(rec):
    s, c, spans = rec["samples"], rec["counts"], rec["spans"]
    rounds = s["round_s"]
    n = len(rounds)
    selfs = self_times(spans)
    agg = {name: dict(self_ms=0.0, tasks=0.0, task_busy_s=0.0, shuffle_mb=0.0, spill_mb=0.0,
                      checkpoint_mb=0.0, wall_s=0.0) for name in SPANS}
    for sp in spans:
        a = agg.get(sp["name"])
        if a is None:
            continue
        a["self_ms"] += selfs[sp["id"]] / 1e6
        a["tasks"] += sp["tasks"]
        a["task_busy_s"] += sp["task_busy_ms"] / 1e3
        a["shuffle_mb"] += sp["shuffle_bytes"] / 1e6
        a["spill_mb"] += sp["spill_bytes"] / 1e6
        a["checkpoint_mb"] += sp["block_bytes"] / 1e6
        a["wall_s"] += (sp["end_ns"] - sp["start_ns"]) / 1e9
    out = {}
    for name in SPANS:
        for counter, _, _ in SPAN_COUNTERS:
            out[f"{name}.{counter}"] = agg[name][counter] / n
    for name in GRAPH_SPANS:
        a = agg[name]
        out[f"{name}.checkpoint_mb"] = a["checkpoint_mb"] / n
        out[f"{name}.core_util"] = a["task_busy_s"] / (a["wall_s"] * c["nproc"]) if a["wall_s"] else 0.0
    out["pipeline.quarantine.rows"] = c.get("pipeline.quarantine.rows", 0.0) / n
    out["pipeline.gate.diverted"] = c.get("pipeline.gate.diverted", 0.0) / n
    out["streaming.versions_drained"] = c.get("streaming.versions_drained", 0.0) / n
    out["streaming.log_depth_max"] = c.get("streaming.log_depth_max", 0.0)
    cdc = c.get("streaming.cdc_bytes", 0.0)
    out["streaming.write_amp"] = c.get("streaming.store_bytes_written", 0.0) / cdc if cdc else 0.0
    roots = sum(sp["end_ns"] - sp["start_ns"] for sp in spans if sp["parent"] == -1) / 1e9
    out["trace.wall_s"] = statistics.median(rounds)
    out["trace.overhead_s"] = rec["trace_overhead_s"] / n
    out["trace.unattributed_ms"] = (sum(rounds) - roots) / n * 1e3
    out["input.rows"] = c["input.rows"]
    out["input.bytes"] = c["input.bytes"]
    out["run.work_dir_mb"] = c["work_dir_bytes"] / 1e6
    return out


def result(rec, trace):
    """The metric line: correct / attempted / failed / metrics."""
    checks_ok = all(ch["ok"] for ch in rec["checks"])
    names = per_layer_names() if trace else END_TO_END
    values = per_layer(rec) if trace else end_to_end(rec)
    return {
        "correct": checks_ok and rec["failed"] == 0,
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit, _ in names},
    }


def summary(rec):
    """Human-readable lines: every timing with its sample count and the
    highest tail percentile the count supports."""
    lines = []
    for key, vals in rec["samples"].items():
        tail = tail_percentile(vals)
        tail_txt = f", {tail[0]} {tail[1]:.4g}" if tail else ""
        lines.append(f"{key}: median {statistics.median(vals):.4g} over n={len(vals)}{tail_txt}")
    for ch in rec["checks"]:
        if not ch["ok"]:
            lines.append(f"check FAILED {ch['name']}: {ch['detail']}")
    lines.append(f"checks passed {sum(ch['ok'] for ch in rec['checks'])}/{len(rec['checks'])}, "
                 f"attempted {rec['attempted']}, failed {rec['failed']}")
    return lines


def parse_line(stdout):
    """The metric line: the last non-empty line of the benchmark's stdout."""
    last = [ln for ln in stdout.splitlines() if ln.strip()][-1]
    obj = json.loads(last)
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(obj)}")
    for name, m in obj["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"bad metric {name}: {m}")
    return obj

"""Metrics of one run, computed from its pass records.

A pass record holds the pass's wall time (checks excluded), whether it
was traced, its wall-clock interval and one record per operation:
latency and the wall-clock interval of each phase. End-to-end metrics
come from the untraced steady passes. Per-layer metrics are the median,
over the traced steady passes, of each pass's total.
"""

from __future__ import annotations

import math
import statistics

from tracing import union_length
from workloads import ANALYTICS_OPS, COMMIT_KINDS

TXLOG_VERBS = COMMIT_KINDS + ("read_table", "read_changes")
OPERATOR_LAYERS = ("graph", "dedup", "similarity", "mapreduce")
STREAM_PARTS = ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")


def tail(samples):
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile, n)``. Below eleven samples no percentile has
    ten beyond it; the maximum is reported, at percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    k = n - 10
    return xs[k - 1], 100.0 * k / n, n


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _steady(passes, traced: bool):
    return [p for p in passes[1:] if p["traced"] == traced]


def _with_tail(out: dict, info: dict, name: str, samples, unit: str) -> None:
    """``<name>_p50`` and ``<name>_tail``; the tail's percentile and
    sample count go to ``info``."""
    if not samples:
        out[f"{name}_p50"] = out[f"{name}_tail"] = (0.0, unit)
        return
    value, pct, n = tail(samples)
    info[f"{name}_tail"] = {"percentile": round(pct, 1), "n": n}
    out[f"{name}_p50"] = (_median(samples), unit)
    out[f"{name}_tail"] = (value, unit)


def end_to_end(passes, setup_s: float, peak_rss_mb: float, info: dict) -> dict:
    steady = _steady(passes, False)
    ops = [o for p in steady for o in p["ops"]]
    per_op: dict[str, list[float]] = {}
    for o in ops:
        per_op.setdefault(o["name"], []).append(o["latency_s"])
    out = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "pass_s": (_median([p["wall_s"] for p in steady]), "s"),
    }
    _with_tail(out, info, "op_s", [o["latency_s"] for o in ops], "s")
    medians = [statistics.median(v) for v in per_op.values()]
    geomean = math.exp(sum(map(math.log, medians)) / len(medians)) if medians else 0.0
    out["op_geomean_s"] = (geomean, "s")
    out["peak_rss_mb"] = (peak_rss_mb, "MB")
    return out


def workload_results(passes, attempted: int, failed: int, info: dict) -> dict:
    """Result metrics every workload reports; the txlog and stream ones
    are zero where a workload has no commits or streams."""
    steady = _steady(passes, False)
    ops = [o for p in steady for o in p["ops"]]
    out: dict[str, tuple[float, str]] = {}
    _with_tail(out, info, "commit_s", [o["latency_s"] for o in ops if o["name"] in COMMIT_KINDS], "s")
    out["snapshot_read_s_p50"] = (_median([o["latency_s"] for o in ops if o["name"] == "read_table"]), "s")
    out["cdf_read_s_p50"] = (_median([o["latency_s"] for o in ops if o["name"] == "read_changes"]), "s")
    batches = [b["duration_ms"].get("triggerExecution", 0) for p in steady for b in p["microbatches"]]
    _with_tail(out, info, "microbatch_ms", batches, "ms")
    out["stored_bytes_per_user_byte"] = (passes[0].get("stored_bytes_per_user_byte", 0.0), "ratio")
    out["failed_op_ratio"] = (failed / attempted if attempted else 1.0, "ratio")
    return out


def per_layer(passes, rec, cpus: int, session_start_s: float) -> dict:
    traced = _steady(passes, True)
    rows = [_layer_pass(p, rec, cpus) for p in traced]
    out = {"session.start_s": (session_start_s, "s")}
    for key, (_, unit) in rows[0].items():
        out[key] = (statistics.median(r[key][0] for r in rows), unit)
    untraced = _steady(passes, False)
    out["trace.overhead_s"] = (
        _median([p["wall_s"] for p in traced]) - _median([p["wall_s"] for p in untraced]),
        "s",
    )
    return out


def _unit(counter: str) -> str:
    if counter == "slot_utilization":
        return "ratio"
    if counter.endswith("_bytes"):
        return "bytes"
    return "s" if counter.endswith("_s") else "count"


def _has_ancestor(spans, span: dict, prefix: str) -> bool:
    parent = span["parent"]
    while parent is not None:
        if spans[parent]["name"].startswith(prefix):
            return True
        parent = spans[parent]["parent"]
    return False


def _layer_pass(p, rec, cpus: int) -> dict:
    lo, hi = p["interval"]
    spans = [s for s in rec.spans if lo <= s["start"] <= hi and "end" in s]
    ops = p["ops"]
    m: dict[str, tuple[float, str]] = {}

    def phase(name, names=None):
        return [o["phases"][name] for o in ops if name in o["phases"] and (names is None or o["name"] in names)]

    def named(name):
        return [(s["start"], s["end"]) for s in spans if s["name"] == name]

    construct_q = phase("construct", ANALYTICS_OPS)
    m["plans.construct_s"] = (sum(e - s for s, e in construct_q), "s")
    m["plans.construct_jobs"] = (len(rec.jobs_within(construct_q)), "count")
    loads = named("tables.load_table")
    m["tables.load_calls"] = (len(loads), "count")
    m["tables.load_s"] = (sum(e - s for s, e in loads), "s")
    m["spark.plan_s"] = (sum(e - s for s, e in phase("plan")), "s")
    for ph in ("construct", "action"):
        for k, v in rec.execution(phase(ph), cpus).items():
            m[f"{ph}.{k}"] = (v, _unit(k))
    for layer in OPERATOR_LAYERS:
        # An operator may only build a plan; its jobs then run in the
        # action of the operation that called it, so that action counts
        # towards the layer too.
        prefix = layer + "."
        top = [s for s in spans if s["name"].startswith(prefix) and not _has_ancestor(rec.spans, s, prefix)]
        callers = {s["op"] for s in top}
        ivs = [(s["start"], s["end"]) for s in top] + phase("action", callers)
        ex = rec.execution(ivs, cpus)
        m[f"{layer}.calls"] = (len(top), "count")
        m[f"{layer}.s"] = (sum(e - s for s, e in ivs), "s")
        m[f"{layer}.jobs"] = (ex["jobs"], "count")
        if layer == "graph":
            m["graph.driver_gap_s"] = (ex["driver_gap_s"], "s")
    for verb in TXLOG_VERBS:
        vs = [o for o in ops if o["name"] == verb]
        m[f"txlog.{verb}.s"] = (sum(o["latency_s"] for o in vs), "s")
        m[f"txlog.{verb}.jobs"] = (len(rec.jobs_within([o["interval"] for o in vs])), "count")
    for k in ("files_added", "files_removed"):
        m[f"txlog.{k}"] = (p.get(k, 0), "count")
    m["txlog.bytes_written"] = (p.get("bytes_written", 0), "bytes")
    m["txlog.read_changes.s_per_version"] = (
        _median([o["latency_s"] / o["versions"] for o in ops if o["name"] == "read_changes"]),
        "s",
    )
    store = [(s["start"], s["end"]) for s in spans if s["name"].startswith("logstore.")]
    m["logstore.puts"] = (len(named("logstore.put_if_absent")), "count")
    m["logstore.reads"] = (len(named("logstore._read_manifest")), "count")
    m["logstore.lists"] = (len(named("logstore.current_version")), "count")
    m["logstore.s"] = (union_length(store), "s")
    mb = p["microbatches"]
    m["stream.batches"] = (len(mb), "count")
    m["stream.input_rows"] = (sum(b["rows"] for b in mb), "count")
    m["stream.state_rows"] = (sum(b["state_rows"] for b in mb), "count")
    m["stream.state_commit_ms"] = (sum(b["state_commit_ms"] for b in mb), "ms")
    for part in STREAM_PARTS:
        m[f"stream.{part}_ms"] = (sum(b["duration_ms"].get(part, 0) for b in mb), "ms")
    return m

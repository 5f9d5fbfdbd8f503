"""Turns one run's raw measurements into the benchmark's metrics and checks.

The JVM side (perfbench.Main) writes every pass's samples, phase times and
job counters; this module derives the end-to-end metrics (from untraced
passes) and the per-layer metrics (from traced passes), and checks each
sample's output against its expected value.
"""
import math
import statistics

MB = 1e6

# name -> unit; the order is the order of the printed result.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
}

PER_LAYER = {
    "construct.s": "s",
    "construct.jobs": "count",
    "construct.tasks": "count",
    "leaf.persisted_new": "count",
    "leaf.cached_mb": "MB",
    "catalyst.s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.single_task_stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "%",
    "shuffle.read_mb": "MB",
    "shuffle.write_mb": "MB",
    "spill.mb": "MB",
    "scan.input_mb": "MB",
    "xml.census_pct": "%",
    "xml.load_star_pct": "%",
    "xml.process_map_pct": "%",
    "xml.report_pct": "%",
    "xml.read_amplification": "ratio",
    "write.output_mb": "MB",
    "trace.overhead_pct": "%",
}

OSM_REPORT = ("audit_street_types", "top_contributors", "top_amenities", "contributor_count")


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share q
    of the samples at or below it, so it is always one measured latency."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def _counters(counters, layer=None):
    """Sums the job-group buckets of one layer ("exec" and "exec/<stage>"),
    or of every bucket when `layer` is None."""
    out = {}
    for bucket, c in counters.items():
        if layer is None or bucket.split("/")[0] == layer:
            for k, v in c.items():
                out[k] = out.get(k, 0) + v
    return out


def end_to_end(report):
    """Returns the end-to-end metrics of the untraced passes, and how many
    latency samples the percentiles rest on."""
    passes = [p for p in report["passes"] if not p["traced"]]
    latencies = [s["seconds"] for p in passes for s in p["samples"]]
    p90 = percentile(latencies, 0.9)
    values = {
        "setup_s": report["setup_s"],
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "query_p50_s": statistics.median(latencies),
        "query_p90_s": p90,
    }
    return values, {"samples": len(latencies), "beyond_p90": sum(x > p90 for x in latencies)}


def _pass_layers(p, cores, xml_bytes):
    phase = {"construct": 0.0, "catalyst": 0.0, "exec": 0.0}
    tracker = {"analysis": 0, "optimization": 0, "planning": 0}
    stage = {}
    for s in p["samples"]:
        for k, v in s["phases"].items():
            phase[k] += v
        for k in tracker:
            tracker[k] += s["catalystMs"].get(k, 0)
        stage[s["name"]] = s["seconds"]
    counters = p["counters"]
    con = _counters(counters, "construct")
    ex = _counters(counters, "exec")
    tot = _counters(counters)
    xml_read = sum(counters.get(b, {}).get("input_bytes", 0)
                   for b in ("exec/census", "construct/load_star", "exec/process_map"))

    def pct(x):
        return 100.0 * x / p["pass_s"]

    return {
        "construct.s": phase["construct"],
        "construct.jobs": con.get("jobs", 0),
        "construct.tasks": con.get("tasks", 0),
        "leaf.persisted_new": p["persisted_rdds"],
        "leaf.cached_mb": p["cached_bytes"] / MB,
        "catalyst.s": phase["catalyst"],
        "catalyst.analysis_ms": tracker["analysis"],
        "catalyst.optimization_ms": tracker["optimization"],
        "catalyst.planning_ms": tracker["planning"],
        "exec.s": phase["exec"],
        "exec.jobs": ex.get("jobs", 0),
        "exec.stages": ex.get("stages", 0),
        "exec.single_task_stages": ex.get("single_task_stages", 0),
        "exec.tasks": ex.get("tasks", 0),
        "exec.task_run_s": ex.get("task_run_ms", 0) / 1e3,
        "exec.task_cpu_s": ex.get("task_cpu_ns", 0) / 1e9,
        "exec.gc_s": ex.get("gc_ms", 0) / 1e3,
        "exec.core_util": 100.0 * ex.get("task_run_ms", 0) / 1e3 / (phase["exec"] * cores)
        if phase["exec"] > 0 else 0.0,
        "shuffle.read_mb": tot.get("shuffle_read_bytes", 0) / MB,
        "shuffle.write_mb": tot.get("shuffle_write_bytes", 0) / MB,
        "spill.mb": tot.get("spill_bytes", 0) / MB,
        "scan.input_mb": tot.get("input_bytes", 0) / MB,
        "xml.census_pct": pct(stage.get("census", 0.0)),
        "xml.load_star_pct": pct(stage.get("load_star", 0.0)),
        "xml.process_map_pct": pct(stage.get("process_map", 0.0)),
        "xml.report_pct": pct(sum(stage.get(n, 0.0) for n in OSM_REPORT)),
        "xml.read_amplification": xml_read / xml_bytes if xml_bytes else 0.0,
        "write.output_mb": tot.get("output_bytes", 0) / MB,
    }


def per_layer(report, cores, xml_bytes):
    """Medians over traced passes; the overhead compares traced passes with
    the untraced passes of the same run, leaving out the first pass, which
    runs slower while the JIT settles (the rest are ordered so that neither
    kind runs earlier on average)."""
    traced = [p for p in report["passes"] if p["traced"]]
    untraced = [p for p in report["passes"][1:] if not p["traced"]]
    rows = [_pass_layers(p, cores, xml_bytes) for p in traced]
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out["trace.overhead_pct"] = 100.0 * (
        statistics.median(p["pass_s"] for p in traced)
        / statistics.median(p["pass_s"] for p in untraced) - 1.0)
    return out


def phase_shares(layers):
    """Share of each phase in the per-layer medians, for the run's notes."""
    secs = {k: layers[f"{k}.s"] for k in ("construct", "catalyst", "exec")}
    total = sum(secs.values()) or 1.0
    return {k: round(v / total, 4) for k, v in secs.items()}


def check(report, expected):
    """Returns (attempted, failures): every timed sample counts as attempted;
    one that threw or whose output differs from `expected[name]` fails."""
    attempted, failures = 0, []
    for i, p in enumerate(report["passes"]):
        for s in p["samples"]:
            attempted += 1
            name = s["name"]
            if s["error"]:
                failures.append(f"pass{i + 1}:{name}: {s['error']}")
                continue
            want = expected.get(name)
            got = s["hash"] if s["hash"] is not None else s["result"]
            if want is None or got != want:
                failures.append(f"pass{i + 1}:{name}: got {str(got)[:200]} want {str(want)[:200]}")
    return attempted, failures

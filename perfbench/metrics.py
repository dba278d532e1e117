"""Turns one run's raw record into the benchmark's metrics.

End-to-end metrics come from untraced passes only; per-layer metrics are
medians over the traced passes of a traced run.
"""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")

# name -> unit, in print order; these are the benchmark's end-to-end metrics
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}

# printed beside the end-to-end metrics, not gated: the cold pass is one
# sample per run, per-job figures move more from run to run than the pass
# they sum to, and the heap's live set moves in steps from run to run
# (README.md, Metrics)
WORKLOAD_ONLY = {
    "peak_heap_mb": "MB", "cold_pass_s": "s", "job_s.p50": "s", "job_s.tail": "s",
    "maintain_s.p50": "s", "maintain_s.tail": "s", "erase_s.p50": "s",
    "compact_s.p50": "s", "serve_s.p50": "s", "serve_s.tail": "s",
    "stored_bytes_per_live_byte": "ratio", "fail_ratio": "ratio",
}

# the benchmark's per-layer metrics (reported by every workload; a layer a
# workload does not touch reads 0: graph.*, functions.* and streaming.* on
# etl_refresh)
PER_LAYER = {
    "catalyst.analysis_ms": "ms",
    "catalyst.optimizer_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compile_ms": "ms",
    "codegen.classes": "count",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "sched.driver_gap_ms": "ms",
    "sched.task_delay_ms": "ms",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms",
    "spill.disk_bytes": "bytes",
    "sources.rows_read": "count",
    "sources.files_read": "count",
    "sources.rows_read_per_row_out": "ratio",
    "sources.jdbc_read_ms": "ms",
    "sinks.jdbc_write_ms": "ms",
    "sinks.rows_written": "count",
    "job.build_ms": "ms",
    "job.action_ms": "ms",
    "ckpt.rdds_created": "count",
    "ckpt.block_bytes": "bytes",
    "ckpt.live_after_pass": "count",
    "graph.round_ms": "ms",
    "graph.jobs_per_round": "count",
    "box.calib_s": "s",
    "trace.overhead_pct": "%",
    "trace.unaccounted_pct": "%",
    "functions.encode_cpu_ms_per_mtoken": "ms/Mtoken",
    "streaming.tail_batches": "count",
    "streaming.files_written": "count",
    "streaming.bytes_written_per_input_byte": "ratio",
    "streaming.bytes_rewritten_per_erased_row": "bytes",
}

LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def quantile(values, q):
    """Linear-interpolated q-th percentile (0..100) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n):
    """Highest percentile of LADDER with at least 10 samples beyond it,
    or None when there are fewer than 20 samples."""
    for q in LADDER:
        if n * (100.0 - q) / 100.0 >= 10:
            return q
    return None


def tail(values):
    """(value, level) per the tail rule; the median when samples are few."""
    q = tail_level(len(values))
    if q is None:
        return statistics.median(values), 50.0
    return quantile(values, q), q


def median(values, default=0.0):
    return statistics.median(values) if values else default


def measured(raw, traced):
    """Warm passes (the timed window, after the cold pass and any warm-up
    passes), traced or untraced."""
    return [p for p in raw["passes"] if p["timed"] and p["traced"] == traced]


def job_samples(passes, bad_jobs, kinds=None):
    out = []
    for p in passes:
        for j in p["jobs"]:
            if j["error"] is None and j["name"] not in bad_jobs and (
                    kinds is None or j["kind"] in kinds):
                out.append(j["build_s"] + j["action_s"])
    return out


def end_to_end(raw, bad_jobs):
    """Returns (metrics, notes): metrics {name: value}, notes {name: text}."""
    warm = measured(raw, traced=False)
    m, notes = {}, {}
    m["setup_s"] = raw["setup_s"]
    notes["setup_s"] = (f"JVM start to first timed job: session {raw['setup_session_s']:.2f} s, "
                        f"inputs {raw['setup_gen_s']:.2f} s, "
                        f"fixtures {raw['setup_fixture_s']:.2f} s")
    m["pass_s"] = median([p["wall_s"] for p in warm])
    notes["pass_s"] = f"n={len(warm)} passes"
    return m, notes


def workload_only(raw, bad_jobs, attempted, failed):
    passes = measured(raw, traced=False)
    m, notes = {"peak_heap_mb": raw["heap_peak_mb"], "cold_pass_s": raw["passes"][0]["wall_s"]}, {}
    jobs = job_samples(passes, bad_jobs, {"job"})
    if jobs:
        m["job_s.p50"] = median(jobs)
        notes["job_s.p50"] = f"n={len(jobs)} jobs"
        m["job_s.tail"], q = tail(jobs)
        notes["job_s.tail"] = f"p{q:g} of n={len(jobs)} jobs"
    # maintained-index operations, where the workload runs them
    for kind in ("maintain", "erase", "serve"):
        xs = job_samples(passes, bad_jobs, {kind})
        if xs:
            m[f"{kind}_s.p50"] = median(xs)
            notes[f"{kind}_s.p50"] = f"n={len(xs)}"
            if kind != "erase":
                m[f"{kind}_s.tail"], q = tail(xs)
                notes[f"{kind}_s.tail"] = f"p{q:g} of n={len(xs)}"
    cs = raw["extra_samples"].get("compact_s", [])
    if cs:
        m["compact_s.p50"] = median(cs)
        notes["compact_s.p50"] = f"n={len(cs)} (all passes)"
    m.update(raw["extra_values"])
    m["fail_ratio"] = failed / max(1, attempted)
    return m, notes


def per_layer(raw):
    traced = measured(raw, traced=True)
    untraced = measured(raw, traced=False)
    # streaming.* are byte and file counts the workload keeps in every pass;
    # tracing does not move them, so they come from every pass, the cold one
    # included
    every = raw["passes"]

    def med(name, passes=traced):
        return median([p["counters"].get(name, 0.0) for p in passes])

    def total(name):
        return sum(p["counters"].get(name, 0.0) for p in every)

    m = {name: med(name) for name in PER_LAYER}
    m["codegen.compile_ms"] = raw["codegen"]["compile_ms"]
    m["codegen.classes"] = raw["codegen"]["classes"]
    tokens = raw.get("tokens", 0)
    m["functions.encode_cpu_ms_per_mtoken"] = (
        med("tokenizer.cpu_ms") / (tokens / 1e6) if tokens else 0.0)
    m["streaming.tail_batches"] = med("streaming.tail_batches", every)
    m["streaming.files_written"] = med("raw.streaming.files_written", every)
    in_bytes = total("raw.maintain_input_bytes")
    m["streaming.bytes_written_per_input_byte"] = (
        total("raw.maintain_bytes") / in_bytes if in_bytes else 0.0)
    erased = total("raw.erased_rows")
    m["streaming.bytes_rewritten_per_erased_row"] = (
        total("raw.erase_bytes") / erased if erased else 0.0)
    m["box.calib_s"] = raw["env"]["box_calib_s"]
    t = median([p["wall_s"] for p in traced])
    u = median([p["wall_s"] for p in untraced])
    m["trace.overhead_pct"] = 100.0 * (t - u) / u if u else 0.0
    return m

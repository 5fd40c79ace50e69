"""Metric arithmetic over the harness's raw records (`records.json`).

All span and job times are epoch milliseconds. A gate execution has three
child spans (build, action, cleanup); a Spark job is a child of the span
that was active when it started.
"""
import math
import statistics

TAIL_GRID = tuple(range(50, 100, 5)) + (99, 99.9)
MEASURED = 2  # pass 0 is cold, pass 1 a burn-in; warm passes start here
MB = 1024.0 * 1024.0


def rank(p, n):
    """1-based nearest-rank index of percentile `p` among `n` samples."""
    return max(1, math.ceil(p * n / 100 - 1e-9))


def tail(samples, n_min=None):
    """The highest percentile of TAIL_GRID with at least 10 samples beyond
    it, as (percentile, value, n); None when no percentile qualifies.

    The percentile is chosen at `n_min` samples (the fewest a run can
    have), so runs that completed more passes still report the same
    percentile."""
    xs = sorted(samples)
    n = len(xs)
    base = n if n_min is None else min(n, n_min)
    ok = [p for p in TAIL_GRID if base - rank(p, base) >= 10]
    if not ok:
        return None
    p = max(ok)
    return p, xs[rank(p, n) - 1], n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other and stick out of the span."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def driver_gap(gate, jobs):
    """Gate wall time not covered by any running Spark job."""
    return self_time(gate, jobs)


def pair_yield(output_rows, pair_candidates):
    """Share of candidate pairs that survive into the output. The base is
    the rows out of join operators, not the input rows."""
    return output_rows / pair_candidates if pair_candidates else None


def selftest_ok(count_s, noop_s):
    """The noop timing must carry the cost of a column count() prunes."""
    return noop_s >= 4 * count_s


def median(xs):
    return statistics.median(xs) if xs else None


def geomean(xs):
    """Geometric mean; every gate weighs the same whatever its size."""
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


def end_to_end(rec, n_gates):
    """Metrics a user sees, from an untraced run."""
    passes = {p["pass"]: p for p in rec["passes"]}
    warm = [p for p in rec["passes"]
            if p["pass"] >= MEASURED and not p["traced"]]
    execs = [x for x in rec["execs"]
             if x["pass"] >= MEASURED and not x["traced"]]
    lat = [(x["action"][1] - x["build"][0]) / 1e3 for x in execs if x["ok"]]
    batch = [b["trigger_ms"] / 1e3 for b in rec["batches"]
             if b["pass"] >= MEASURED and not b["traced"]]
    per_gate = {}
    for x in execs:
        if x["ok"]:
            per_gate.setdefault(x["gate"], []).append(
                (x["action"][1] - x["build"][0]) / 1e3)
    m = {
        "setup_s": rec["setup_s"],
        "cold_pass_s": (passes[0]["end"] - passes[0]["start"]) / 1e3,
        "pass_s": median([(p["end"] - p["start"]) / 1e3 for p in warm]),
        "query_p50_s": median(lat),
        "query_geomean_s": geomean([median(v) for v in per_gate.values()]),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    t = tail(lat, rec["min_warm"] * n_gates)
    m["query_tail_s"] = t[1] if t else None
    extra = {"query_tail": t}
    if batch:
        m["batch_p50_s"] = median(batch)
        bt = tail(batch)
        m["batch_tail_s"] = bt[1] if bt else None
        extra["batch_tail"] = bt
    return m, extra


def per_pass(rec, pass_no, gate_rows):
    """Per-layer totals of one traced pass. `gate_rows` maps each gate to
    the rows it returns; `output_rows` sums them over the gates whose
    executed plans hold a join, the same gates `pair_candidates` counts."""
    execs = [x for x in rec["execs"] if x["pass"] == pass_no]
    ids = {str(x["id"]) for x in execs}
    starts, ends = {}, {}
    for j in rec["jobs"]:
        if "start" in j:
            starts[j["id"]] = j
        else:
            ends[j["id"]] = j["end"]
    jobs = [dict(j, end=ends.get(i, j["start"])) for i, j in starts.items()
            if j["exec"] in ids]
    job_ids = {j["id"] for j in jobs}
    stages = [s for s in rec["stages"] if s["job"] in job_ids]
    queries = [q for q in rec["queries"] if str(q["exec"]) in ids]
    batches = [b for b in rec["batches"] if str(b["exec"]) in ids]
    cores = rec["cores"]

    def jobs_of(x, span=None):
        return [(j["start"], j["end"]) for j in jobs
                if j["exec"] == str(x["id"])
                and (span is None or j["span"] == span)]

    build_s = sum(self_time(x["build"], jobs_of(x, "build"))
                  for x in execs) / 1e3
    gap_s = sum(driver_gap((x["build"][0], x["action"][1]), jobs_of(x))
                for x in execs) / 1e3
    action_s = sum(x["action"][1] - x["action"][0] for x in execs) / 1e3
    run_s = sum(s["run_ms"] for s in stages) / 1e3
    cand = sum(q["join_rows"] for q in queries)
    joined = {str(q["exec"]) for q in queries if q["joins"]}
    output_rows = sum(gate_rows[x["gate"]] for x in execs
                      if str(x["id"]) in joined)
    straggler = 0.0
    for s in stages:
        if s["task_run_ms"]:
            straggler += max(s["task_run_ms"]) - median(s["task_run_ms"])
    return {
        "build_s": build_s,
        "build_jobs": sum(1 for j in jobs if j["span"] == "build"),
        "catalyst_s": sum(q["catalyst_ms"] for q in queries) / 1e3,
        "plan_nodes": sum(q["plan_nodes"] for q in queries),
        "codegen_compiles": sum(x["compiles"] for x in execs),
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "driver_gap_s": gap_s,
        "task_overhead_s": sum(s["overhead_ms"] for s in stages) / 1e3,
        "task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "task_run_s": run_s,
        "gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "slot_util": run_s / (action_s * cores) if action_s else None,
        "straggler_s": straggler / 1e3,
        "shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / MB,
        "shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / MB,
        "fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1e3,
        "spill_mb": sum(s["spill"] for s in stages) / MB,
        "cache_mb": max((x["cache_bytes"] for x in execs), default=0) / MB,
        "cleanup_s": sum(x["cleanup"][1] - x["cleanup"][0]
                         for x in execs) / 1e3,
        "input_mb": sum(s["input_bytes"] for s in stages) / MB,
        "input_rows": sum(s["input_rows"] for s in stages),
        "pair_candidates": cand,
        "output_rows": output_rows,
        "pair_yield": pair_yield(output_rows, cand),
        "stream_batches": len(batches),
        "batch_plan_s": sum(b["plan_ms"] for b in batches) / 1e3,
        "batch_exec_s": sum(b["add_batch_ms"] for b in batches) / 1e3,
        "wal_commit_s": sum(b["wal_ms"] for b in batches) / 1e3,
        "state_commit_s": sum(b["state_commit_ms"] for b in batches) / 1e3,
        "state_rows_updated": sum(b["state_rows_updated"] for b in batches),
        "state_mem_mb": max((b["state_mem_bytes"] for b in batches),
                            default=0) / MB,
    }


def per_layer(rec, gate_rows):
    """Medians over the traced warm passes of each pass's layer totals,
    plus the cold pass's codegen compiles and the trace overhead."""
    warm = [p for p in rec["passes"] if p["pass"] >= MEASURED]
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]
    rows = [per_pass(rec, p["pass"], gate_rows) for p in traced]
    m = {k: median([r[k] for r in rows if r[k] is not None])
         for k in rows[0]}
    cold = [x for x in rec["execs"] if x["pass"] == 0]
    m["cold_codegen_compiles"] = sum(x["compiles"] for x in cold)

    def wall(ps):
        return median([(p["end"] - p["start"]) / 1e3 for p in ps])
    m["trace_overhead"] = wall(traced) / wall(plain)
    return m

"""Metric arithmetic for the benchmark: end-to-end metrics from the
untraced passes, per-layer metrics from the traced passes' spans and
listener records. Pure functions over the harness's JSON dump.

Times in the dump: pass and query walls in seconds; spans, jobs,
stages and streaming progress on one epoch-millisecond clock.
"""
import statistics

FOOTER_CALLSITE = "parquet at "
PHASES = ("table", "build", "plan", "exec")
MB = 1024.0 * 1024.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, above=10):
    """The highest percentile of `samples` that still has at least
    `above` samples above it: (value, percentile, sample count).

    With n samples sorted ascending that is the (n - above)-th one,
    percentile 100 * (n - above) / n (p90 at 100 samples). With too
    few samples for any such percentile (n <= above), it is p90,
    interpolated linearly between the two closest ranks: at ten
    samples, nine tenths of the way from the 9th to the 10th."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= above:
        pos = 0.9 * (n - 1)
        lo = int(pos)
        hi = min(lo + 1, n - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), 90.0, n
    k = n - above
    return xs[k - 1], 100.0 * k / n, n


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span["start"], span["end"]
    clipped = [(max(s, c["start"]), min(e, c["end"])) for c in children
               if c.get("end") is not None]
    return (e - s) - union_ms(clipped)


def counts(pass_lists, checks):
    """(attempted, failed): every query execution in the given passes
    plus one oracle comparison per query. An execution that threw and a
    result that differs from the oracle each count as one failure."""
    runs = [q for passes in pass_lists for p in passes for q in p["queries"]]
    attempted = len(runs) + len(checks)
    failed = sum(1 for q in runs if not q["ok"]) + sum(1 for ok in checks.values() if not ok)
    return attempted, failed


def end_to_end(forks, setup_samples, checks):
    """End-to-end metrics of one untraced run made of several forks
    (harness JVMs run one after the other). Each fork's cold pass is
    one cold-pass sample; the warm passes of all forks are pooled.

    `checks` maps query name -> True/False from the oracle comparison.
    A query sample that threw counts as failed and is left out of the
    latency samples, so a crash never reads as a fast query."""
    warm = [p for f in forks for p in f["warm"]]
    attempted, failed = counts([[f["cold"] for f in forks], warm], checks)
    samples = [q["wall_s"] for p in warm for q in p["queries"] if q["ok"]]
    value, pct, n = tail(samples)
    cold_samples = [f["cold"]["wall_s"] for f in forks]
    metrics = {
        "setup_s": median(setup_samples),
        "cold_pass_s": median(cold_samples),
        "pass_wall_s": median([p["wall_s"] for p in warm]),
        "pass_cpu_s": median([p["cpu_s"] for p in warm]),
        "query_p50_s": median(samples),
        "query_tail_s": value,
    }
    detail = {"query_samples": len(samples), "query_tail_percentile": pct,
              "warm_passes": len(warm), "failed_frac": failed / attempted if attempted else 0.0,
              "setup_samples": setup_samples, "cold_samples": cold_samples}
    return metrics, attempted, failed, detail


def _phase_lookup(spans):
    """A lookup from a record (job or stage) to the phase span it belongs
    to: the span named by its `span` property, or else the innermost
    phase span whose interval holds its start."""
    by_id = {s["id"]: s for s in spans}
    phases = [s for s in spans if s["kind"] in PHASES]

    def phase_of(rec):
        sid = rec.get("span")
        if sid is not None and sid in by_id and by_id[sid]["kind"] in PHASES:
            return by_id[sid]
        t = rec.get("start")
        if t is None:
            return None
        inside = [s for s in phases if s["start"] <= t <= s["end"]]
        return min(inside, key=lambda s: s["end"] - s["start"]) if inside else None

    return phase_of


def traced_pass(tp, cpus):
    """Per-layer metrics of one traced pass."""
    spans = tp["spans"]
    phase_of = _phase_lookup(spans)
    jobs = {k: [] for k in PHASES}
    stages = {k: [] for k in PHASES}
    jobs_by_span = {}
    for j in tp["jobs"]:
        ph = phase_of(j)
        if ph is not None:
            jobs[ph["kind"]].append(j)
            jobs_by_span.setdefault(ph["id"], []).append(j)
    for st in tp["stages"]:
        ph = phase_of(st)
        if ph is not None:
            stages[ph["kind"]].append(st)

    def dur_s(kind):
        return sum(s["end"] - s["start"] for s in spans if s["kind"] == kind) / 1000.0

    def self_s(kind):
        return sum(self_ms(s, jobs_by_span.get(s["id"], []))
                   for s in spans if s["kind"] == kind) / 1000.0

    def task_s(kind):
        return sum(st["run_ms"] for st in stages[kind]) / 1000.0

    footer = [j for j in jobs["build"]
              if j["callsite"].startswith(FOOTER_CALLSITE) and not j["sql"]]
    exec_s = dur_s("exec")
    skews = [max(st["task_ms"]) / statistics.median(st["task_ms"])
             for st in stages["exec"]
             if len(st["task_ms"]) >= 2 and statistics.median(st["task_ms"]) > 0]
    plans = [q.get("plan") or {} for q in tp["queries"]]
    last_progress = {}
    for p in tp["progress"]:
        last_progress[p["run"]] = p
    m = {
        "tables.open_s": dur_s("table"),
        "tables.open_jobs": len(jobs["table"]),
        "build_s": dur_s("build"),
        "build.self_s": self_s("build"),
        "build.jobs": len(jobs["build"]),
        "build.stages": len(stages["build"]),
        "build.task_s": task_s("build"),
        "build.footer_jobs": len(footer),
        "build.footer_job_share": len(footer) / len(jobs["build"]) if jobs["build"] else 0.0,
        "plan_s": dur_s("plan"),
        "exec_s": exec_s,
        "exec.self_s": self_s("exec"),
        "exec.jobs": len(jobs["exec"]),
        "exec.stages": len(stages["exec"]),
        "exec.tasks": sum(st["tasks"] for st in stages["exec"]),
        "exec.task_s": task_s("exec"),
        "exec.core_util": task_s("exec") / (exec_s * cpus) if exec_s > 0 else 0.0,
        "exec.shuffle_write_mb": sum(st["shuffle_write_bytes"] for st in stages["exec"]) / MB,
        "exec.shuffle_read_mb": sum(st["shuffle_read_bytes"] for st in stages["exec"]) / MB,
        "exec.spill_mb": sum(st["spill_bytes"] for st in stages["exec"]) / MB,
        "exec.gc_s": sum(st["gc_ms"] for st in stages["exec"]) / 1000.0,
        "exec.task_skew": max(skews) if skews else 1.0,
        "exec.failed_tasks": sum(st["failed_tasks"] for st in stages["exec"]),
        "cache.blocks_written": tp["blocks_written"],
        "cache.peak_storage_mb": tp["peak_storage_bytes"] / MB,
        "cache.rdds_left": sum(q.get("rdds_left", 0) for q in tp["queries"]),
        "stream.batches": len(tp["progress"]),
        "stream.batch_s": sum(p["batch_ms"] for p in tp["progress"]) / 1000.0,
        "stream.state_rows": sum(p["state_rows"] for p in last_progress.values()),
        "stream.state_mb": sum(p["state_bytes"] for p in last_progress.values()) / MB,
    }
    for key in ("exchanges", "reused_exchanges", "sort_merge_joins", "single_partition_windows"):
        m["plan." + key] = sum(p.get(key, 0) for p in plans)
    return m


def per_query(tp):
    """Per-query phase times (s) and job counts of one traced pass."""
    spans = tp["spans"]
    phase_of = _phase_lookup(spans)
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    jobs_per_span = {}
    for j in tp["jobs"]:
        ph = phase_of(j)
        if ph is not None:
            jobs_per_span[ph["id"]] = jobs_per_span.get(ph["id"], 0) + 1
    out = {}
    for q in (s for s in spans if s["kind"] == "query"):
        row = {"wall_s": (q["end"] - q["start"]) / 1000.0}
        for ph in by_parent.get(q["id"], []):
            row[ph["kind"] + "_s"] = (ph["end"] - ph["start"]) / 1000.0
            row[ph["kind"] + "_jobs"] = jobs_per_span.get(ph["id"], 0)
        out[q["name"]] = row
    return out


def layers(dump, checks):
    """Per-layer metrics of one traced run: the median over its traced
    passes of each pass's sums, plus kernels and tracing overhead."""
    cpus = dump["cpus"]
    per_pass = [traced_pass(tp, cpus) for tp in dump["traced"]]
    metrics = {k: median([p[k] for p in per_pass]) for k in per_pass[0]} if per_pass else {}
    for name, ns in dump["kernels"].items():
        metrics["kernel.%s.ns_per_row" % name] = ns
    untraced = median([p["wall_s"] for p in dump["warm"]])
    traced = median([p["wall_s"] for p in dump["traced"]])
    metrics["trace.overhead_frac"] = traced / untraced - 1.0 if untraced > 0 else 0.0
    metrics["peak_rss_mb"] = dump["vm_hwm_mb"]
    attempted, failed = counts([[dump["cold"]], dump["warm"], dump["traced"]], checks)
    return metrics, attempted, failed

"""Turns one harness recording into the benchmark's metrics.

Pure functions over the JSON object the JVM side (``perfbench.Main``)
writes, so they can be unit-tested without Spark:

* ``end_to_end``: what a user of the system sees (the untraced run);
* ``build_spans``: the traced run's span tree, one root span per op with
  its phases as children and each Spark job as a child of the phase that
  launched it, each span with its self time;
* ``per_layer``: the per-layer metrics derived from those spans.
"""
import statistics

MB = 1024 * 1024


def percentile(values, q):
    """The ``q``-th percentile (0-100) by linear interpolation between
    closest ranks, as numpy's default method computes it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, beyond=10):
    """The highest whole percentile that leaves at least ``beyond`` of
    ``n`` samples above it, or None when that is not above the median."""
    if n <= 0:
        return None
    p = int(100 * (1 - beyond / n))
    while p > 50 and n * (100 - p) / 100 < beyond:
        p -= 1
    return p if p > 50 else None


def covered_ms(intervals, lo, hi):
    """Milliseconds of [lo, hi] covered by the union of ``intervals``
    (each clipped to [lo, hi]); overlapping children count once."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time_ms(span, children):
    """A span's self time: its duration minus the part of it covered by
    its children."""
    return (span["end_ms"] - span["start_ms"]) - covered_ms(
        [(c["start_ms"], c["end_ms"]) for c in children],
        span["start_ms"], span["end_ms"])


def attribute_jobs(samples, jobs):
    """Map each job to (sample index, phase name) by its submit time: the
    op sample whose window contains it and, inside it, the latest phase
    that started at or before it. Jobs outside every op are dropped."""
    windows = sorted((s["start_ms"], s["end_ms"], i) for i, s in enumerate(samples))
    out = []
    for j in jobs:
        t = j["submit_ms"]
        hit = [i for a, b, i in windows if a <= t <= b]
        if not hit:
            continue
        i = hit[-1]
        phases = [p for p in samples[i]["phases"] if p["start_ms"] <= t]
        out.append((i, phases[-1]["name"] if phases else "other", j))
    return out


def build_spans(samples, jobs):
    """The span tree of the traced samples, flattened: every span has an
    id, parent id, kind (op, phase or job), name, window and self time."""
    spans = []
    by_phase = {}
    for i, j_phase, j in attribute_jobs(samples, jobs):
        by_phase.setdefault((i, j_phase), []).append(j)
    for i, s in enumerate(samples):
        root = {"id": f"op{i}", "parent": None, "kind": "op", "name": s["op"],
                "pass": s["pass"], "start_ms": s["start_ms"], "end_ms": s["end_ms"]}
        phase_spans = []
        for p in s["phases"]:
            ps = {"id": f"op{i}.{p['name']}", "parent": root["id"], "kind": "phase",
                  "name": p["name"], "start_ms": p["start_ms"], "end_ms": p["end_ms"]}
            job_spans = []
            for j in by_phase.get((i, p["name"]), []):
                end = j["end_ms"] if j["end_ms"] >= j["submit_ms"] else p["end_ms"]
                job_spans.append({
                    "id": f"job{j['id']}", "parent": ps["id"], "kind": "job",
                    "name": j["site"], "module": j["module"],
                    "start_ms": j["submit_ms"], "end_ms": end, "self_ms": end - j["submit_ms"]})
            ps["self_ms"] = self_time_ms(ps, job_spans)
            phase_spans.append(ps)
            phase_spans.extend(job_spans)
        root["self_ms"] = self_time_ms(
            root, [p for p in phase_spans if p["kind"] == "phase"])
        spans.append(root)
        spans.extend(phase_spans)
    return spans


def passes_of(rec, kind):
    return {p["pass"] for p in rec["passes"] if p["kind"] == kind}


def measured_samples(rec):
    """The samples of the measured region, not of a traced run's
    overhead probe."""
    measured = passes_of(rec, "measured")
    return [s for s in rec["samples"] if s["pass"] in measured]


def _phase_s(sample, name):
    return sum(p["seconds"] for p in sample["phases"] if p["name"] == name)


def end_to_end(rec):
    """The end-to-end metrics of one run: (name -> (value, unit))."""
    samples = measured_samples(rec)
    return {
        "setup_s": (rec["setup"]["setup_s"], "s"),
        "ops_per_s": (len(samples) / rec["region_s"], "1/s"),
        "latency_p50_s": (statistics.median(s["seconds"] for s in samples), "s"),
        "mem_peak_mb": (rec["peak_rss_mb"], "MB"),
    }


def latency_tail(rec):
    """The highest percentile with at least ten samples beyond it, and
    its latency; None when the sample count supports nothing above the
    median (as at every workload's sample count today)."""
    lat = [s["seconds"] for s in measured_samples(rec)]
    p = tail_percentile(len(lat))
    return None if p is None else {"percentile": p, "seconds": percentile(lat, p)}


# source files (as the tracer names them) whose jobs are trainer work
TRAINERS = {"KMeans.scala", "AnnIndex.scala", "Knn.scala"}


def per_layer(rec):
    """Per-layer metrics of a traced run: (name -> (value, unit)). Counts
    and seconds are per op over the measured (traced) passes;
    ``trace.overhead_pct`` compares the traced and untraced runs of every
    op in the run's probe pass."""
    measured = passes_of(rec, "measured")
    traced = [s for s in measured_samples(rec) if s["traced"]]
    n = max(1, len(traced))
    attributed = attribute_jobs(traced, rec["jobs"])
    jobs = [j for _, _, j in attributed]
    in_phase = lambda *names: [j for _, p, j in attributed if p in names]
    construct = in_phase("construct")
    tables = [j for j in construct if j["module"] == "Tables.scala"]
    eager = [j for j in construct if j["module"] != "Tables.scala"]
    train = [j for j in construct if j["module"] in TRAINERS]
    job_s = lambda js: sum(max(0, j["end_ms"] - j["submit_ms"]) for j in js) / 1e3
    tot = lambda key: sum(j[key] for j in jobs)
    per_op = lambda v: v / n
    ingest = [s for s in traced if "rows_in" in s]
    per_batch = lambda v: v / max(1, len(ingest))
    skews = []
    for j in jobs:
        r = sorted(j["task_shuffle_reads"])
        if len(r) >= 4:
            skews.append(r[-1] / max(1, statistics.median(r)))
    probes = passes_of(rec, "probe")
    probe_s = {True: 0.0, False: 0.0}
    for s in rec["samples"]:
        if s["pass"] in probes:
            probe_s[s["traced"]] += s["seconds"]
    overhead = 100.0 * (probe_s[True] / probe_s[False] - 1) if probe_s[False] else 0.0
    traced_wall = sum(p["seconds"] for p in rec["passes"] if p["pass"] in measured)
    cores = rec["cores"]
    rows_in = sum(s["rows_in"] for s in ingest)
    bytes_in = sum(s["bytes_in"] for s in ingest)
    # what the merges wrote, from the task output metrics of their jobs
    merge = in_phase("merge")
    bytes_written = sum(j["output_bytes"] for j in merge)
    rows_written = sum(j["output_records"] for j in merge)
    setup = rec["setup"]
    builds = [s for s in rec["samples"] if s["index_builds"]]
    m = {
        "session.build_s": (setup["build_s"], "s"),
        "session.warm_s": (setup["warm_s"], "s"),
        "tables.infer_jobs": (per_op(len(tables)), "jobs/op"),
        "tables.infer_s": (per_op(job_s(tables)), "s/op"),
        "construct.s": (per_op(sum(_phase_s(s, "construct") for s in traced)), "s/op"),
        "construct.jobs": (per_op(len(construct)), "jobs/op"),
        "construct.eager_jobs": (per_op(len(eager)), "jobs/op"),
        "construct.eager_s": (per_op(job_s(eager)), "s/op"),
        "similarity.train_jobs": (per_op(len(train)), "jobs/op"),
        "similarity.train_s": (per_op(job_s(train)), "s/op"),
        "similarity.index_builds": (sum(s["index_builds"] for s in rec["samples"]), "count"),
        "similarity.index_build_s": (sum(_phase_s(s, "construct") for s in builds), "s"),
        "plan.analysis_s": (per_op(sum(s.get("catalyst", {}).get("analysis", 0) for s in traced)), "s/op"),
        "plan.optimization_s": (per_op(sum(s.get("catalyst", {}).get("optimization", 0) for s in traced)), "s/op"),
        "plan.planning_s": (per_op(sum(s.get("catalyst", {}).get("planning", 0) for s in traced)), "s/op"),
        "exec.s": (per_op(sum(_phase_s(s, "exec") for s in traced)), "s/op"),
        "exec.jobs": (per_op(len(in_phase("exec", "merge", "fresh"))), "jobs/op"),
        "exec.stages": (per_op(tot("stages")), "stages/op"),
        "exec.tasks": (per_op(tot("tasks")), "tasks/op"),
        "exec.task_run_s": (per_op(tot("run_ms") / 1e3), "s/op"),
        "exec.slot_util": (100.0 * tot("run_ms") / 1e3 / (cores * traced_wall) if traced_wall else 0.0, "%"),
        "exec.sched_delay_s": (per_op(tot("sched_delay_ms") / 1e3), "s/op"),
        "exec.fetch_wait_s": (per_op(tot("fetch_wait_ms") / 1e3), "s/op"),
        "exec.input_mb": (per_op(tot("input_bytes") / MB), "MB/op"),
        "exec.shuffle_read_mb": (per_op(tot("shuffle_read_bytes") / MB), "MB/op"),
        "exec.shuffle_write_mb": (per_op(tot("shuffle_write_bytes") / MB), "MB/op"),
        "exec.spill_mem_mb": (per_op(tot("spill_mem_bytes") / MB), "MB/op"),
        "exec.spill_disk_mb": (per_op(tot("spill_disk_bytes") / MB), "MB/op"),
        "exec.gc_s": (per_op(tot("gc_ms") / 1e3), "s/op"),
        "exec.peak_task_mem_mb": (max((j["peak_task_mem_bytes"] for j in jobs), default=0) / MB, "MB"),
        "exec.task_skew": (max(skews, default=0.0), "ratio"),
        "exec.pinned_blocks": (per_op(sum(s["pinned_rdds"] for s in traced)), "rdds/op"),
        "sources.read_s": (per_batch(sum(_phase_s(s, "read") for s in traced)), "s/batch"),
        "sources.rows_in": (per_batch(rows_in), "rows/batch"),
        "sources.bytes_in": (per_batch(bytes_in), "B/batch"),
        "sinks.merge_s": (per_batch(sum(_phase_s(s, "merge") for s in traced)), "s/batch"),
        "sinks.rows_written": (per_batch(rows_written), "rows/batch"),
        "sinks.bytes_written": (per_batch(bytes_written), "B/batch"),
        "sinks.rewrite_ratio": (rows_written / rows_in if rows_in else 0.0, "ratio"),
        "sinks.write_amp": (bytes_written / bytes_in if bytes_in else 0.0, "ratio"),
        "sinks.table_mb": (ingest[-1]["table_bytes"] / MB if ingest else 0.0, "MB"),
        "sinks.files_written": (per_batch(sum(s["files_written"] for s in ingest)), "files/batch"),
        "sinks.fresh_read_s": (per_batch(sum(_phase_s(s, "fresh") for s in traced)), "s/batch"),
        "trace.overhead_pct": (overhead, "%"),
    }
    return m

#!/usr/bin/env python3
"""graft's benchmark: one command per workload, run from the repository root.

    python3 perfbench/run.py --workload reports_ingest --seed 1 --seconds 5 --trace 0

builds graft and the harness from source (once per checkout, with sbt),
generates the workload's inputs, runs the workload in a fresh JVM under
``perfbench.Main`` and prints a summary followed, as the last line of
standard output, by one JSON object:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics,
and the run's span tree is written beside its recording. Each run's
recording goes to its own file under ``perfbench/.recordings``, written
to a temporary name and renamed, so no run overwrites another.

The exit code is 0 only when every op succeeded and every output check
passed. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402

RUN_LIMIT_S = 170          # a run, build excluded, ends within this
BUILD_LIMIT_S = 700        # the one-off build of a checkout

REPORTS = ["tbl_catalog", "q5_region_volume", "rpt_summary",
           "etl_cdc_apply", "evt_sessionize"]
CORPUS = ["ann_kmeans", "rag_bm25_indexed", "dedup_containment"]

WORKLOADS = {
    "reports_ingest": {"sf": 0.1, "heap": "1g", "ops": REPORTS,
                       "warm": "lineitem,events",
                       "ingest": {"table_rows": 150_000, "batch_rows": 10_000,
                                  "batches": 2}},
    "corpus": {"sf": 0.1, "heap": "512m", "ops": CORPUS,
               "warm": "documents,embeddings"},
}
SMOKE = {"sf": 0.001}
SMOKE_INGEST = {"table_rows": 1000, "batch_rows": 200, "batches": 2}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


# ------------------------------------------------------------------ build

def program_sources():
    """Every file the build reads, for the build stamp."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build(deadline):
    """Compile graft and the harness with sbt unless the stamp shows the
    same sources were built here already; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        raise BenchError(f"graft's sources are not under {ROOT}; run from a checkout")
    h = hashlib.sha256(str(ROOT).encode())
    for f in program_sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp, cp_file = HERE / "target" / "build.stamp", HERE / "target" / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == h.hexdigest():
        return cp_file.read_text().strip()
    os.environ.setdefault("COURSIER_MODE", "offline")
    log = HERE / "target" / "build.log"
    log.parent.mkdir(exist_ok=True)
    with open(log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "writeClasspath"],
                         cwd=HERE, stdout=out, deadline=deadline)
    if code != 0:
        raise BenchError(f"build failed (exit {code}); see {log}")
    stamp.write_text(h.hexdigest())
    return cp_file.read_text().strip()


def run_child(cmd, cwd, stdout, deadline):
    """Run a child in its own process group; on timeout kill the group and
    wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"{cmd[0]} did not finish in time")


# ------------------------------------------------------------------- data

def cached_dir(name, params, make):
    """A generated input directory under perfbench/.data, rebuilt when the
    generator or its parameters change; built aside and renamed."""
    key = hashlib.sha256((HERE / "gen.py").read_bytes() +
                         json.dumps(params, sort_keys=True).encode()).hexdigest()[:16]
    d = HERE / ".data" / f"{name}-{key}"
    if not d.is_dir():
        for stale in d.parent.glob(f"{name}-*"):
            shutil.rmtree(stale, ignore_errors=True)
        tmp = HERE / ".data" / f".{d.name}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.replace(tmp, d)
    return d


def prepare_inputs(cfg, seed, run_dir):
    """Write the workload's inputs; returns the harness's extra arguments
    and what the ingest checks expect (None without ingest ops)."""
    base = cached_dir(f"sf{cfg['sf']}", {"sf": cfg["sf"]},
                      lambda d: gen.base_tables(str(d), cfg["sf"]))
    ops = run_dir / "ops.txt"
    ops.write_text("\n".join(cfg["ops"]) + "\n")
    hargs = {"data": str(base), "ops": str(ops), "warm": cfg["warm"]}
    if "ingest" not in cfg:
        return hargs, None
    ing = cfg["ingest"]
    initial, files, expected = gen.ingest_batches(
        str(base), str(run_dir / "extracts"), seed, ing["table_rows"],
        ing["batch_rows"], ing["batches"])
    listing = run_dir / "batches.txt"
    listing.write_text("".join(f"{f['path']}|{f['rows']}|{f['bytes']}\n" for f in files))
    return dict(hargs, initial=initial, batches=str(listing)), expected


def record_expected(w, rec):
    errors = [s["op"] for s in rec["samples"] if "error" in s]
    if errors or any("error" in v for v in rec["content"].values()):
        raise BenchError(f"not recording expectations: ops failed: {errors}")
    path = HERE / "expected.json"
    exp = json.loads(path.read_text()) if path.is_file() else {}
    exp[w] = {"rows": {s["op"]: s["rows"] for s in rec["samples"] if "rows_in" not in s},
              "content": rec["content"]}
    write_atomic(path, json.dumps(exp, indent=1, sort_keys=True) + "\n")


def expected_for(w):
    path = HERE / "expected.json"
    return json.loads(path.read_text()).get(w, {}) if path.is_file() else {}


# ----------------------------------------------------------------- checks

def check(w, cfg, rec, ingest_expected, smoke):
    """Output checks; returns (attempted, failures) where each failure is
    a one-line description. Every op sample counts as an attempt, and so
    does every content hash and every ingest pass check."""
    failures = []
    exp = {} if smoke else expected_for(w)
    rows = exp.get("rows", {})
    for s in rec["samples"]:
        tag = f"{s['op']} (pass {s['pass']})"
        if "error" in s:
            failures.append(f"{tag}: {s['error']}")
        elif "rows_in" in s:
            want = cfg["ingest"]["batch_rows"]
            if s["rows_in"] != want:
                failures.append(f"{tag}: read {s['rows_in']} rows, extract has {want}")
        elif not smoke and s["rows"] != rows.get(s["op"]):
            failures.append(f"{tag}: {s['rows']} rows, expected {rows.get(s['op'])}")
    attempted = len(rec["samples"])
    if rec["content"] and not smoke:
        for op, want in exp.get("content", {}).items():
            attempted += 1
            if rec["content"].get(op) != want:
                failures.append(f"{op}: content {rec['content'].get(op)}, expected {want}")
    if ingest_expected is not None:
        for p in rec["passes"]:
            attempted += 1
            got = {"keys": p["keys"], "checksum": int(p["checksum"])}
            if p["table_rows"] != p["keys"] or got != ingest_expected:
                failures.append(f"pass {p['pass']}: merged table {got} "
                                f"({p['table_rows']} rows), expected {ingest_expected}")
    return attempted, failures


# ------------------------------------------------------------------- main

def fingerprint(cores, heap, seed, trace):
    def commit():
        try:
            out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
        return None
    extra = os.environ.get("SPARK_GRAFT_EXTRA_OPTS", "")
    return {"cores": cores, "xmx": heap, "load_avg_start": os.getloadavg()[0],
            "seed": seed, "trace": trace, "commit": commit(),
            "spark_graft_extra_opts": extra, "valid": extra.strip() == ""}


def write_atomic(path, text):
    tmp = path.with_name(f".{path.name}.{os.getpid()}.tmp")
    tmp.write_text(text)
    os.replace(tmp, path)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one pass at sf0.001 with a tiny ingest; checks errors only")
    ap.add_argument("--record", action="store_true",
                    help="write this run's row counts and content hashes to "
                         "expected.json as the workload's expectations")
    args = ap.parse_args(argv)
    started = time.time()
    w = args.workload
    cfg = dict(WORKLOADS[w])
    if args.smoke:
        cfg.update(SMOKE)
        if "ingest" in cfg:
            cfg["ingest"] = SMOKE_INGEST
    cores = len(os.sched_getaffinity(0))
    fp = fingerprint(cores, cfg["heap"], args.seed, args.trace)
    if not fp["valid"]:
        raise BenchError("SPARK_GRAFT_EXTRA_OPTS is set; this run would not be comparable")

    t_build = time.time()
    classpath = build(t_build + BUILD_LIMIT_S)
    deadline = started + (time.time() - t_build) + RUN_LIMIT_S
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    name = f"{w}-trace{args.trace}-seed{args.seed}-{stamp}-{os.getpid()}"
    run_dir = HERE / ".runs" / name
    run_dir.mkdir(parents=True)
    try:
        extra, ingest_expected = prepare_inputs(cfg, args.seed, run_dir)
        out = run_dir / "result.json"
        hargs = {"run": str(run_dir), "out": str(out),
                 "cores": cores, "seed": args.seed,
                 "seconds": 0 if args.smoke else args.seconds,
                 "trace": args.trace,
                 "hash": int(bool(args.trace or args.record)), **extra}
        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
            if os.environ.get("JAVA_HOME") else "java"
        # a fixed heap limit; the heap grows as the program touches it, so
        # the peak RSS follows what the program holds. G1 grows it in
        # steps of 4% of the uncommitted heap instead of 20%, so the peak
        # does not depend on where one large step happened to land.
        cmd = [java, f"-Xmx{cfg['heap']}",
               "-XX:+UnlockExperimentalVMOptions", "-XX:G1ExpandByPercentOfAvailable=4",
               "-XX:-UsePerfData",  # no hsperfdata file outside the run directory
               *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS],
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={run_dir}", "-cp", classpath, "perfbench.Main",
               *[f"{k}={v}" for k, v in hargs.items()]]
        with open(run_dir / "jvm.log", "w") as log:
            code = run_child(cmd, cwd=run_dir, stdout=log, deadline=deadline)
        if code != 0 or not out.is_file():
            tail = (run_dir / "jvm.log").read_text().splitlines()[-20:]
            raise BenchError(f"harness exited {code}:\n" + "\n".join(tail))
        rec = json.loads(out.read_text())
        if args.record:
            record_expected(w, rec)
        attempted, failures = check(w, cfg, rec, ingest_expected, args.smoke)
        e2e = metrics.end_to_end(rec)
        layers = metrics.per_layer(rec) if args.trace else {}
        recording = {"workload": w, "env": fp, "config": cfg, "attempted": attempted,
                     "failures": failures,
                     "end_to_end": {k: v for k, (v, _) in e2e.items()},
                     "latency_tail": metrics.latency_tail(rec),
                     "per_layer": {k: v for k, (v, _) in layers.items()},
                     "run": rec}
        rec_dir = HERE / ".recordings"
        rec_dir.mkdir(exist_ok=True)
        write_atomic(rec_dir / f"{name}.json", json.dumps(recording))
        if args.trace:
            spans = metrics.build_spans(
                [s for s in metrics.measured_samples(rec) if s["traced"]], rec["jobs"])
            write_atomic(rec_dir / f"{name}.spans.jsonl",
                         "".join(json.dumps(s) + "\n" for s in spans))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for f in failures:
        print(f"FAILED {f}")
    measured = metrics.measured_samples(rec)
    print(f"{w}: {len(measured)} ops measured in {rec['region_s']:.2f} s"
          f"{' with tracing on' if args.trace else ''}; error_rate "
          f"{len(failures) / attempted:.4f} ({len(failures)} of {attempted})")
    for k, (v, unit) in {**e2e, **layers}.items():
        print(f"  {k:28s} {v:14.6f} {unit}")
    shown = layers if args.trace else e2e
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))
    return 0 if not failures else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)

#!/usr/bin/env python3
"""graft's benchmark: one workload per run, one JSON result line.

Usage (from the repository root):

    python3 benchmark/run.py --workload dataflow --seed 1 --seconds 10 --trace 0
    python3 benchmark/run.py --workload stream_stateful --seed 1 --seconds 10 --rate 4000
    python3 benchmark/run.py --selfcheck

Workloads: dataflow (batch queries from SparkEntry.queries over the sf0.1
fixtures) and stream_stateful (graft.streaming operators fed by a seeded
generator). See benchmark/README.md.

The first run in a checkout builds the program and the benchmark with sbt
(offline) and caches the classpath under .benchwork/. Every run then starts
one JVM that sets up Spark, times the workload and writes a JSON record; this
script checks the outputs and prints the result as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics of
a traced run. Exit status is 0 only when a result was printed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".benchwork"
GOLDEN = BENCH / "golden.json"
WORKLOADS = ("dataflow", "stream_stateful")
JVM_TIMEOUT_S = 170
# stream_stateful: open-loop micro-batches per operator in a traced run
OPEN_BATCHES = 50
# stream_stateful: total_s is the time of this many closed-loop batches
# per operator
NOMINAL_BATCHES = 10
# total_s takes the median of at least this many timed samples
QUIET_NEED = 3
BUILD_TIMEOUT_S = 840
HEAP = "4g"

E2E_UNITS = {
    "setup_s": "s",
    "total_s": "s",
}

# end-to-end figures every run prints on its report line, gated or not
REPORTED = {
    "dataflow": ["setup_s", "total_s", "query_s_p50", "query_s_p85", "failed_frac",
                 "peak_rss_mb", "cold_pass_s", "quiet_passes", "steal_share",
                 "setup_steal_share"],
    "stream_stateful": ["setup_s", "total_s", "failed_frac", "peak_rss_mb",
                        "stream_rows_per_s", "quiet_batches", "steal_share",
                        "setup_steal_share"],
}

PER_LAYER_UNITS = {
    "tables.scan_bytes": "bytes",
    "tables.scan_tasks": "count",
    "tables.scan_tasks_empty": "count",
    "tables.scan_task_s": "s",
    "prims.build_s": "s",
    "prims.pin_jobs": "count",
    "ops.agg_s": "s",
    "ops.sort_s": "s",
    "ops.join_build_s": "s",
    "ops.peak_exec_mem_bytes": "bytes",
    "exchange.write_bytes": "bytes",
    "exchange.read_bytes": "bytes",
    "exchange.write_s": "s",
    "exchange.spill_bytes": "bytes",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.tasks_empty": "count",
    "scheduler.task_overhead_s": "s",
    "scheduler.busy_frac": "ratio",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
    "streaming.batches": "count",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms",
    "streaming.commit_ms_p50": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.late_dropped_rows": "count",
    "streaming.gen_lag_ms": "ms",
    "streaming.open_latency_ms_p50": "ms",
    "streaming.open_latency_ms_p90": "ms",
    "ingest.files_written": "count",
    "ingest.bytes_written": "bytes",
    "trace.total_s": "s",
    "trace.overhead_s": "s",
}

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[benchmark] {msg}", file=sys.stderr, flush=True)


def data_dir(sf):
    """The read-only fixture tables: $GRAFT_BENCH_DATA/<sf>, by default
    ~/testdata/<sf> (one parquet file per table)."""
    base = Path(os.environ.get("GRAFT_BENCH_DATA", Path.home() / "testdata"))
    d = base / sf
    if not (d / "lineitem.parquet").is_file():
        raise BenchError(f"fixture tables not found in {d}")
    return d


# ---------------------------------------------------------------- build

def source_digest():
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += [p for p in d.glob("*") if p.suffix in (".sbt", ".properties", ".scala")]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += [p for p in d.rglob("*") if p.is_file()]
    h = hashlib.sha256()
    for p in sorted(f for f in files if f.is_file()):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the program (its own root sbt build) and the benchmark once
    per source state; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        raise BenchError("program sources not found next to the benchmark")
    WORK.mkdir(exist_ok=True)
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    digest = source_digest()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    log("building program and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(WORK / "build.log", "w") as out:
        rc = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=BENCH, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    lines = (WORK / "build.log").read_text().splitlines()
    if rc != 0:
        raise BenchError("build failed:\n" + "\n".join(lines[-20:]))
    cp = next((l.strip() for l in reversed(lines)
               if ":" in l and "classes" in l and not l.startswith("[")), None)
    if cp is None:
        raise BenchError("build printed no classpath")
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def run_process(cmd, cwd, env, stdout, timeout):
    """Runs `cmd` in its own process group; kills the group on timeout and
    waits for it, so nothing outlives the benchmark."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise BenchError(f"{cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def proc_stat():
    """The machine's steal and total CPU ticks so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(t) for t in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def run_jvm(cp, run_dir, **args):
    """One benchmark JVM; returns the JSON record it wrote."""
    if run_dir.exists():
        shutil.rmtree(run_dir)
    run_dir.mkdir(parents=True)
    out = run_dir / "record.json"
    steal, ticks = proc_stat()
    args = dict(args, work=run_dir, out=out, spawn_ms=f"{time.time() * 1000:.0f}",
                spawn_steal=steal, spawn_ticks=ticks)
    cmd = (["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.bench.Main"] + [f"{k}={v}" for k, v in args.items()])
    with open(run_dir / "jvm.log", "w") as jvm_log:
        rc = run_process(cmd, cwd=run_dir, env=os.environ, stdout=jvm_log,
                         timeout=JVM_TIMEOUT_S)
    if rc != 0 or not out.is_file():
        tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-15:]
        raise BenchError(f"benchmark JVM failed (exit {rc}):\n" + "\n".join(tail))
    return json.loads(out.read_text())


# ---------------------------------------------------------------- metrics

def pct(values, q):
    """Percentile `q` (0-100) with linear interpolation between ranks."""
    v = sorted(values)
    if not v:
        raise BenchError("no samples")
    k = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def timed_passes(record, traced):
    return [p for p in record["passes"] if not p["warmup"] and p["traced"] == traced]


def check_batch(record, golden):
    """Failures of a batch run, one per query execution of every pass:
    errors, fingerprints that differ from the golden ones, and queries
    whose golden result disagrees with DuckDB."""
    expected = golden["dataflow"]
    failures = {}
    attempted = 0
    for i, p in enumerate(record["passes"]):
        seen = set()
        for q in p["queries"]:
            name = q["name"]
            seen.add(name)
            attempted += 1
            g = expected.get(name)
            if q["error"]:
                failures[(i, name)] = "error: " + q["error"]
            elif g is None:
                failures[(i, name)] = "no golden fingerprint"
            elif (q["rows"], q["hash"]) != (g["rows"], g["hash"]):
                failures[(i, name)] = (f"wrong result: {q['rows']} rows {q['hash']}, "
                                       f"golden {g['rows']} rows {g['hash']}")
            elif g.get("oracle", "pass") != "pass":
                failures[(i, name)] = "golden result disagrees with DuckDB: " + g["oracle"]
        for name in expected:
            if name not in seen:
                attempted += 1
                failures[(i, name)] = "not run"
    return attempted, failures


def check_plans(record):
    """The fingerprint action must keep the whole plan: decimal_arith's
    final plan still has its Sort and its computed Project in every
    traced pass."""
    failures = {}
    for i, p in enumerate(record["passes"]):
        for q in p["queries"]:
            if q["name"] == "decimal_arith" and p["traced"]:
                missing = {"Sort", "Project"} - set(q["plan"])
                if missing:
                    failures[(i, "decimal_arith plan")] = f"missing {sorted(missing)} in {q['plan']}"
    return failures


def check_stream(record):
    failures = {}
    ops = record["ops"]
    for i, o in enumerate(ops):
        if o["problems"]:
            failures[(i, o["name"])] = "; ".join(o["problems"])
        elif len(o["open_latency_ms"]) != o["open_chunks"]:
            failures[(i, o["name"])] = "open-loop chunks without a consuming batch"
    return len(ops), failures


def quiet(samples, is_quiet, steal):
    """The samples taken while other guests of the machine took less than
    Stamp.QuietSteal of its CPU time; with fewer than QUIET_NEED of them,
    the QUIET_NEED samples with least steal."""
    kept = [x for x, q in zip(samples, is_quiet) if q]
    if len(kept) < QUIET_NEED:
        order = sorted(range(len(samples)), key=lambda i: steal[i])
        kept = [samples[i] for i in sorted(order[:QUIET_NEED])]
    return kept


def quiet_passes(passes):
    return quiet(passes, [p["quiet"] for p in passes], [p["steal"] for p in passes])


def pass_total(passes):
    return statistics.median(p["pass_s"] for p in quiet_passes(passes))


def quiet_batches(op, traced):
    keep = [i for i, t in enumerate(op["closed_batch_traced"]) if t == traced]
    return quiet([op["closed_batch_s"][i] for i in keep],
                 [op["closed_batch_quiet"][i] for i in keep],
                 [op["closed_batch_steal"][i] for i in keep])


def stream_total(ops, traced=False):
    """Closed-loop time of NOMINAL_BATCHES batches per operator, each
    operator's taken as that many times its median quiet timed batch
    (of the traced or of the plain batches)."""
    return sum(statistics.median(quiet_batches(o, traced)) * NOMINAL_BATCHES for o in ops)


def end_to_end(workload, record):
    """The gated metrics: the run's cold set-up and the workload's
    median-based time (see README.md)."""
    if workload == "dataflow":
        total = pass_total(timed_passes(record, False))
    else:
        total = stream_total(record["ops"])
    return {"setup_s": record["setup_s"], "total_s": total}


def open_latency(ops):
    """Open-loop latency samples (one per offered chunk, weighted by its
    events) and the number of distinct micro-batches above p90."""
    samples = [(lat, o["open_chunk_rows"], (i, b)) for i, o in enumerate(ops)
               for lat, b in zip(o["open_latency_ms"], o["open_latency_batch"])]
    if not samples:
        return None
    events = [lat for lat, n, _ in samples for _ in range(n)]
    p50, p90 = pct(events, 50), pct(events, 90)
    beyond = {b for lat, _, b in samples if lat > p90}
    return p50, p90, len(beyond), len({b for _, _, b in samples})


def report(workload, record, attempted, failures):
    """Every end-to-end figure of the run by name and unit, including the
    ones that carry no bound (see README.md)."""
    e2e = end_to_end(workload, record)
    r = {"setup_s": (e2e["setup_s"], "s"),
         "total_s": (e2e["total_s"], "s"),
         "failed_frac": (len(failures) / attempted, "ratio"),
         "peak_rss_mb": (record["rss_hwm_mb"], "MB"),
         "setup_steal_share": (record["setup_steal"], "ratio")}
    if workload == "dataflow":
        timed = timed_passes(record, False)
        per_query = {}
        for p in quiet_passes(timed):
            for q in p["queries"]:
                per_query.setdefault(q["name"], []).append(q["total_s"])
        times = [statistics.median(v) for v in per_query.values()]
        r["query_s_p50"] = (pct(times, 50), "s")
        r["query_s_p85"] = (pct(times, 85), "s")
        r["cold_pass_s"] = (record["passes"][0]["pass_s"], "s")
        r["timed_passes"] = (len(timed), "count")
        r["quiet_passes"] = (sum(p["quiet"] for p in timed), "count")
        r["steal_share"] = (statistics.mean(p["steal"] for p in timed), "ratio")
    else:
        ops = record["ops"]
        rows = sum(NOMINAL_BATCHES * o["closed_rows"] / len(o["closed_batch_s"]) for o in ops)
        r["stream_rows_per_s"] = (rows / e2e["total_s"], "rows/s")
        r["closed_batches"] = (sum(len(o["closed_batch_s"]) for o in ops), "count")
        r["quiet_batches"] = (sum(sum(o["closed_batch_quiet"]) for o in ops), "count")
        r["steal_share"] = (statistics.mean(v for o in ops for v in o["closed_batch_steal"]),
                            "ratio")
        lat = open_latency(ops)
        if lat:
            r["stream_latency_ms_p50"] = (lat[0], "ms")
            r["stream_latency_ms_p90"] = (lat[1], "ms")
            r["latency_batches_beyond_p90"] = (lat[2], "count")
            r["open_batches"] = (lat[3], "count")
            r["offered_rate"] = (record["offered_rate"], "events/s")
            r["gen_lag_ms_max"] = (max(max(o["gen_lag_ms"]) for o in ops), "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in r.items()}


def per_layer(workload, record):
    """Per-layer metrics of the traced passes (batch: per traced pass) and
    the trace overhead against plain passes of the same process."""
    t = record["totals"]
    m = {k: 0.0 for k in PER_LAYER_UNITS}
    m["jvm.gc_s"] = record["gc_s"]
    m["jvm.peak_rss_mb"] = record["rss_hwm_mb"]
    if workload == "dataflow":
        traced = timed_passes(record, True)
        n = len(traced)
        for k in m:
            if k in t:
                m[k] = t[k] if k == "ops.peak_exec_mem_bytes" else t[k] / n
        wall = sum(p["pass_s"] for p in traced)
        m["prims.build_s"] = sum(q["build_s"] for p in traced for q in p["queries"]) / n
        m["trace.total_s"] = pass_total(traced)
        m["trace.overhead_s"] = m["trace.total_s"] - pass_total(timed_passes(record, False))
    else:
        for k in m:
            if k in t:
                m[k] = t[k]
        ops = record["ops"]
        wall = sum(o["traced_s"] for o in ops)
        m["streaming.batches"] = sum(o["batches"] for o in ops)
        for key, src in (("add_batch", "add_batch_ms"), ("planning", "planning_ms"),
                         ("commit", "commit_ms")):
            m[f"streaming.{key}_ms_p50"] = pct([v for o in ops for v in o[src]], 50)
        m["streaming.state_rows"] = sum(o["state_rows"] for o in ops)
        m["streaming.state_mem_bytes"] = sum(o["state_mem_bytes"] for o in ops)
        m["streaming.late_dropped_rows"] = sum(o["late_dropped_rows"] for o in ops)
        m["streaming.gen_lag_ms"] = max(max(o["gen_lag_ms"]) for o in ops)
        lat = open_latency(ops)
        if lat is None:
            raise BenchError("the traced stream run has no open-loop samples")
        m["streaming.open_latency_ms_p50"], m["streaming.open_latency_ms_p90"] = lat[:2]
        m["ingest.files_written"] = sum(o["files_written"] for o in ops)
        m["ingest.bytes_written"] = sum(o["bytes_written"] for o in ops)
        m["trace.total_s"] = stream_total(ops, traced=True)
        m["trace.overhead_s"] = m["trace.total_s"] - stream_total(ops)
    m["scheduler.busy_frac"] = t.get("scheduler.run_s", 0.0) / (wall * record["cores"])
    return m


# ---------------------------------------------------------------- runs

def run(workload, seed, seconds, traced, sf="sf0.1", scale=1.0, golden=None,
        open_batches=OPEN_BATCHES, rate=None):
    cp = build()
    golden = golden if golden is not None else json.loads(GOLDEN.read_text())[sf]
    args = dict(mode="run", workload=workload, seed=seed, seconds=seconds, trace=int(traced))
    if workload == "dataflow":
        args["sf"] = data_dir(sf)
    else:
        args["scale"] = scale
        if traced or rate:
            args["open_batches"] = open_batches
        if rate:
            args["rate"] = rate
    record = run_jvm(cp, WORK / "run", **args)
    if workload == "dataflow":
        attempted, failures = check_batch(record, golden)
    else:
        attempted, failures = check_stream(record)
    if traced:
        if workload == "dataflow":
            failures.update(check_plans(record))
        metrics, units = per_layer(workload, record), PER_LAYER_UNITS
        shutil.copy(record["spans_file"], WORK / f"trace_{workload}.json")
    else:
        metrics, units = end_to_end(workload, record), E2E_UNITS
    for (i, name), why in sorted(failures.items()):
        log(f"FAILED {name} (pass {i}): {why}")
    summary = report(workload, record, attempted, failures)
    (WORK / f"report_{workload}.json").write_text(json.dumps(summary, indent=1))
    log("report " + " ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in summary.items()))
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }, record


def selfcheck():
    """Tiny sf0.001 and small-stream passes: every metric is emitted, every
    check passes, and a planted wrong result is caught."""
    golden = json.loads(GOLDEN.read_text())["sf0.001"]
    problems = []
    for workload in WORKLOADS:
        for traced in (False, True):
            result, record = run(workload, 7, 2, traced, sf="sf0.001", scale=0.2,
                                 golden=golden, open_batches=12)
            want = PER_LAYER_UNITS if traced else E2E_UNITS
            got = result["metrics"]
            if set(got) != set(want):
                problems.append(f"{workload} trace={int(traced)}: metrics {sorted(set(want) ^ set(got))}")
            bad = [k for k, v in got.items() if not math.isfinite(v["value"])]
            if bad:
                problems.append(f"{workload} trace={int(traced)}: non-finite {bad}")
            if not result["correct"]:
                problems.append(f"{workload} trace={int(traced)}: checks failed")
            reported = json.loads((WORK / f"report_{workload}.json").read_text())
            missing = set(REPORTED[workload]) - set(reported)
            if traced and workload == "stream_stateful":
                missing |= {"stream_latency_ms_p50", "stream_latency_ms_p90"} - set(reported)
            if missing:
                problems.append(f"{workload} trace={int(traced)}: report lacks {sorted(missing)}")
            if traced and workload == "dataflow":
                plans = [q["plan"] for p in record["passes"] if p["traced"]
                         for q in p["queries"] if q["name"] == "decimal_arith"]
                if not plans or not all({"Sort", "Project"} <= set(pl) for pl in plans):
                    problems.append(f"decimal_arith plan lost its Sort or Project: {plans}")
            if workload == "dataflow" and not traced:
                planted = json.loads(json.dumps(golden))
                victim = record["passes"][-1]["queries"][0]["name"]
                planted["dataflow"][victim]["hash"] = "0" * 16
                _, failures = check_batch(record, planted)
                if not any(name == victim for _, name in failures):
                    problems.append(f"planted wrong result for {victim} not caught")
    for p in problems:
        log("SELFCHECK " + p)
    log("selfcheck " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--rate", type=int,
                    help="stream_stateful: run the open loop at this offered rate "
                         "(events/s), also untraced; for saturation probes")
    a = ap.parse_args()
    try:
        if a.selfcheck:
            return selfcheck()
        if not a.workload:
            ap.error("--workload is required")
        if a.rate and a.workload != "stream_stateful":
            ap.error("--rate applies to stream_stateful")
        result, _ = run(a.workload, a.seed, a.seconds, bool(a.trace), rate=a.rate)
    except BenchError as e:
        log(f"error: {e}")
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

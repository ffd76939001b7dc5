"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark when their sources changed
(perfbench/build.py), runs the benchmark JVM for one workload, checks that
its output checks passed, and prints as the last line one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. The full run record is kept under .bench_build/records.
Exits 1 when an output check failed or an operation failed, 2 when the
program cannot be built or the benchmark JVM did not finish.
"""
import argparse
import json
import math
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = pathlib.Path.cwd()
STATE = ROOT / ".bench_build"
WORKLOADS = ("medallion_batch", "sensor_stream")
RUN_LIMIT_S = 170
# A fixed, pre-touched heap: the JVM's heap growth policy otherwise sets
# most of the process's peak RSS, and varies from run to run.
HEAP = "2g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
STREAM_QUERIES = ("bronze_sensors", "silver_sensors", "sensors_minute_agg",
                  "sensors_enriched")
STREAM_PHASES = (("trigger_s", "triggerExecution"), ("add_batch_s", "addBatch"),
                 ("planning_s", "queryPlanning"), ("wal_commit_s", "walCommit"),
                 ("commit_offsets_s", "commitOffsets"))


def tail(samples):
    """The highest whole percentile (from the median up to p99) that has
    at least ten samples above it, so never below the median. Returns
    (value, percentile, sample count)."""
    xs = sorted(samples)
    n = len(xs)
    p = 50
    while p < 99 and n - math.ceil((p + 1) / 100 * n) >= 10:
        p += 1
    value = statistics.median(xs) if p == 50 else xs[math.ceil(p / 100 * n) - 1]
    return value, p, n


def timing(samples):
    if not samples:
        return 0.0, 0.0, {"n": 0, "tail_percentile": None}
    value, pct, n = tail(samples)
    return statistics.median(samples), value, {"n": n, "tail_percentile": pct}


def stream_metrics(rec):
    """Per-query micro-batch phase medians and stream-wide counters."""
    out = {}
    batches = rec["info"].get("stream_batches", [])
    for q in STREAM_QUERIES:
        mine = [b for b in batches if b["query"] == q and b["input_rows"] > 0]
        for name, key in STREAM_PHASES:
            xs = [b["durations"].get(key, 0) / 1000.0 for b in mine]
            out[f"stream.{q}.{name}"] = statistics.median(xs) if xs else 0.0
    return out


def end_to_end(rec, rss_mb):
    """The end-to-end metrics, and under the names the workloads' own
    documentation uses, what each of them means on this workload."""
    s, v = rec["samples"], rec["values"]
    if rec["workload"] == "medallion_batch":
        p50, tl, meta = timing(s.get("increment_s", []))
        detail = {"increment_p50_s": p50, "increment_tail_s": tl,
                  "ingest_rows_per_s": v.get("ingest_rows_per_s", 0.0),
                  "lake_bytes_per_input_byte":
                      v.get("lake_bytes_per_input_byte", 0.0)}
    else:
        p50, tl, meta = timing(s.get("event_latency_s", []))
        detail = {"event_latency_p50_s": p50, "event_latency_tail_s": tl,
                  "microbatch_p50_s": timing(s.get("microbatch_s", []))[0],
                  "silver_rows_per_busy_s":
                      v.get("silver_rows_per_busy_s", 0.0),
                  "sustained_events_per_s":
                      v.get("sustained_events_per_s", 0.0)}
    detail["failed_ratio"] = rec["failed"] / max(1, rec["attempted"])
    detail["latency_samples"] = meta
    metrics = {"setup_s": rec["setup_s"], "latency_p50_s": p50,
               "latency_tail_s": tl, "peak_rss_mb": rss_mb}
    return metrics, detail


def per_layer(rec, e2e):
    """Every per-layer value the run produced, by metric name."""
    v, info = rec["values"], rec["info"]
    out = dict(rec["counters"])
    for k in ("setup.session_s", "setup.datagen_s", "setup.warmup_s"):
        out[k] = v.get(k, 0.0)
    for k in ("batch.ep1_run", "batch.ep2_run", "streaming.start"):
        out[k + "_s"] = info.get(f"span.{k}.total_s", 0.0)
    out.update(stream_metrics(rec))
    out.update({"traced." + k: val for k, val in e2e.items()})
    return out


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    try:
        product, bench = build.build()
    except (SystemExit, OSError, subprocess.SubprocessError) as e:
        fail(f"build failed: {e}")

    nproc = len(os.sched_getaffinity(0))
    work = STATE / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "record.json"
    cp = os.pathsep.join([str(product), str(bench),
                          str(build.spark_jars() / "*")])
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData", "-Xss16m", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--nproc", str(nproc), "--out", str(out)]

    log = open(work / "jvm.log", "wb")
    spawn_ms = time.time() * 1000.0
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
    deadline = time.monotonic() + RUN_LIMIT_S
    status = None
    while status is None:
        pid, st, usage = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            status = st
        elif time.monotonic() > deadline:
            proc.kill()
            os.wait4(proc.pid, 0)
            log.close()
            fail(f"benchmark JVM did not finish within {RUN_LIMIT_S} s, "
                 f"see {work / 'jvm.log'}")
        else:
            time.sleep(0.05)
    log.close()
    proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0 or not out.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}")

    rec = json.loads(out.read_text())
    # 0 when set-up never finished; such a run has a failed operation
    rec["setup_s"] = max(0.0, (rec["setup_end_ms"] - spawn_ms) / 1000.0)
    rss_mb = usage.ru_maxrss / 1024.0
    e2e, detail = end_to_end(rec, rss_mb)
    rec["end_to_end"] = e2e
    rec["end_to_end_detail"] = detail
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    have = per_layer(rec, e2e) if a.trace else e2e
    metrics = {m["name"]: {"value": have.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in wanted}
    failed_checks = [c for c in rec["checks"] if not c["ok"]]
    correct = bool(rec["checks"]) and not failed_checks and rec["failed"] == 0
    rec["correct"] = correct

    records = STATE / "records"
    records.mkdir(parents=True, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(spawn_ms)}.json"
    (records / name).write_text(json.dumps(rec))
    shutil.rmtree(work, ignore_errors=True)

    for c in failed_checks:
        print(f"check failed: {c['name']}: expected {c['expected']}, "
              f"got {c['actual']}", file=sys.stderr)
    for f in rec["failures"]:
        print(f"failed: {f['op']}: {f['class']}: {f['message'][:300]}",
              file=sys.stderr)
    print(f"record: {records / name}")
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

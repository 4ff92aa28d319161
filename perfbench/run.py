#!/usr/bin/env python3
"""CDC benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload catchup|incremental|catalog \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine's sources
together with the measurement driver in perfbench/ (sbt, offline, against
$SPARK_HOME/jars); later runs rebuild only when a source changed. The driver
runs the workload at local[nproc] and writes a run record; this script turns
it into metrics, prints a summary with sample counts, and prints as its last
line {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Exit codes: 0 measured and correct; 1 a correctness check failed or the
open loop's backlog grew (result line still printed, with correct=false);
2 the benchmark could not run (no result line).
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

import stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
TARGET = HERE / "target"
CLASSES = TARGET / "scala-2.13" / "classes"
STAMP = TARGET / "perfbench.stamp"
OUT = HERE / "out"
WORK = HERE / ".work"

WORKLOADS = ("catchup", "incremental", "catalog")
BUILD_TIMEOUT_S = 840
RUN_LIMIT_S = 175
JVM_HEAP = "3g"
# Spark on JDK 17 outside spark-submit (same list as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "fresh_p50_s": "s",
    "fresh_p90_s": "s",
    "scan_s": "s",
    "stored_bytes_per_row": "bytes",
}

PER_LAYER = {
    "genlog.gen_s": "s",
    "streaming.source_read_s": "s",
    "streaming.source_events": "count",
    "apply.dedup_self_s": "s",
    "apply.dedup_in_rows": "count",
    "apply.dedup_out_rows": "count",
    "apply.shuffle_bytes": "bytes",
    "apply.apply_batch_s": "s",
    "laketable.write_bytes_per_event": "bytes",
    "laketable.data_files": "count",
    "laketable.meta_files": "count",
    "laketable.snapshot_load_ms": "ms",
    "streaming.sync_s": "s",
    "streaming.sync_self_s": "s",
    "streaming.events_per_sync": "count",
    "streaming.lag_events": "count",
    "streaming.overlap": "ratio",
    "functions.normalize_self_s": "s",
    "spark.plan_ms": "ms",
    "spark.codegen_ms": "ms",
    "spark.jobs_per_sync": "count",
    "spark.busy_share": "ratio",
    "spark.task_wait_s": "s",
    "trace.overhead_share": "ratio",
}


class BenchError(Exception):
    pass


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BenchError("no Spark distribution: set SPARK_HOME")
    return Path(home)


def source_files():
    files = sorted(p for d in (ENGINE_SRC, ENGINE_RES, HERE / "src")
                   for p in d.rglob("*") if p.is_file())
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def build(spark_home):
    """Compiles when a source changed since the last build; True if it did."""
    stamp = source_stamp()
    if STAMP.exists() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return False
    sbt = shutil.which("sbt")
    if not sbt:
        raise BenchError("sbt not found on PATH")
    env = dict(os.environ, SPARK_HOME=str(spark_home), COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    print("perfbench: building (first run in this checkout)", file=sys.stderr)
    log = TARGET / "build.log"
    TARGET.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as f:
        rc = run_child([sbt, "--batch", "-Dsbt.log.noformat=true", "products"],
                       cwd=HERE, env=env, stdout=f, timeout=BUILD_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise BenchError(f"build failed (exit {rc}), log in {log}")
    STAMP.write_text(stamp)
    return True


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the group and
    waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, stderr=subprocess.STDOUT
                         if kw.get("stdout") else None, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"{cmd[0]} exceeded {timeout:.0f} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def run_driver(args, spark_home, record, deadline):
    work = WORK / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cp = os.pathsep.join([str(CLASSES), str(spark_home / "jars" / "*")])
    java = shutil.which("java", path=os.path.join(os.environ.get("JAVA_HOME", ""), "bin")) \
        or shutil.which("java")
    cmd = [java, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", str(work), "--out", str(record)]
    log = record.with_suffix(".log")
    try:
        with open(log, "w") as f:
            rc = run_child(cmd, timeout=max(10, deadline - time.monotonic()),
                           cwd=ROOT, stdout=f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not record.exists():
        sys.stderr.write(log.read_text()[-4000:])
        raise BenchError(f"driver failed (exit {rc}), log in {log}")
    return json.loads(record.read_text())


def end_to_end(rec, window):
    syncs = [s for s in window["syncs"] if s["ok"] and s["events"] > 0]
    if not syncs:
        raise BenchError("no successful sync in the timed window")
    fresh = stats.freshness(window)
    return {
        "setup_s": stats.median(rec["setup_s"]),
        "events_per_s":
            sum(s["events"] for s in syncs) / sum(s["end"] - s["start"] for s in syncs),
        "fresh_p50_s": stats.weighted_percentile(fresh, 50),
        "fresh_p90_s": stats.weighted_percentile(fresh, 90),
        "scan_s": stats.median(rec["scan_s"]),
        "stored_bytes_per_row": rec["stored_bytes"] / rec["live_rows"],
    }


def walls(window):
    return [s["end"] - s["start"] for s in window["syncs"] if s["ok"]]


def per_layer(rec, plain, traced):
    spans = rec["spans"]
    selfs = stats.self_times(spans)
    ids = {s["span"] for s in traced["syncs"]}
    sync_spans = [s for s in spans if s["id"] in ids]
    n = len(sync_spans)
    wall = sum(s["end"] - s["start"] for s in sync_spans)
    tot = {k: sum(s["counters"].get(k, 0.0) for s in sync_spans)
           for k in ("plan_ms", "codegen_ms", "jobs", "task_busy_s", "task_wait_s",
                     "output_bytes")}
    events = sum(s["events"] for s in traced["syncs"] if s["ok"])
    lo, hi = traced["start"], traced["end"]
    qwall = sum(q["end"] - q["start"] for q in rec["queries"]
                if q["start"] >= lo and q["end"] <= hi)
    p = rec["probes"]
    return {
        "genlog.gen_s": p["genlog"]["s"],
        "streaming.source_read_s": p["source"]["s"],
        "streaming.source_events": p["source"]["counters"]["records_read"],
        "apply.dedup_self_s": p["dedup"]["s"] - p["source"]["s"],
        "apply.dedup_in_rows": p["dedup"]["counters"]["records_read"],
        "apply.dedup_out_rows": p["dedup_out_rows"],
        "apply.shuffle_bytes": p["dedup"]["counters"]["shuffle_bytes"],
        "apply.apply_batch_s": stats.median(traced["applyBatchS"]),
        "laketable.write_bytes_per_event": tot["output_bytes"] / events,
        "laketable.data_files": rec["data_files"],
        "laketable.meta_files": rec["meta_files"],
        "laketable.snapshot_load_ms": stats.median(rec["snapshot_load_ms"]),
        "streaming.sync_s": stats.median([s["end"] - s["start"] for s in sync_spans]),
        "streaming.sync_self_s": stats.median([selfs[s["id"]] for s in sync_spans]),
        "streaming.events_per_sync": stats.median([s["events"] for s in traced["syncs"]]),
        "streaming.lag_events": stats.median(stats.lag_events(traced)),
        "streaming.overlap": qwall / wall,
        "functions.normalize_self_s": p["normalize"]["s"] - p["wire_source"]["s"],
        "spark.plan_ms": tot["plan_ms"] / n,
        "spark.codegen_ms": tot["codegen_ms"] / n,
        "spark.jobs_per_sync": tot["jobs"] / n,
        "spark.busy_share": tot["task_busy_s"] / (wall * rec["nproc"]),
        "spark.task_wait_s": tot["task_wait_s"] / n,
        "trace.overhead_share":
            stats.median(walls(traced)) / stats.median(walls(plain)) - 1,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not ENGINE_SRC.is_dir():
        fail(f"engine sources not found at {ENGINE_SRC}; run from a repository checkout")
    started = time.monotonic()
    try:
        spark_home = spark_jars()
        # a run that builds gets its full run limit after the build
        deadline = (time.monotonic() if build(spark_home) else started) + RUN_LIMIT_S
        OUT.mkdir(exist_ok=True)
        record = OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        record.unlink(missing_ok=True)
        rec = run_driver(args, spark_home, record, deadline)
        report = summarize(args, rec)
    except BenchError as e:
        fail(str(e))
    (OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}.report.json").write_text(
        json.dumps(report, indent=1))
    print_summary(report)
    metrics = report["metrics_traced" if args.trace else "metrics"]
    units = PER_LAYER if args.trace else END_TO_END
    ok = report["correct"] and report["valid"]
    print(json.dumps({
        "correct": ok,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    sys.exit(0 if ok else 1)


def summarize(args, rec):
    windows = rec["windows"]
    verdicts = rec["verdicts"]
    syncs = [s for w in windows for s in w["syncs"]]
    failed_syncs = sum(1 for s in syncs if not s["ok"])
    failed_checks = sum(1 for v in verdicts if not v["ok"])
    lags = [stats.lag_events(w) for w in windows]
    growing = any(stats.backlog_growing(l) for l in lags)
    overrun = any(w.get("overrun") for w in windows)
    e2e = [end_to_end(rec, w) for w in windows]
    fresh = stats.freshness(windows[0])
    n_events = sum(w for _, w in fresh)
    tail = stats.tail_percentile(n_events)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "stamp": {k: rec[k] for k in ("nproc", "master", "jvm", "spark",
                                       "canary_before_s", "canary_after_s", "session_s")},
        "correct": failed_checks == 0,
        "valid": not growing and not overrun,
        "attempted": len(syncs) + len(verdicts),
        "failed": failed_syncs + failed_checks,
        "failed_ratio": (failed_syncs + failed_checks) / (len(syncs) + len(verdicts)),
        "metrics": e2e[0],
        "samples": {
            "setup_s": len(rec["setup_s"]),
            "events_per_s": len(windows[0]["syncs"]),
            "fresh_p50_s": n_events, "fresh_p90_s": n_events,
            "scan_s": len(rec["scan_s"]),
            "stored_bytes_per_row": rec["live_rows"],
        },
        "fresh_tail": {"percentile": tail,
                       "value": stats.weighted_percentile(fresh, tail) if tail else None},
        "lag_events": lags,
        "backlog_growing": growing,
        "head_overrun": overrun,
        "start_lateness_s": [stats.start_lateness(w) for w in windows],
        "verdicts": verdicts,
    }
    if args.trace:
        plain, traced = windows
        report["metrics_traced"] = per_layer(rec, plain, traced)
        report["end_to_end_traced"] = e2e[1]
        report["tracing_overhead"] = {
            k: e2e[1][k] - e2e[0][k] for k in END_TO_END}
        selfs = stats.self_times(rec["spans"])
        report["span_self_s"] = {}
        for s in rec["spans"]:
            report["span_self_s"].setdefault(s["name"], []).append(selfs[s["id"]])
    if not report["valid"]:
        # an invalid open-loop run has no freshness figure
        for k in ("fresh_p50_s", "fresh_p90_s"):
            report["metrics"][k] = None
    return report


def print_summary(r):
    st = r["stamp"]
    print(f"perfbench {r['workload']} seed={r['seed']} {st['master']} nproc={st['nproc']} "
          f"spark={st['spark']} jvm={st['jvm']} canary={st['canary_before_s']:.3f}s->"
          f"{st['canary_after_s']:.3f}s")
    for k, unit in END_TO_END.items():
        v = r["metrics"][k]
        shown = "invalid" if v is None else f"{v:.6g}"
        print(f"  {k:<24} {shown:>14} {unit:<6} n={r['samples'][k]}")
    tail = r["fresh_tail"]
    if tail["percentile"]:
        print(f"  fresh tail p{tail['percentile']:g} = {tail['value']:.4g} s")
    print(f"  failed_ratio {r['failed_ratio']:.3g} ({r['failed']}/{r['attempted']}); "
          f"backlog growing: {r['backlog_growing']}; head overrun: {r['head_overrun']}")
    for v in r["verdicts"]:
        if not v["ok"]:
            print(f"  CHECK FAILED {v['name']}: {v['detail']}")
    if r["trace"]:
        for k, unit in PER_LAYER.items():
            print(f"  {k:<34} {r['metrics_traced'][k]:>14.6g} {unit}")


if __name__ == "__main__":
    main()

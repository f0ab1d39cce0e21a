#!/usr/bin/env python3
"""The engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload floor-sf0.01 --seed 1 --seconds 20 --trace 0

Builds the harness (the engine's sources plus perfbench/harness) with sbt
when its sources changed, runs the harness JVM on local[4] over the
committed sf0.01 tables, and checks every query's output against
perfbench/expected.json.
Human-readable lines go to stdout first; the last stdout line is the JSON
result. With --trace 0 it carries the end-to-end metrics, with --trace 1
the per-layer ones. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
HARNESS = HERE / "harness"
STAMP = HARNESS / "target" / "perfbench.stamp"
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

# The tables the harness reads (Harness.Data): the sf0.01 testdata of the
# engine's correctness runs, committed so that every checkout has them.
DATA = HERE / "data" / "sf0.01"

WORKLOADS = {
    # per-query fixed cost: hot tables, noop sink, warm asset store
    "floor-sf0.01": dict(hot=True, sink="noop", fresh=False),
    # the same queries with the layers used the other way round: parquet
    # scans, a parquet sink, and an asset store emptied before every pass
    "cold-write-sf0.01": dict(hot=False, sink="parquet", fresh=True),
}

E2E = [("setup_s", "s"), ("queries_per_s", "1/s"), ("query_p50_ms", "ms"),
       ("query_tail_ms", "ms"), ("query_geomean_ms", "ms"),
       ("storage_peak_mb", "MB")]

DEADLINE_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, out_path, env=None, cwd=None):
    """Run cmd in its own process group, output to out_path; kill the whole
    group on timeout and always wait for it. Returns the exit code."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, cwd=cwd, start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_digest():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HARNESS / "src"]
    files = [ROOT / "build.sbt", HARNESS / "build.sbt",
             HARNESS / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the harness unless the stamp matches; return its classpath."""
    digest = source_digest()
    if STAMP.exists():
        stamp = json.loads(STAMP.read_text())
        if stamp["digest"] == digest:
            return stamp["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    WORK.mkdir(parents=True, exist_ok=True)
    out = WORK / "build.log"
    log("building the harness (sbt compile)")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], 700, out, env=env,
                   cwd=HARNESS)
    lines = out.read_text().splitlines()
    cp = [ln for ln in lines if "scala-2.13/classes" in ln and ":" in ln]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise SystemExit("harness build failed")
    STAMP.write_text(json.dumps({"digest": digest, "classpath": cp[-1].strip()}))
    return cp[-1].strip()


def jvm_cmd(classpath, args, tmp):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            # no hsperfdata file: the JVM puts it in the system temp
            # directory, not in java.io.tmpdir
            + ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}",
               "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Harness"]
            + [f"{k}={v}" for k, v in args.items()])


def per_query(executions):
    by = {}
    for e in executions:
        if e["err"] is None:
            by.setdefault(e["q"], []).append(e["ms"])
    return by


def end_to_end(res):
    execs = res["executions"]
    ok = [e["ms"] for e in execs if e["err"] is None]
    p, tail, beyond = metrics.tail(ok)
    m = {
        "setup_s": res["setup_s"],
        "queries_per_s": len(ok) / res["wall_s"],
        "query_p50_ms": statistics.median(ok),
        "query_tail_ms": tail,
        "query_geomean_ms": metrics.geomean_of_medians(per_query(execs)),
        "storage_peak_mb": res["storage_peak_b"] / 1e6,
    }
    return m, (p, beyond, len(ok))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        raise SystemExit("engine sources not found next to perfbench/")
    w = WORKLOADS[a.workload]
    classpath = build()
    t_built = time.monotonic()

    out = WORK / "out"
    tmp = WORK / "tmp"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    out.mkdir(parents=True)
    tmp.mkdir(parents=True)
    args = dict(hot=str(w["hot"]).lower(), sink=w["sink"],
                fresh=str(w["fresh"]).lower(), seed=a.seed,
                # a traced run alternates untraced and traced passes
                seconds=a.seconds / 2 if a.trace else a.seconds, trace=a.trace)
    left = DEADLINE_S - (time.monotonic() - t_built)
    rc = run_group(jvm_cmd(classpath, args, tmp), left, WORK / "jvm.log", cwd=ROOT)
    result = out / "result.json"
    if rc != 0 or not result.exists():
        sys.stderr.write("\n".join(
            (WORK / "jvm.log").read_text(errors="replace").splitlines()[-40:]) + "\n")
        raise SystemExit(f"harness exited with {rc}")
    res = json.loads(result.read_text())

    expected = json.loads((HERE / "expected.json").read_text())
    executions = res["executions"] + res.get("traced", {}).get("executions", [])
    if w["sink"] == "noop":
        checks, where = res["checks"], out / "check"
    else:
        # the cold leg checks what the last pass of each query wrote
        last = {}
        for e in sorted(executions, key=lambda e: e["seq"]):
            last[e["q"]] = e
        checks, where = list(last.values()), out / "sink"
        executions = [e for e in executions if all(e is not c for c in checks)]
    # warm-up executions count too: one that threw is a failure
    executions += res["warmup"]
    attempted, failed, reasons = metrics.failures(
        executions, checks, expected,
        lambda q: metrics.parquet_fingerprint(where / q))
    for r in reasons:
        log(f"FAILED {r}")

    e2e, (pct, beyond, n) = end_to_end(res)
    print(f"workload {a.workload} seed {a.seed} settle_s {res['settle_s']:.3f} "
          f"passes {res['passes']} executions {len(res['executions'])} "
          f"timed_wall_s {res['wall_s']:.3f} codegen_compiles {res['codegen_compiles']}")
    for name, unit in E2E:
        print(f"  {name:18s} {e2e[name]:12.4f} {unit}")
    print(f"  query_tail_ms is p{pct} of {n} samples, {beyond} beyond it")
    print(f"  failed_frac        {failed / attempted:12.4f} frac ({failed}/{attempted})")
    if a.trace:
        layers = metrics.per_layer(res, e2e["queries_per_s"])
        for k, v in layers.items():
            print(f"  {k:30s} {v[0]:14.4f} {v[1]}")
        out_metrics = {k: {"value": v[0], "unit": v[1]} for k, v in layers.items()}
    else:
        out_metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    log(f"total {time.monotonic() - t_start:.1f}s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))


if __name__ == "__main__":
    main()

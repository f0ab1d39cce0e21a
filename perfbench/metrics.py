"""Metric arithmetic for the benchmark: pure functions over the records the
harness writes, so each rule is tested apart from Spark (test_metrics.py).
"""
import math
import statistics
import sys
from pathlib import Path

# the oracle check's order-insensitive hash: columns sorted by name, rows
# sorted (tools/check_oracle.py)
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import table_fingerprint as fingerprint  # noqa: E402


def tail(values, beyond=10):
    """Highest whole percentile with at least `beyond` samples above it.

    Percentile p is the nearest-rank value x[ceil(p/100 * n) - 1] of the
    sorted samples; the samples beyond it are the n - ceil(p/100 * n) above
    that rank. Returns (p, value, samples_beyond). With fewer than
    beyond + 1 samples no percentile qualifies and the median is returned,
    with however many samples lie beyond it.
    """
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= beyond:
            return p, xs[rank - 1], n - rank
    rank = math.ceil(n / 2)
    return 50, xs[rank - 1], n - rank


def geomean_of_medians(samples_by_query):
    """Geometric mean of each query's median: every query weighs the same."""
    meds = [statistics.median(v) for v in samples_by_query.values() if v]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def parquet_fingerprint(path):
    """(row count, fingerprint) of a parquet file or directory of parts."""
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    cols = list(t.schema.names)
    rows = [tuple(r[c] for c in cols) for r in t.to_pylist()]
    return len(rows), fingerprint(cols, rows)


def failures(executions, checks, expected, observe):
    """Count failed executions against attempted ones.

    executions: timed executions, each a dict with `q` and `err` (None when
    it returned). checks: the checked executions, each with `q` and `err`;
    `observe(q)` gives the (rows, hash) that execution wrote. expected:
    q -> {"rows", "hash"}. An execution fails when it threw; a checked one
    also fails when its output differs from `expected` or has no entry.
    Returns (attempted, failed, reasons) with one reason per failure.
    """
    reasons = []
    for e in executions:
        if e["err"] is not None:
            reasons.append(f"{e['q']}: threw {e['err']}")
    for c in checks:
        q = c["q"]
        if c["err"] is not None:
            reasons.append(f"{q}: check threw {c['err']}")
            continue
        want = expected.get(q)
        if want is None:
            reasons.append(f"{q}: no expected output")
            continue
        rows, h = observe(q)
        if (rows, h) != (want["rows"], want["hash"]):
            reasons.append(f"{q}: got {rows} rows {h[:12]}, "
                           f"want {want['rows']} rows {want['hash'][:12]}")
    return len(executions) + len(checks), len(reasons), reasons


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    that its children cover (overlapping children counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in kids.get(s["id"], []))
        covered, cur_a, cur_b = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (hi - lo) - covered
    return out


def _sum(spans, key, name=None):
    return sum(s["c"][key] for s in spans if name is None or s["name"] == name)


def per_layer(res, untraced_qps, cores=4):
    """Per-layer metrics of a traced run, each as (value, unit). Counts,
    bytes and summed times are per pass of the workload's query list, so a
    run's figures do not depend on how many passes fitted in its seconds."""
    tr = res["traced"]
    spans = tr["spans"]
    n = tr["passes"]
    un = tr["unattributed"]
    every = [s["c"] for s in spans] + [un]
    dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e6 for s in spans}

    def total(key):
        return sum(c[key] for c in every)

    def ms(name):
        return sum(dur[s["id"]] for s in spans if s["name"] == name)

    setup = res["setup_spans"]
    tables_s = [(s["end_ns"] - s["start_ns"]) / 1e9 for s in setup
                if s["name"] == "setup.tables"]
    pins = tr["pins"]
    qspans = [s for s in spans if s["name"] == "query"]
    # an asset scanned by an execution that did not publish it was probed
    scans = {}
    for s in spans:
        if s["c"]["asset_scans"]:
            root = s["parent"] if s["name"] != "query" else s["id"]
            scans.setdefault(root, set()).update(s["c"]["asset_scans"])
    published = sum(p["published"] for p in pins)
    probes = sum(max(0, len(scans.get(p["span"], ())) - p["published"]) for p in pins)
    job_ms = [x for c in every for x in c["job_ms"]]
    selfs = self_times(spans)
    m = {
        "Tables.cache_s": (statistics.median(tables_s), "s"),
        "Tables.cached_mb": (res["cached_mb"], "MB"),
        "Tables.scan_mb": (total("input_b") / 1e6 / n, "MB"),
        "Tables.scan_rows": (total("input_rows") / n, "count"),
        "SparkEntry.construct_ms": (ms("SparkEntry.construct") / n, "ms"),
        "SparkEntry.construct_jobs": (_sum(spans, "jobs", "SparkEntry.construct") / n, "count"),
        "SparkEntry.construct_share": (ms("SparkEntry.construct") / ms("query"), "frac"),
        "Pin.pins": (sum(p["pins"] for p in pins) / n, "count"),
        "Pin.pinned_mb": (sum(p["pinned_b"] for p in pins) / 1e6 / n, "MB"),
        "Pin.release_ms": (ms("Pin.release") / n, "ms"),
        "Pin.leaked": (tr["leaked_ids"] / n, "count"),
        "Catalyst.analysis_ms": (total("analysis_ms") / n, "ms"),
        "Catalyst.optimization_ms": (total("optimization_ms") / n, "ms"),
        "Catalyst.planning_ms": (total("planning_ms") / n, "ms"),
        "Catalyst.exchanges": (total("exchanges") / n, "count"),
        "Catalyst.codegen_compiles": (tr["codegen_compiles"] / n, "count"),
        "Exec.jobs": (total("jobs") / n, "count"),
        "Exec.stages": (total("stages") / n, "count"),
        "Exec.tasks": (total("tasks") / n, "count"),
        "Exec.job_ms_p50": (statistics.median(job_ms) if job_ms else 0.0, "ms"),
        "Exec.run_ms": (total("run_ms") / n, "ms"),
        "Exec.cpu_ms": (total("cpu_ns") / 1e6 / n, "ms"),
        "Exec.busy_frac": (total("run_ms") / (tr["wall_s"] * 1e3 * cores), "frac"),
        "Exec.gc_ms": (total("gc_ms") / n, "ms"),
        "Exec.failed_tasks": (total("failed_tasks") / n, "count"),
        "Exec.unattributed_jobs": (un["jobs"] / n, "count"),
        "Shuffle.write_mb": (total("shuffle_write_b") / 1e6 / n, "MB"),
        "Shuffle.read_mb": (total("shuffle_read_b") / 1e6 / n, "MB"),
        "Shuffle.spill_mb": (total("spill_b") / 1e6 / n, "MB"),
        "Assets.published": (published / n, "count"),
        "Assets.written_mb": (sum(p["published_b"] for p in pins) / 1e6 / n, "MB"),
        "Assets.hit_ratio": (probes / (probes + published) if probes + published else 1.0,
                             "frac"),
        "Sink.execute_ms": (ms("Sink.execute") / n, "ms"),
        "Sink.output_mb": (_sum(spans, "output_b", "Sink.execute") / 1e6 / n, "MB"),
        "Sink.output_rows": (_sum(spans, "output_rows", "Sink.execute") / n, "count"),
        "Harness.query_self_ms": (sum(selfs[s["id"]] for s in qspans) / 1e6 / n, "ms"),
        "Trace.overhead_frac": (1 - len(tr["executions"]) / tr["wall_s"] / untraced_qps,
                                "frac"),
    }
    return m

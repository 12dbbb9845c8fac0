#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the graft engine.

    python3 perfbench/run.py --workload analytics|kv --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Builds the benchmark (its own sbt project, which compiles the library's
sources from ../src/main/scala) when the sources changed, generates the
workload's inputs from the seed, runs DuckDB on the same inputs for the
oracle checks and the reference timings, runs the workload in one JVM
(perfbench.Main) and prints the metrics. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. See
perfbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
WORK = BENCH / "work"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "perfbench.stamp"
ORACLES = BENCH / "target" / "oracle_sql.json"
JVM_TIMEOUT_S = 150
BSET = ["q1", "q2", "q3", "q4", "q5", "q6", "q7", "q9a", "q10", "q11", "q12",
        "q13", "q14", "q16", "q17"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Generated input shape of the analytics workload: the sf0.01 row counts,
# 500 documents and 500 embeddings.
SCALE, DOCS, VECTORS = 0.01, 500, 500

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END = {  # name -> unit
    "setup_s": "s", "round_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
    "geomean_ms": "ms", "ops_per_s": "1/s", "ref_ratio": "ratio", "live_heap_mb": "MB",
}
PER_LAYER = {  # name -> unit
    "session.build_s": "s", "tables.register_s": "s", "tables.load_ms": "ms",
    "exec.kernel_share": "fraction", "exec.skipped_forms": "count", "exec.probe_ms": "ms",
    "query.build_ms": "ms", "query.collect_ms": "ms", "query.result_rows": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms", "spark.cpu_per_run": "ratio",
    "spark.gc_ms": "ms", "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes", "spark.driver_only_ms": "ms",
    "kv.get_ms": "ms", "kv.get_jobs": "count", "kv.get_rows_scanned_per_hit": "count",
    "kv.get_bytes_read": "bytes", "kv.bulk_load_s": "s", "kv.save_s": "s",
    "kv.write_amp": "ratio", "kv.upsert_shuffle_bytes": "bytes", "kv.files_per_version": "count",
    "kv.open_ms": "ms", "kv.compact_s": "s", "kv.compact_bytes_rewritten": "bytes",
    "kv.upsert_rows_per_s": "rows/s", "kv.store_bytes_per_user_byte": "ratio",
    "self.client_ms": "ms", "self.build_ms": "ms", "self.collect_ms": "ms", "self.spark_ms": "ms",
}
# Every end-to-end metric but setup_s, which happens before any traced round.
OVERHEAD = ["round_s", "op_p50_ms", "op_tail_ms", "geomean_ms", "ops_per_s", "ref_ratio",
            "live_heap_mb"]
for _m in OVERHEAD:
    PER_LAYER[f"trace.overhead.{_m}"] = END_TO_END[_m]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- statistics

def percentile(values, p):
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """The highest whole percentile, up to p99, with at least ten of `n`
    samples beyond it; None when even the median has fewer than ten."""
    if n < 20:
        return None
    return min(99, math.floor(100 * (n - 10) / n))


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def mean(values):
    return sum(values) / len(values) if values else 0.0


# --------------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [BENCH / "build.sbt", BENCH / "project" / "build.properties",
             BENCH / "src", REPO / "src" / "main"]
    for root in roots:
        files = [root] if root.is_file() else sorted(p for p in root.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(REPO)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def java_cmd(main, *args, heap="3g"):
    cp = os.pathsep.join([str(CLASSES), str(Path(os.environ["SPARK_HOME"]) / "jars" / "*")])
    return ["java", *ADD_OPENS, f"-Xms{heap}", f"-Xmx{heap}", "-Duser.timezone=UTC",
            "-cp", cp, main, *args]


def ensure_built():
    if not (REPO / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: the library sources (../src/main/scala) are missing; "
                         "run from a full checkout")
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("perfbench: SPARK_HOME is not set; the build and the run use its jars")
    digest = source_digest()
    if STAMP.exists() and STAMP.read_text() == digest and ORACLES.exists():
        return
    log("building (sbt compile)")
    env = dict(os.environ)
    # the build resolves nothing from the network: Spark's jars come from
    # SPARK_HOME and the Scala toolchain from the local caches
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    t0 = time.time()
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH,
                   env=env, stdout=sys.stderr, stderr=sys.stderr, check=True,
                   stdin=subprocess.DEVNULL, timeout=800)
    subprocess.run(java_cmd("perfbench.Main", "--dump-oracles", str(ORACLES), heap="256m"),
                   stdout=sys.stderr, stderr=sys.stderr, check=True, timeout=60)
    STAMP.write_text(digest)
    log(f"built in {time.time() - t0:.1f} s")


# ------------------------------------------------------------------ DuckDB side

def duckdb_connect(data, cores):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads = {cores}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def analytics_oracles(data, work, cores):
    """Write each query's DuckDB result to <work>/oracle/<q>.parquet."""
    oracle = json.loads(ORACLES.read_text())
    con = duckdb_connect(data, cores)
    (work / "oracle").mkdir(parents=True)
    for q, sql in oracle.items():
        con.execute(f"COPY ({sql}) TO '{work}/oracle/{q}.parquet' (FORMAT PARQUET)")
    con.close()


def time_bset(data, cores, reps=11):
    """DuckDB time of each B-set query: `reps` warm runs, full fetch."""
    oracle = json.loads(ORACLES.read_text())
    con = duckdb_connect(data, cores)
    times = {}
    for q in BSET:
        con.execute(oracle[q]).fetchall()
        for _ in range(reps):
            t0 = time.perf_counter()
            con.execute(oracle[q]).fetchall()
            times.setdefault(q, []).append((time.perf_counter() - t0) * 1000)
    con.close()
    return times


def kv_reference(ref_dir, keys, cores):
    """Median DuckDB point-lookup time over the same keys and store files,
    each key looked up five times after a short warm-up."""
    import duckdb
    os.sync()  # let the writeback of the store the JVM just wrote finish first
    con = duckdb.connect()
    con.execute(f"SET threads = {cores}")
    con.execute(f"CREATE VIEW store AS SELECT * FROM read_parquet('{ref_dir}/*.parquet')")
    sql = "SELECT * FROM store WHERE key = ? LIMIT 1"
    for k in keys[:3]:
        con.execute(sql, [k]).fetchall()
    times = []
    for k in keys * 5:
        t0 = time.perf_counter()
        con.execute(sql, [k]).fetchall()
        times.append((time.perf_counter() - t0) * 1000)
    con.close()
    return statistics.median(times)


# ------------------------------------------------------------------- metrics

def end_to_end(res, window, ref):
    """End-to-end metrics of one measured window ("plain" or "traced")."""
    ops = [s for s in res["samples"] if s["window"] == window and s["round"] >= 1]
    primary = "query" if res["workload"] == "analytics" else "get"
    lat = [s["ms"] for s in ops if s["kind"] == primary]
    by_name = {}
    for s in ops:
        key = s["name"] if s["kind"] == "query" else s["kind"]
        if s["kind"] in ("query", "get", "upsert", "open"):
            by_name.setdefault(key, []).append(s["ms"])
    medians = {k: statistics.median(v) for k, v in by_name.items()}
    tail_p = tail_percentile(len(lat)) or 50
    rounds = [r for r in res["rounds"] if r["window"] == window]
    if res["workload"] == "analytics":
        ratio = geomean([medians[q] / ref[q] for q in BSET])
        ref_ms = geomean([ref[q] for q in BSET])
    else:
        ratio = statistics.median(lat) / ref
        ref_ms = ref
    m = {
        "round_s": statistics.median(r["s"] for r in rounds),
        "op_p50_ms": percentile(lat, 50),
        "op_tail_ms": percentile(lat, tail_p),
        "geomean_ms": geomean(list(medians.values())),
        "ops_per_s": len(ops) / sum(r["s"] for r in rounds),
        "ref_ratio": ratio,
        "live_heap_mb": max(r["live_heap_mb"] for r in rounds),
    }
    return m, {"samples": len(lat), "tail_percentile": tail_p, "duckdb_ms": ref_ms}


def _union(intervals):
    total, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def _clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def span_times(spans):
    """Per op id: wall time, build and collect time, the union of its Spark
    job intervals, and the self time of each layer. Self time is a span's
    duration minus what its children cover: the client's code outside build
    and collect, build and collect outside Spark jobs, and the jobs."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = {}
    for op_id, ss in by_op.items():
        op = next(s for s in ss if s["name"].startswith("op:"))
        lo, hi = op["start_ms"], op["end_ms"]
        jobs = _clip([(s["start_ms"], s["end_ms"]) for s in ss if s["name"] == "spark:job"], lo, hi)
        t = {"op_ms": hi - lo, "job_ms": _union(jobs)}
        for name in ("build", "collect"):
            iv = [(s["start_ms"], s["end_ms"]) for s in ss if s["name"] == name]
            t[f"{name}_ms"] = sum(b - a for a, b in iv)
            t[f"self.{name}_ms"] = max(0.0, t[f"{name}_ms"] - sum(_union(_clip(jobs, a, b)) for a, b in iv))
        t["self.client_ms"] = max(0.0, t["op_ms"] - t["build_ms"] - t["collect_ms"])
        t["self.spark_ms"] = t["job_ms"]
        t["driver_only_ms"] = max(0.0, t["op_ms"] - t["job_ms"])
        out[op_id] = t
    return out


def per_layer(res, spans, e2e_plain, e2e_traced):
    times = span_times(spans)
    traced = [dict(s, **times[s["id"]]) for s in res["samples"] if s["window"] == "traced"]
    queries = [s for s in traced if s["kind"] == "query"]
    gets = [s for s in traced if s["kind"] == "get"]
    upserts = [s for s in traced if s["kind"] == "upsert"]
    compact = [s for s in traced if s["kind"] == "compact"]
    ex = res["extra"]
    kv = res["workload"] == "kv"
    setups = res["setups"]
    inputs_s = statistics.median(s["inputs_s"] for s in setups)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.build_s"] = statistics.median(s["session_s"] for s in setups)
    if not kv:
        m["tables.register_s"] = inputs_s
        m["tables.load_ms"] = ex["tables.load_ms"]
        m["exec.kernel_share"] = mean([s["kernel"] for s in queries])
        m["exec.skipped_forms"] = mean([s["skipped_forms"] for s in queries])
        m["exec.probe_ms"] = mean([s["probe_ms"] for s in queries])
        m["query.build_ms"] = mean([s["build_ms"] for s in queries])
        m["query.collect_ms"] = mean([s["collect_ms"] for s in queries])
        m["query.result_rows"] = mean([s["result_rows"] for s in queries])
    run_ms = sum(s["run_ms"] for s in traced)
    m.update({
        "spark.jobs": mean([s["jobs"] for s in traced]),
        "spark.stages": mean([s["stages"] for s in traced]),
        "spark.tasks": mean([s["tasks"] for s in traced]),
        "spark.executor_run_ms": mean([s["run_ms"] for s in traced]),
        "spark.executor_cpu_ms": mean([s["cpu_ms"] for s in traced]),
        "spark.cpu_per_run": sum(s["cpu_ms"] for s in traced) / run_ms if run_ms else 0.0,
        "spark.gc_ms": mean([s["gc_ms"] for s in traced]),
        "spark.shuffle_write_bytes": mean([s["shuffle_write"] for s in traced]),
        "spark.shuffle_read_bytes": mean([s["shuffle_read"] for s in traced]),
        "spark.spill_bytes": mean([s["spill"] for s in traced]),
        "spark.input_bytes": mean([s["input_bytes"] for s in traced]),
        "spark.driver_only_ms": mean([s["driver_only_ms"] for s in traced]),
    })
    if kv:
        hits = [s for s in gets if s["name"] == "hit"]
        m.update({
            "kv.get_ms": mean([s["ms"] for s in gets]),
            "kv.get_jobs": mean([s["jobs"] for s in gets]),
            "kv.get_rows_scanned_per_hit": sum(s["input_records"] for s in hits) / max(1, len(hits)),
            "kv.get_bytes_read": mean([s["input_bytes"] for s in gets]),
            "kv.bulk_load_s": inputs_s,
            "kv.save_s": mean([s["collect_ms"] for s in upserts]) / 1000,
            "kv.write_amp": sum(s["output_bytes"] for s in upserts)
                            / max(1, sum(s["user_bytes"] for s in upserts)),
            "kv.upsert_shuffle_bytes": mean([s["shuffle_write"] for s in upserts]),
            "kv.files_per_version": ex["kv.files_per_version"],
            "kv.open_ms": statistics.median([s["ms"] for s in traced if s["kind"] == "open"]),
            "kv.compact_s": compact[0]["ms"] / 1000,
            "kv.compact_bytes_rewritten": compact[0]["output_bytes"],
            "kv.upsert_rows_per_s": ex["kv.upsert_rows"] / (ex["kv.upsert_ms"] / 1000),
            "kv.store_bytes_per_user_byte": ex["kv.store_bytes"] / ex["kv.live_user_bytes"],
        })
    for name in ("client", "build", "collect", "spark"):
        m[f"self.{name}_ms"] = mean([s[f"self.{name}_ms"] for s in traced])
    for name in OVERHEAD:
        m[f"trace.overhead.{name}"] = e2e_traced[name] - e2e_plain[name]
    return m


def result_line(correct, attempted, failed, metrics, units):
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}})


# ------------------------------------------------------------------------ run

def run(args):
    ensure_built()
    cores = len(os.sched_getaffinity(0))
    WORK.mkdir(exist_ok=True)
    work = WORK / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    data = WORK / "data" / f"sf{SCALE}-{args.seed}"
    if args.workload == "analytics":
        sys.path.insert(0, str(BENCH))
        import gen
        t0 = time.time()
        gen.generate(str(data), args.seed, SCALE, DOCS, VECTORS)
        analytics_oracles(data, work, cores)
        before = time_bset(data, cores)
        log(f"inputs and oracles ready in {time.time() - t0:.1f} s")
    cmd = java_cmd("perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace),
                   "--data", str(data), "--work", str(work), "--cores", str(cores))
    t0 = time.time()
    with open(work / "jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        log(f"workload process failed ({rc}); last log lines:\n" + "\n".join(tail))
        return 1
    log(f"workload process finished in {time.time() - t0:.1f} s")
    res = json.loads((work / "jvm_result.json").read_text())
    if args.workload == "analytics":
        # timed before and after the JVM, so a drift in host speed during
        # the run reaches both sides of the ratio
        after = time_bset(data, cores)
        ref = {q: statistics.median(before[q] + after[q]) for q in BSET}
    else:
        ex = res["extra"]
        ref = kv_reference(ex["kv.ref_dir"], ex["kv.ref_keys"], cores)

    bad = [s for s in res["samples"] if not s["ok"]]
    for s in bad:
        log(f"FAILED {s['kind']} {s['name']} ({s['window']} round {s['round']}): {s['err']}")
    attempted, failed = len(res["samples"]), len(bad)
    plain, info = end_to_end(res, "plain", ref)
    if args.trace:
        traced, _ = end_to_end(res, "traced", ref)
        spans = [json.loads(line) for line in (work / "spans.jsonl").read_text().splitlines() if line]
        metrics, units = per_layer(res, spans, plain, traced), PER_LAYER
    else:
        plain["setup_s"] = statistics.median(s["total_s"] for s in res["setups"])
        metrics, units = plain, END_TO_END
    log(f"{args.workload} seed={args.seed}: {info['samples']} {('queries' if args.workload == 'analytics' else 'gets')}, "
        f"tail = p{info['tail_percentile']}, DuckDB reference {info['duckdb_ms']:.3f} ms, "
        f"error_rate = {failed}/{attempted}")
    for k in units:
        log(f"  {k:34s} {metrics[k]:14.6g} {units[k]}")
    print(result_line(failed == 0, attempted, failed, metrics, units), flush=True)
    # the stores and oracle files are only needed while the run lasts
    for p in work.iterdir():
        if p.is_dir():
            shutil.rmtree(p)
    return 0


# ------------------------------------------------------------------ self-test

def self_test():
    """Checks of the benchmark's own code: the percentile picker, the
    metric printer and (in the JVM) the result fingerprint."""
    assert tail_percentile(100) == 90 and tail_percentile(99) == 89
    assert tail_percentile(40) == 75 and tail_percentile(38) == 73
    assert tail_percentile(20) == 50 and tail_percentile(19) is None
    assert tail_percentile(1000) == 99 and tail_percentile(5000) == 99
    for n in range(20, 2000):  # ten samples beyond, and the next percentile has fewer
        p = tail_percentile(n)
        assert n * (100 - p) / 100 >= 10 and (p == 99 or n * (99 - p) / 100 < 10)
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50.5 and percentile(xs, 90) == 90.1
    for units in (END_TO_END, PER_LAYER):
        metrics = {k: 1.5 for k in units}
        line = json.loads(result_line(True, 3, 0, metrics, units))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert set(line["metrics"]) == set(units)
        assert all(v == {"value": 1.5, "unit": units[k]} for k, v in line["metrics"].items())
    assert all(PER_LAYER[k] for k in PER_LAYER) and all(END_TO_END[k] for k in END_TO_END)
    spans = [{"op": 1, "name": "op:query", "start_ms": 0, "end_ms": 100},
             {"op": 1, "name": "build", "start_ms": 10, "end_ms": 40},
             {"op": 1, "name": "collect", "start_ms": 40, "end_ms": 90},
             {"op": 1, "name": "spark:job", "start_ms": 20, "end_ms": 30},
             {"op": 1, "name": "spark:job", "start_ms": 50, "end_ms": 80},
             {"op": 1, "name": "spark:job", "start_ms": 60, "end_ms": 85}]
    t = span_times(spans)[1]
    assert (t["self.client_ms"], t["self.build_ms"], t["self.collect_ms"], t["self.spark_ms"],
            t["driver_only_ms"]) == (20.0, 20.0, 15.0, 45.0, 55.0), t
    log("python self-test passed")
    ensure_built()
    subprocess.run(java_cmd("perfbench.SelfTest", heap="512m"), check=True, timeout=120)
    return 0


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=["analytics", "kv"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true")
    args = p.parse_args()
    if args.self_test:
        return self_test()
    if not args.workload:
        p.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark of the price-alert engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the table
fixture once, runs the workload in one JVM on local[nproc], checks its
outputs, and prints every metric by name with its unit. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, measured with listeners and spans registered. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # the benchmark writes only under the build directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["alerts_dsl_avro", "alerts_processor_wide", "batch_sf01", "batch_10x"]
END_TO_END = {
    "setup_s": "s",
    "capacity_rows_s": "rows/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}
PER_LAYER = {
    "functions.from_avro_ns_per_row": "ns",
    "sources.parquet_scan_s": "s",
    "queries.build_s": "s",
    "plans.plan_s": "s",
    "operators.price_alerts_join_s": "s",
    "operators.windowed_revenue_s": "s",
    "operators.alerts_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.single_task_stages": "count",
    "operators.tasks": "count",
    "operators.job_span_s": "s",
    "operators.driver_gap_s": "s",
    "operators.effective_parallelism": "ratio",
    "operators.task_run_s": "s",
    "operators.task_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "baseline.capacity_rows_s_local1": "rows/s",
    "traced.setup_s": "s",
    "traced.capacity_rows_s": "rows/s",
    "traced.latency_p50_ms": "ms",
    "traced.latency_p90_ms": "ms",
}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 840


def compare(con, sql: str, out_dir: str) -> str:
    """'' when Spark's result in out_dir equals DuckDB's answer to sql,
    else what differs. Rows are compared as sorted multisets; floats to
    1e-9 absolute."""
    import numpy as np
    import pyarrow.parquet as pq
    spark = pq.read_table(out_dir).to_pandas()
    oracle = con.execute(sql).arrow().to_pandas()
    if sorted(spark.columns) != sorted(oracle.columns):
        return f"columns {sorted(spark.columns)} != {sorted(oracle.columns)}"
    if len(spark) != len(oracle):
        return f"rows {len(spark)} != {len(oracle)}"
    cols = sorted(spark.columns)
    s = spark[cols].sort_values(cols, ignore_index=True)
    o = oracle[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        if s[c].dtype.kind == "f" or o[c].dtype.kind == "f":
            ok = np.allclose(s[c].astype(float), o[c].astype(float), rtol=0, atol=1e-9,
                             equal_nan=True)
        else:
            ok = (s[c].astype(str).values == o[c].astype(str).values).all()
        if not ok:
            return f"values of column {c}"
    return ""


def check_batch(result: dict) -> int:
    """Failed executions: every timed execution of a query whose result
    differs from the DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    fixture = result["details"]["fixture_dir"]
    for d in os.listdir(fixture):
        if d.endswith(".parquet"):
            con.execute(f"CREATE VIEW {d[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{fixture}/{d}/*.parquet')")
    failed = 0
    for q, o in result["oracle"].items():
        try:
            diff = compare(con, o["sql"], o["dir"])
        except Exception as e:  # a failing oracle or unreadable output is a mismatch
            diff = f"{type(e).__name__}: {e}"
        print(f"check {q}: {'ok' if not diff else 'MISMATCH ' + diff}", file=sys.stderr)
        if diff:
            failed += o["executions"]
            result["problems"].append(f"{q}: {diff}")
    return failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        print("perfbench: no program sources (src/main/scala) next to the benchmark",
              file=sys.stderr)
        return 2

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build.build(build_dir)
    # one run at a time: what an interrupted run left behind goes too
    shutil.rmtree(os.path.join(build_dir, "run"), ignore_errors=True)
    run_dir = os.path.join(build_dir, "run", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    out = os.path.join(run_dir, "result.json")
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", build.classpath(classes), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cpus", str(cpus), "--build", build_dir,
              "--run-dir", run_dir, "--out", out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    try:
        subprocess.run(cmd, env=env, stdout=sys.stderr, timeout=JVM_TIMEOUT_S, check=True)
        with open(out) as fh:
            result = json.load(fh)
        if result["oracle"]:
            result["failed"] += check_batch(result)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for k, v in result["details"].items():
        print(f"# {k} = {json.dumps(v)}")
    for p in result["problems"]:
        print(f"# problem: {p}")
    names, got = (PER_LAYER, result["layers"]) if a.trace else (END_TO_END, result["e2e"])
    missing = [n for n in names if n not in got]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    metrics = {n: {"value": got[n], "unit": u} for n, u in names.items()}
    for n, m in metrics.items():
        print(f"{n} = {m['value']} {m['unit']}")
    attempted = max(1, int(result["attempted"]))
    failed = min(int(result["failed"]), attempted)
    print(json.dumps({"correct": failed == 0 and not result["problems"],
                      "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

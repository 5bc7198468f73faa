#!/usr/bin/env python3
"""Full-result benchmark of the graft engine.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (perfbench/build.py), runs
one workload of `perfbench/config.json` on one local Spark session in a
fresh JVM, checks every query's output, and prints the metrics. The last
line of stdout is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The seed shuffles the query order of every pass. After a
timed cold pass, the untimed check pass and an untimed settle pass, warm
passes repeat until --seconds have passed since the cold pass began, at
least one.

Session: `local[4]` (the nproc this was tuned on), 4 shuffle partitions,
session time zone UTC, UI off, and the fixed heap in `HEAP`. Input: the
directory `graft.Bench` reads by default, the read-only sf0.1 testdata
(17 MB of parquet in 10 tables, 600,572 lineitem rows), not modified.

Output check: queries with a DuckDB oracle are compared by
`tools/preverify.py` (type-strict, called unmodified); queries without one
by their row count, pinned in config.json. `failed` counts executions that
threw plus queries whose check failed.

Everything the run writes stays under `.bench_build/` in the checkout.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

# the harness JVM gets this long; with the output check the run stays under 180 s
HARNESS_TIMEOUT_S = 150
# a fixed young generation keeps VmHWM steady across seeds
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# query_tail_s: a run has a few warm passes, so few samples lie beyond any percentile
TAIL_PERCENTILE = 90
END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "rss_peak_mb": "MB",
}
PER_LAYER = {
    "session.build_s": "s", "session.warmup_s": "s",
    "entry.build_s": "s", "entry.build_share": "ratio", "entry.build_jobs": "count",
    "entry.build_actions": "count",
    "catalyst.plan_s": "s", "catalyst.plan_nodes": "count", "catalyst.full_over_count": "ratio",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.core_busy": "ratio",
    "exec.driver_gap_s": "s", "exec.sched_delay_s": "s", "exec.gc_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.records": "count",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_mb": "MB",
    "scan.mb": "MB", "scan.rows": "count", "scan.files": "count",
    "cache.storage_peak_mb": "MB", "cache.block_read_mb": "MB",
    "cache.memo_cold_over_warm": "ratio",
    "sink.output_mb": "MB", "sink.output_rows": "count",
    "trace.overhead_s": "s",
}


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def bench_input(root):
    """The input directory `graft.Bench` times by default."""
    src = (root / "src/main/scala/graft/Bench.scala").read_text()
    m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', src)
    if not m:
        fail("graft.Bench names no default input directory")
    return m.group(1)


def run_harness(root, workload, queries, memo, seed, seconds, trace):
    """Runs one harness JVM; returns (run dir, result dict)."""
    classpath = build.build(root)
    data = bench_input(root)
    run_dir = root / build.BUILD_DIR / "runs" / f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = (["java", *HEAP, "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Harness",
              "--workload", workload, "--queries", ",".join(queries), "--memo", ",".join(memo),
              "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--data", data, "--out", str(run_dir)])
    with open(run_dir / "jvm.log", "wb") as log:
        launch_ms = int(time.time() * 1000)
        proc = subprocess.Popen(cmd + ["--launch-ms", str(launch_ms)], cwd=run_dir,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness ran past {HARNESS_TIMEOUT_S} s", run_dir)
    if code != 0:
        fail(f"harness exited with code {code}", run_dir)
    return run_dir, json.loads((run_dir / "result.json").read_text())


def fail(msg, run_dir=None):
    if run_dir is not None and (run_dir / "jvm.log").exists():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        sys.stderr.write(tail + "\n")
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def cache_oracles(root, data, out, names):
    """Points each named oracle in `out/oracle_sql.json` at a parquet copy of
    its DuckDB result, computed on first use.

    An oracle's result depends only on its SQL and the input, and some cost
    more than the query they check (llm_dedup_cluster's takes ~15 s), so
    DuckDB runs each once per checkout. The copy is read back with every
    column cast to the oracle's own DuckDB type, and it is used only if that
    gives exactly the oracle's types and rows; otherwise the oracle's own SQL
    is kept and runs each time. `tools/preverify.py` makes the type-strict compare."""
    import duckdb
    path = out / "oracle_sql.json"
    sqls = json.loads(path.read_text())
    cache = root / build.BUILD_DIR / "oracles"
    cache.mkdir(parents=True, exist_ok=True)
    con = None
    for q in names:
        # bind the oracle's tables to the benchmark input, as preverify does
        sql = re.sub(r"read_parquet\('[^']*/(\w+)\.parquet'\)",
                     lambda m: f"read_parquet('{data}/{m.group(1)}.parquet')", sqls[q])
        key = hashlib.sha256(f"{duckdb.__version__}\n{sql}".encode()).hexdigest()[:16]
        f = cache / f"{q}-{key}.sql"
        if not f.exists():
            con = con or duckdb.connect()
            f.write_text(cache_oracle(con, sql, cache / f"{q}-{key}.parquet") or sql)
        sqls[q] = f.read_text()
    path.write_text(json.dumps(sqls))


def cache_oracle(con, sql, parquet):
    """Writes the oracle's result to `parquet`; returns a SELECT that reads it
    back with the oracle's types and rows, or None if no such SELECT is found."""
    import duckdb
    con.sql("DROP TABLE IF EXISTS oracle")
    con.sql(f"CREATE TEMP TABLE oracle AS {sql}")
    rel = con.sql("SELECT * FROM oracle")
    names, types = rel.columns, [str(t) for t in rel.types]
    con.sql(f"COPY oracle TO '{parquet}' (FORMAT parquet)")
    cols = ", ".join('CAST("{0}" AS {1}) AS "{0}"'.format(c.replace('"', '""'), t)
                     for c, t in zip(names, types))
    cached = f"SELECT {cols} FROM read_parquet('{parquet}')"
    try:
        back = con.sql(cached)
        same = [str(t) for t in back.types] == types and back.columns == names and all(
            con.sql(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0] == 0
            for a, b in (("SELECT * FROM oracle", cached), (cached, "SELECT * FROM oracle")))
    except duckdb.Error:
        same = False
    con.sql("DROP TABLE oracle")
    return cached if same else None


def check_outputs(root, data, cfg, queries, res, run_dir):
    """Returns {query: None if its output checks out, else the reason}."""
    out = run_dir / "check"
    oracles = set(json.loads((out / "oracle_sql.json").read_text()))
    verdict = {q: "no output written" for q in queries if q not in res["checked"]}
    with_oracle = [q for q in queries if q in oracles and q not in verdict]
    if with_oracle:
        cache_oracles(root, data, out, with_oracle)
        pv = subprocess.run([sys.executable, str(root / "tools/preverify.py"), data,
                             str(out), *with_oracle],
                            cwd=run_dir, capture_output=True, text=True, timeout=120)
        lines = pv.stdout.splitlines()
        for q in with_oracle:
            hit = [ln for ln in lines if ln.startswith((f"PASS {q} ", f"FAIL {q}:"))]
            verdict[q] = None if hit and hit[0].startswith("PASS") else (
                hit[0] if hit else "no verdict from preverify")
    pinned = [q for q in queries if q not in oracles and q not in verdict]
    if pinned:
        import duckdb
        con = duckdb.connect()
        for q in pinned:
            want = cfg["row_counts"].get(q)
            got = con.sql(f"SELECT count(*) FROM read_parquet('{out / q}/*.parquet')").fetchone()[0]
            verdict[q] = None if want is not None and got == want else (
                f"row count {got}, pinned {want}")
    return verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    cfg = json.loads((HERE / "config.json").read_text())
    for need in ("src/main/scala", "tools/preverify.py"):
        if not (root / need).exists():
            fail(f"{need} not found: run from the root of a graft checkout")
    if a.workload not in cfg["workloads"]:
        fail(f"unknown workload {a.workload!r}; have {sorted(cfg['workloads'])}")
    data = bench_input(root)
    if not Path(data).is_dir():
        fail(f"input directory {data} not found")
    w = cfg["workloads"][a.workload]
    run_dir, res = run_harness(root, a.workload, w["queries"], w["memo"], a.seed,
                               a.seconds, bool(a.trace))
    verdict = check_outputs(root, data, cfg, w["queries"], res, run_dir)
    shutil.rmtree(run_dir / "check", ignore_errors=True)
    shutil.rmtree(run_dir / "tmp", ignore_errors=True)

    mismatched = sorted(q for q, v in verdict.items() if v)
    # a query that threw in the check pass is counted once, by its check
    threw = [f for f in res["failures"] if f["pass"] != "check"]
    attempted = res["executions"] + len(w["queries"])
    failed = len(threw) + len(mismatched)
    for f in res["failures"]:
        print(f"failed: {f['query']} in the {f['pass']} pass: {f['error']}")
    for q in mismatched:
        print(f"check failed: {q}: {verdict[q]}")
    print(f"failed_frac {failed / attempted:.4f} ratio ({failed} of {attempted})")

    if a.trace:
        layers = res["layers"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        heavy = {q: r for q, r in res["full_over_count"].items() if r > 2}
        print("full/count per query: " + ", ".join(
            f"{q} {r:.2f}" for q, r in sorted(res["full_over_count"].items())))
        print("full/count above 2: " + (", ".join(sorted(heavy)) or "none"))
        print(f"span self-time check: max gap {res['selftime_err_ms']:.6f} ms; "
              f"spans in {run_dir / 'spans.jsonl'}")
    else:
        q = res["warm_query_s"]
        p = TAIL_PERCENTILE
        vals = {
            "setup_s": (res["ready_ms"] - res["launch_ms"]) / 1000,
            "cold_pass_s": res["cold_pass_s"],
            "warm_pass_s": statistics.median(res["warm_pass_s"]),
            "query_p50_s": statistics.median(q),
            "query_tail_s": percentile(q, p),
            "rss_peak_mb": res["vmhwm_mb"],
        }
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
        print(f"warm passes {len(res['warm_pass_s'])}, query executions {len(q)}, "
              f"query_tail_s is p{p} ({sum(x > vals['query_tail_s'] for x in q)} beyond it)")
    for k, m in metrics.items():
        print(f"{k} {m['value']} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

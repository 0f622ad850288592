#!/usr/bin/env python3
"""Benchmark of the graft engine: two workloads, end-to-end and per-layer.

    python3 perfbench/run.py --workload <etl_daily|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (later runs reuse the build while no source
changed), generates the inputs from the seed, runs the workload in one JVM
(Spark local[nproc]), checks the outputs outside the timed region, and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Everything the run writes stays under .bench_build/.
See perfbench/NOTES.md for what each workload and metric means.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

WORKLOADS = ("etl_daily", "query_mix")
# input size per workload, as a multiple of the sf0.1 fixture row counts
SCALE = {"etl_daily": 0.05, "query_mix": 0.1}
HEAP = "3g"
DEADLINE_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ── build ────────────────────────────────────────────────────────────────
def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"):
        files += [p for p in d.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(set(files)):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged;
    return the runtime classpath."""
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
    want = source_stamp()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.splitlines() if "classes" in ln and ":" in ln
             and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-6000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(want)
    return cp


# ── checks ───────────────────────────────────────────────────────────────
def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v!r}"
    return repr(v)


def _norm_type(t):
    return {"TINYINT": "INTLIKE", "SMALLINT": "INTLIKE",
            "INTEGER": "INTLIKE", "BIGINT": "INTLIKE"}.get(t, t)


def _fetch_sorted(rel):
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    types = [_norm_type(str(rel.types[i])) for i in idx]
    rows = [tuple(_norm(r[i]) for i in idx) for r in rel.fetchall()]
    return cols, types, sorted(rows)


def oracle_session(data):
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def compare(con, got_dir, sql):
    """Output parquet vs its DuckDB oracle, column- and row-sorted: None
    when equal, else a one-line reason."""
    try:
        g = _fetch_sorted(con.sql(f"SELECT * FROM read_parquet('{got_dir}/*.parquet')"))
        w = _fetch_sorted(con.sql(sql))
    except Exception as e:  # noqa: BLE001 - an unreadable output is a wrong answer
        return str(e).splitlines()[0]
    if g[0] != w[0]:
        return f"columns {g[0]} != {w[0]}"
    if g[1] != w[1]:
        return f"types {g[1]} != {w[1]}"
    if g[2] != w[2]:
        return f"{len(g[2])} vs {len(w[2])} rows differ"
    return None


def check_dag(res, data, counts):
    failures = []
    con = oracle_session(data)
    oracles = res["finish"].get("oracles", {})
    expected = {"suppliers": counts["supplier"], "products": counts["part"],
                "customers": counts["customer"], "sales": counts["lineitem"]}
    for mart, sql in oracles.items():
        con.execute(f"CREATE TEMP TABLE oracle_{mart} AS {sql}")
        expected[mart] = con.sql(f"SELECT count(*) FROM oracle_{mart}").fetchone()[0]
    for op in res["ops"]:
        for t in op.get("tasks", []):
            if t["status"] == "ok" and t["rows"] != expected.get(t["task"]):
                failures.append(f"op {op['op']} {t['task']}: {t['rows']} rows, "
                                f"expected {expected.get(t['task'])}")
    last = res["ops"][-1]["out"]
    for mart in oracles:
        why = compare(con, f"{last}/dag/raw/{mart}", f"SELECT * FROM oracle_{mart}")
        if why:
            failures.append(f"{mart} vs oracle: {why}")
    return failures, len(oracles)


def check_reconcile(res, planted):
    failures = []
    pct = f"{planted['mismatch_rows'] * 100.0 / planted['common_rows']:.2f}%"
    want = {
        "Number of rows in Source": str(planted["source_rows"]),
        "Number of rows in Target": str(planted["target_rows"]),
        "Number of rows in common": str(planted["common_rows"]),
        "Number of rows mismatch": str(planted["mismatch_rows"]),
        "Row Mismatch Percentage": pct,
        "Number of rows in Source but not in Target": str(planted["source_only"]),
        "Number of rows in Target but not in Source": str(planted["target_only"])}
    for op in res["ops"]:
        if "summary" not in op:
            continue
        if op["summary"] != want:
            failures.append(f"op {op['op']} summary {op['summary']} != {want}")
        if op["col_summary"] != planted["col_mismatch"]:
            failures.append(f"op {op['op']} col summary {op['col_summary']} "
                            f"!= {planted['col_mismatch']}")
    import duckdb
    last = res["ops"][-1]
    stamp = last["stamp"]
    rows = {f"col_lineitem_{stamp}": sum(planted["col_mismatch"].values()),
            f"col_lvl_lineitem_{stamp}": len(planted["col_mismatch"]),
            f"src_lineitem_{stamp}": planted["source_only"],
            f"tgt_lineitem_{stamp}": planted["target_only"]}
    for table, n in rows.items():
        got = duckdb.sql(f"SELECT count(*) FROM read_parquet('{last['reconcile_out']}/{table}/*.parquet')"
                         ).fetchone()[0]
        if got != n:
            failures.append(f"persisted {table}: {got} rows, expected {n}")
    return failures, len(rows)


def check_mix(res, data):
    failures = []
    con = oracle_session(data)
    fin = res["finish"]
    for cell, sql in sorted(fin.get("oracles", {}).items()):
        why = compare(con, f"{fin['out']}/{cell}", sql)
        if why:
            failures.append(f"{cell} vs oracle: {why}")
    return failures, 0


# ── run ──────────────────────────────────────────────────────────────────
def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or \
            not (ROOT / "build.sbt").is_file():
        log(f"no engine sources next to {HERE.name}/ — run from a full checkout")
        return 2
    # metric names and units come from the benchmark's manifest
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    load_start = os.getloadavg()
    cp = build()
    t_start = time.time()  # the time limit applies to the run, not the build

    work = BUILD / f"run-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    for d in ("data", "index_store", "out", "tmp"):
        (work / d).mkdir(parents=True)
    proc = None
    try:
        t0 = time.time()
        counts = gen.generate(str(data), args.seed, SCALE[args.workload])
        planted = gen.reconcile_target(str(data), args.seed) \
            if args.workload == "etl_daily" else None
        gen_s = time.time() - t0

        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
            if os.environ.get("JAVA_HOME") else "java"
        result_file = work / "result.json"
        # no hsperfdata file outside the checkout; temp files under the run dir
        cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
               f"-Djava.io.tmpdir={work / 'tmp'}",
               "-cp", cp, "perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--data", str(data), "--work", str(work),
               "--out", str(result_file)]
        env = dict(os.environ, GRAFT_INDEX_STORE=str(work / "index_store"))
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=sys.stderr, stderr=sys.stderr)
        remaining = DEADLINE_S - (time.time() - t_start)
        try:
            rc = proc.wait(timeout=max(1.0, remaining))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log("JVM exceeded the time limit")
            return 3
        if rc != 0 or not result_file.exists():
            log(f"JVM exited with {rc}")
            return 4
        res = json.loads(result_file.read_text())

        t1 = time.time()
        if args.workload == "etl_daily":
            failures, extra = check_dag(res, data, counts)
            more, extra2 = check_reconcile(res, planted)
            failures, extra = failures + more, extra + extra2
        else:
            failures, extra = check_mix(res, data)
        check_s = time.time() - t1
        failures = res["failures"] + failures
        for f in failures:
            log(f"FAILED {f}")
        attempted = res["attempted"] + extra

        if args.trace:
            layer = res["per_layer"]
            # a layer the workload does not touch reads 0
            metrics = {m["name"]: {"value": float(layer.get(m["name"]) or 0.0),
                                   "unit": m["unit"]} for m in spec["per_layer"]}
        else:
            metrics = {m["name"]: {"value": float(res["end_to_end"][m["name"]]),
                                   "unit": m["unit"]} for m in spec["end_to_end"]}
        artifact = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale_vs_sf0.1": SCALE[args.workload],
            "input_rows": counts, "input_bytes": sum(
                p.stat().st_size for p in data.glob("*.parquet")),
            "planted": planted, "generate_s": gen_s, "check_s": check_s,
            "wall_s": time.time() - t_start, "failures": failures,
            "host": {**res["host"], "load_avg_start": load_start,
                     "load_avg_end": os.getloadavg(), "nproc": os.cpu_count()},
            "jvm_result": {k: v for k, v in res.items() if k != "spans"},
            "spans": res.get("spans", []), "metrics": metrics}
        (BUILD / f"last-{args.workload}-trace{args.trace}.json").write_text(
            json.dumps(artifact, indent=1))
        log(f"{args.workload}: ops={[round(o['seconds'], 2) for o in res['ops']]} "
            f"cpu={[round(o['cpu_seconds'], 2) for o in res['ops']]} "
            f"setup_rounds={[round(s['wall_s'], 2) for s in res['setup_rounds']]} "
            f"session={res['session']['wall_s']:.2f}s gen={gen_s:.1f}s check={check_s:.1f}s "
            f"wall={time.time() - t_start:.1f}s")
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

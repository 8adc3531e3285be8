#!/usr/bin/env python3
"""graft benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload grid_window --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source (once per source state),
generates the seeded inputs, runs the workload in a fresh JVM on local[4],
checks every answer, and prints the metrics that BENCHMARK.json names as the
last line of standard output:

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run. The line before it is a report with the
context behind the metrics (tail percentile and its sample count, per-tier
throughputs, failure fraction, box-state probe, tracing overhead). The
layer -> end-to-end mapping is in perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
RESULTS = TARGET / "results"
WORKLOADS = ("grid_window", "corpus_pipeline")
RUN_LIMIT_S = 150  # the JVM's share of the 180 s a run may take
HEAP = "-Xmx4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def run_child(cmd, limit_s, out_path, **kw):
    """Run cmd in its own process group with output to out_path; kill the
    whole group if it outlives limit_s. Returns the exit code."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        sys.exit("perfbench: SPARK_HOME is unset and spark-submit is not on PATH")
    return str(Path(submit).resolve().parent.parent)


def sources():
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    stamp = hashlib.sha256()
    for f in sources():
        stamp.update(str(f.relative_to(ROOT)).encode())
        stamp.update(f.read_bytes())
    stamp = stamp.hexdigest()
    cp_file, stamp_file = TARGET / "classpath.txt", TARGET / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    TARGET.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("building engine and harness with sbt")
    t0 = time.time()
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "writeClasspath"], 840, TARGET / "build.log", cwd=HERE, env=env)
    if code != 0:
        sys.exit(f"perfbench: build failed ({code}); see {TARGET / 'build.log'}")
    log(f"built in {time.time() - t0:.1f} s")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def prepare_inputs(workload, seed, work):
    """Seeded inputs for one run, written fresh under work/."""
    sys.path.insert(0, str(HERE))
    import datagen
    args = []
    if workload == "grid_window":
        rho, temp = datagen.grid_coefficients(seed)
        datagen.write_grid(str(work / "grid_pristine"), [rho, temp], 0, 144)
        datagen.write_grid(str(work / "grid_incoming"), [rho, temp], 144, 8)
        args += ["--rho", ",".join(map(repr, rho)), "--temp", ",".join(map(repr, temp))]
    else:
        datagen.write_corpus(str(work / "corpus"), seed, 0.01)
        datagen.write_corpus(str(work / "corpus_warm"), seed + 1, 0.001)
    return args


def oracle_failures(work):
    """Compare each dumped query result with its DuckDB oracle, using the
    repository's oracle-check comparison rules. Returns {query: reason}."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "tools" / "check_oracle.py")
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    out = work / "oracle"
    sqls = json.loads((out / "oracle_sql.json").read_text())
    bad = dict(json.loads((out / "_errors.json").read_text()))
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in check.TABLES:
        p = work / "corpus" / f"{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def compare(d):
        parts = sorted(d.glob("*.parquet"))
        got = (pd.concat([pd.read_parquet(f) for f in parts], ignore_index=True)
               if parts else pd.DataFrame())
        if d.name not in sqls:
            return "empty result and no oracle" if got.empty else ""
        try:
            return check.frames_equal(got, con.cursor().execute(sqls[d.name]).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            return f"oracle error: {e}"

    dirs = [p for p in sorted(out.iterdir()) if p.is_dir() and p.name not in bad]
    # the oracles are mostly single-threaded in DuckDB; run four at a time
    with ThreadPoolExecutor(4) as pool:
        for d, diff in zip(dirs, pool.map(compare, dirs)):
            if diff:
                bad[d.name] = diff
    return bad


def tail(xs):
    """Highest percentile with at least ten samples beyond it."""
    xs = sorted(xs)
    k = len(xs) - 10
    if k < 1:
        return None
    return {"value": xs[k - 1], "percentile": round(100.0 * k / len(xs), 1),
            "samples": len(xs)}


def median(xs):
    return statistics.median(xs) if xs else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: no engine sources next to the benchmark")

    cp = build()
    t_start = time.time()
    work = TARGET / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    t0 = time.time()
    extra = prepare_inputs(a.workload, a.seed, work)
    datagen_s = time.time() - t0

    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = ([java, HEAP, f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", str(work),
              "--out", str(work / "result.json")] + extra)
    code = run_child(cmd, RUN_LIMIT_S - (time.time() - t_start), work / "jvm.log",
                     cwd=work)
    if code != 0:
        sys.exit(f"perfbench: JVM exited with {code}; see {work / 'jvm.log'}")
    r = json.loads((work / "result.json").read_text())

    attempted, failed, errors = r["attempted"], r["failed"], r["errors"]
    report = dict(r["report"], workload=a.workload, seed=a.seed, trace=a.trace,
                  datagen_s=datagen_s, setup_reps_s=r["setup_s"], op_s=r["op_s"],
                  errors=errors)
    if a.workload == "corpus_pipeline":
        # a query fails once: by throwing in the pass, or by a wrong answer
        threw = {e.split(":")[0] for e in errors}
        bad = oracle_failures(work)
        errors += [f"{q}: {why}"[:400] for q, why in bad.items() if q not in threw]
        failed = len(threw | set(bad))
        report["oracle_checked"] = sum(1 for p in (work / "oracle").iterdir() if p.is_dir())
        if r["op_s"]:
            report["pipeline_s"] = r["op_s"][0]
    if a.workload == "grid_window":
        report["window_p50_s"] = median(r["op_s"])
        report["window_tail_s"] = tail(r["op_s"])
        report["ingest_p50_s"] = median(report.get("ingest_s", []))
    report["failed_frac"] = failed / attempted if attempted else None

    e2e = {
        "setup_s": median(r["setup_s"]),
        "op_p50_s": median(r["op_s"]),
        "peak_heap_mb": r["report"]["peak_heap_mb"],
    }
    RESULTS.mkdir(parents=True, exist_ok=True)
    stored = RESULTS / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    if a.trace:
        untraced = [json.loads(p.read_text())["op_p50_s"]
                    for p in RESULTS.glob(f"{a.workload}-seed*-trace0.json")]
        untraced = [x for x in untraced if x]
        if untraced and e2e["op_p50_s"]:
            report["trace_overhead_frac"] = e2e["op_p50_s"] / median(untraced) - 1.0
            report["trace_overhead_base_runs"] = len(untraced)
        values = dict(r["layers"])
    else:
        values = e2e
    stored.write_text(json.dumps(dict(e2e, report=report)))

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        v = values.get(m["name"], 0.0 if a.trace else None)
        if v is not None:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = failed == 0 and len(metrics) == len(names) and bool(r["op_s"])
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

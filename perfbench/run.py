#!/usr/bin/env python3
"""Benchmark of the fraud ETL engine: one run of one workload.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the program's sources
together with the harness (perfbench/build.sbt); later runs reuse the
classes while the sources are unchanged. Workload parameters are frozen in
perfbench/workloads.json; metric names and units come from BENCHMARK.json.

With --trace 0 the last stdout line is the result with every end-to-end
metric; with --trace 1 it carries every per-layer metric instead. Either way
the run's full record (wall-clock numbers, checks, and for a traced run the
self times) goes to perfbench/out/<workload>-seed<n>-trace<0|1>.json, and a
traced run's spans to the matching .spans.jsonl. Output checks count failed
operations in both modes.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
DEADLINE_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def spark_home():
    """The Spark installation whose jars the program is built and run against."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation: set SPARK_HOME")
    return home


def build():
    """Compiles the program and the harness unless the sources are unchanged."""
    h = hashlib.sha256()
    for p in source_files():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        die(f"build failed ({r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)


def oracle_failures(result, fixtures):
    """Each query's row count against DuckDB's for its oracle SQL."""
    import duckdb
    con = duckdb.connect()
    for t in sorted(os.listdir(fixtures)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{fixtures}/{t}')")
    bad = []
    for name, q in sorted(result.get("oracle", {}).items()):
        if not q["sql"]:
            bad.append(f"{name}: no oracle SQL")
            continue
        want = con.execute(f"SELECT COUNT(*) FROM ({q['sql']}) oracle").fetchone()[0]
        if want != q["count"]:
            bad.append(f"{name}: spark {q['count']} rows, duckdb {want}")
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"no program sources under {ROOT}/src/main/scala")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        config = json.load(f)
    if args.workload not in config["workloads"]:
        die(f"unknown workload {args.workload}")
    build()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(HERE, "out")
    os.makedirs(work)
    os.makedirs(out, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{config['jvm_heap']}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--result", result_path,
            "--spans", os.path.join(out, f"{tag}.spans.jsonl"),
            "--config", os.path.join(HERE, "workloads.json"),
            "--fixtures", os.path.join(HERE, config["fixtures"]),
            "--launch-ms", str(int(time.time() * 1000))])
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"run exceeded {DEADLINE_S} s; log kept in {work}")
    if rc != 0 or not os.path.exists(result_path):
        die(f"JVM exited with {rc}; log kept in {work}")
    with open(result_path) as f:
        result = json.load(f)

    errors = list(result["errors"])
    if "oracle" in result:
        errors += oracle_failures(result, os.path.join(HERE, config["fixtures"]))
    failed = result["failed"] + (len(errors) - len(result["errors"]))
    attempted = result["attempted"]
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    if args.trace:
        declared = bench["per_layer"]
        values = result["layer"]
    else:
        declared = bench["end_to_end"]
        values = result["end_to_end"]
    names = {m["name"] for m in declared}
    unknown = sorted(set(values) - names)
    if unknown:
        die(f"metrics not declared in BENCHMARK.json: {unknown}")
    # A per-layer metric of a layer the workload never calls reads 0.
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}

    # Everything the run measured, wall-clock numbers and (traced) self
    # times included, for trace.py and for reading by hand.
    record = {k: v for k, v in result.items() if k != "oracle"}
    record.update(failed=failed, errors=errors, wall_s=time.time() - t0)
    with open(os.path.join(out, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": max(attempted, 1), "failed": failed if attempted else 1,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

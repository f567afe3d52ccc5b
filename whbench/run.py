#!/usr/bin/env python3
"""Build the engine, run one benchmark workload, check it, print metrics.

    python3 whbench/run.py --workload interactive-sql --seed 1 \
        --seconds 25 --trace 0

Run from the root of a checkout. The engine (src/main/scala) and the
benchmark program (whbench/scala) are compiled with the Scala compiler
that ships in Spark's jar directory ($SPARK_HOME/jars, else the directory
build.sbt takes its jars from), once per source hash, into .bench_build/.
Inputs are generated from the seed into .bench_work/, which is removed
again when the run ends (the last run's result.json and spans.jsonl are
kept in .bench_work/last/). Needs no network.

Prints every metric with its unit and the correctness verdict, then, as
the last line, one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones (see whbench/README.md).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170

# Measured passes are fixed work: the pass count follows from --seconds
# and each workload's nominal pass time on a 4-core host, never from a
# clock read during the run.
NOMINAL_PASS_S = {"interactive-sql": 8.0, "ingest-query": 9.0}
MIN_PASSES = {"interactive-sql": 3, "ingest-query": 3}
# Scale factor of the generated tables the HiveQL queries read, and of
# the smaller corpus the curation queries read.
TABLES_SF, CORPUS_SF = 0.1, 0.01

E2E = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"),
       ("live_heap_mb", "MB")]
LAYERS = [
    ("ingest.sniff_s", "s"), ("ingest.infer_s", "s"), ("ingest.parse_s", "s"),
    ("ingest.good_row_ratio", "ratio"), ("ingest.mb_per_s", "MB/s"),
    ("objectstore.put_s", "s"), ("objectstore.normalize_s", "s"),
    ("catalog.append_s", "s"), ("catalog.analyze_s", "s"),
    ("catalog.read_s", "s"), ("catalog.stored_bytes_per_csv_byte", "ratio"),
    ("stats.column_stats_s", "s"),
    ("layout.compact_s", "s"), ("layout.files_before", "count"),
    ("layout.files_after", "count"), ("layout.rewrite_bytes_per_byte", "ratio"),
    ("tables.resolve_s", "s"),
    ("queries.build_s", "s"), ("queries.plan_s", "s"), ("queries.exec_s", "s"),
    ("functions.exec_s", "s"), ("graph.exec_s", "s"), ("pipeline.exec_s", "s"),
    ("engine.jobs", "count"), ("engine.tasks", "count"),
    ("engine.task_busy_s", "s"), ("engine.core_util", "ratio"),
    ("engine.shuffle_write_mb", "MB"), ("engine.spill_mb", "MB"),
    ("engine.gc_s", "s"), ("trace.overhead_s", "s")]

JAVA_OPTS = [
    "-Xmx3g", "-Xss8m",
    # no hsperfdata file in the system temp directory
    "-XX:-UsePerfData",
    # as build.sbt: retry allocations blocked by the GC locker
    "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=100",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


T0 = time.time()


def log(msg):
    print(f"whbench: {time.time() - T0:6.1f}s {msg}", file=sys.stderr)


def fail(msg):
    print(f"whbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        fail(f"no engine sources under {ROOT}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        fail(f"no Spark jar directory at '{jars}'")
    return jars


def build(jars, deadline):
    """Compile once per source hash; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    os.makedirs(tmp)  # also creates BUILD_DIR
    cp = os.path.join(jars, "*")
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as log:
        rc = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
             "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
            stdout=log, stderr=subprocess.STDOUT,
            timeout=max(1, deadline - time.time())).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compile failed, see {BUILD_DIR}/build.log")
    os.rename(tmp, out)
    return out


def run_jvm(classes, jars, args, work, deadline):
    cp = classes + os.pathsep + os.path.join(jars, "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "JAVA_TOOL_OPTIONS", "_JAVA_"))}
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                    "whbench.Main"] + args,
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded its time limit, see {log_path}")
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"engine run failed ({rc}):\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check_queries(res, work):
    """Oracle-compare the warm pass's outputs, and check that every
    measured run of a query returned the oracle's row count."""
    from oracle import Oracle
    oracles = {}
    attempted, failures = 0, []
    rows = {}
    for name, q in sorted(res["oracle"].items()):
        if q["data"] not in oracles:
            oracles[q["data"]] = Oracle(q["data"])
        attempted += 1
        why, rows[name] = oracles[q["data"]].compare(
            q["sql"], os.path.join(work, "out", name))
        if why:
            failures.append(f"{name}: {why}")
    for p in res["passes"]:
        for op in p["ops"]:
            attempted += 1
            if op["rows"] != rows[op["name"]]:
                failures.append(f"{op['name']}: {op['rows']} rows in a "
                                f"measured pass, oracle has {rows[op['name']]}")
    return attempted, failures


def op_p50(plain):
    """Uploads are all alike: their median, over at least 15 samples.
    The HiveQL queries are not: each query's median over the passes,
    combined by geometric mean, so a change to any one query moves it."""
    by_kind = {}
    for p in plain:
        for op in p["ops"]:
            by_kind.setdefault(op["kind"], {}).setdefault(
                op["name"], []).append(op["s"])
    if "upload" in by_kind:
        ops = [s for xs in by_kind["upload"].values() for s in xs]
        if len(ops) < 15:
            fail(f"only {len(ops)} upload samples; a median needs 15")
        return median(ops)
    per_query = [median(xs) for xs in by_kind["query"].values()]
    return math.exp(sum(math.log(x) for x in per_query) / len(per_query))


def e2e_metrics(res):
    plain = [p for p in res["passes"] if not p["traced"]]
    return {
        "setup_s": res["cold_start_s"] + median(res["setup_rounds_s"]),
        "pass_s": median([p["pass_s"] for p in plain]),
        "op_p50_s": op_p50(plain),
        "live_heap_mb": max(p["heap_mb"] for p in plain),
    }


def layer_metrics(res):
    plain = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    # uploads record these per pass; query passes do not
    ingest = [p for p in traced if "good_row_ratio" in p]
    per_pass = list(res["layers"].values())

    def mid(key):
        return median([d.get(key, 0.0) for d in per_pass])

    def mid_ingest(f):
        return median([f(p) for p in ingest]) if ingest else 0.0

    # span self times and engine counts; a layer without spans reports 0
    m = {name: mid(name[:-2] if name.endswith("_s") and
                   not name.startswith("engine.") else name)
         for name, _ in LAYERS}
    for name in ("ingest.good_row_ratio", "catalog.stored_bytes_per_csv_byte",
                 "layout.files_before", "layout.files_after",
                 "layout.rewrite_bytes_per_byte"):
        key = name.split(".", 1)[1]
        m[name] = mid_ingest(lambda p: p[key])
    m["ingest.mb_per_s"] = mid_ingest(
        lambda p: sum(op["csv_bytes"] for op in p["ops"]) / 1048576.0
        / sum(op["s"] for op in p["ops"]))
    for k, xs in res.get("setup_layers", {}).items():
        m[k + "_s"] = median(xs)
    m["tables.resolve_s"] = median(res["resolve_s"]) if res["resolve_s"] else 0.0
    m["trace.overhead_s"] = (median([p["pass_s"] for p in traced])
                             - median([p["pass_s"] for p in plain]))
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(NOMINAL_PASS_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    sources()  # fails fast outside a checkout
    jars = spark_jars()
    classes = build(jars, time.time() + 870)
    log("engine built")
    deadline = max(deadline, time.time() + 120)

    work = os.path.join(WORK_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        if a.workload == "interactive-sql":
            sys.path.insert(0, HERE)
            import datagen
            datagen.generate(os.path.join(data, "tables"), a.seed, TABLES_SF)
            datagen.generate(os.path.join(data, "corpus"), a.seed, CORPUS_SF)
        log("inputs generated")
        passes = max(MIN_PASSES[a.workload],
                     round(a.seconds / NOMINAL_PASS_S[a.workload]))
        res = run_jvm(classes, jars, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--passes", str(passes), "--trace", str(a.trace),
            "--data", data, "--work", work], work, deadline)
        log("engine run done")
        attempted, failures = res["attempted"], list(res["failures"])
        if "oracle" in res:
            n, f = check_queries(res, work)
            attempted += n
            failures += f
        log("results checked")
        last = os.path.join(WORK_DIR, "last", a.workload)
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        for f in ("result.json", "spans.jsonl"):
            if os.path.exists(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), last)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = len(failures) + res["failed"] - len(res["failures"])
    values = layer_metrics(res) if a.trace else e2e_metrics(res)
    metrics = {k: (values[k], u) for k, u in (LAYERS if a.trace else E2E)}
    for f in failures:
        print(f"FAIL {f}")
    for k, (v, u) in metrics.items():
        print(f"{k:40s} {v:14.6f} {u}")
    print(f"correct: {failed == 0} ({attempted - failed}/{attempted} checks "
          f"passed, {len(res['passes'])} measured passes, {res['cores']} cores)")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()

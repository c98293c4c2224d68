#!/usr/bin/env python3
"""Benchmark of the graft engine: one closed-loop client, one JVM.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. It builds the engine and the harness
from source with sbt (once; later runs reuse the build while no input
changed), starts the harness JVM at local[<cores>] over the sf0.1 test
tables (the directory TESTDATA.md lists, or PERFBENCH_SF_DIR), checks
every query's result digest against perfbench/digests.json and prints one
JSON line last: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. Workloads and their queries are in
perfbench/workloads.json. Everything it writes goes under .bench_build/.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
JVM_TIMEOUT_S = 160
# -Xmx is the repository's own heap limit (../build.sbt). The initial heap
# is fixed too: G1 otherwise starts at 1/64 of the host's RAM and grows by
# pause timing, so how far it had grown by the timed passes set their GC
# load (curation's cpu_s spread 38% between seeds without it).
HEAP = ["-Xms4g", "-Xmx8g"]

sys.path.insert(0, HERE)
import layers  # noqa: E402

# What spark-submit would add on JDK 17 (the same list as ../build.sbt).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sf_dir():
    """The sf0.1 test tables: PERFBENCH_SF_DIR, else the directory
    TESTDATA.md lists for sf 0.1."""
    if os.environ.get("PERFBENCH_SF_DIR"):
        return os.environ["PERFBENCH_SF_DIR"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            for line in f:
                cells = [c.strip().strip("`") for c in line.split("|")]
                if len(cells) > 3 and cells[1] == "0.1":
                    return cells[2].rstrip("/")
    except OSError:
        pass
    fail("no sf0.1 directory: set PERFBENCH_SF_DIR or list it in TESTDATA.md")


def build_inputs():
    """Every file the build reads, as sorted relative paths."""
    files = [os.path.join(ROOT, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                HARNESS):
        for d, subdirs, names in os.walk(top):
            subdirs[:] = [s for s in subdirs if s not in ("target", "project")
                          or (s == "project" and d == HARNESS)]
            files += [os.path.join(d, n) for n in names]
    return sorted(os.path.relpath(f, ROOT) for f in files)


def build():
    """Compile engine + harness unless an identical build exists; returns
    the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail(f"no engine sources under {ROOT} (build.sbt, src/main)")
    h = hashlib.sha256()
    for rel in build_inputs():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            old = json.load(f)
        if old["key"] == key and all(os.path.exists(p)
                                     for p in old["classpath"].split(os.pathsep)):
            return old["classpath"]
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.server.forcestart=false",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HARNESS, stdout=subprocess.PIPE, stderr=out,
                           stdin=subprocess.DEVNULL, text=True, timeout=600)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"key": key, "classpath": cp}, f)
    return cp


def run_jvm(cp, sf, queries, seconds, trace, run_dir):
    tmp, out = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "out")
    os.makedirs(tmp)
    os.makedirs(out)
    result = os.path.join(run_dir, "result.json")
    cmd = ["java", *ADD_OPENS, *HEAP, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness",
           "--sf", sf, "--queries", ",".join(queries),
           "--seconds", str(seconds),
           "--trace", "1" if trace else "0",
           "--out", out, "--result", result]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        launched = time.time()
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=lf,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness JVM failed ({rc})")
    with open(result) as f:
        doc = json.load(f)
    doc["setup_s"] = doc["setup_end_epoch_s"] - launched
    doc["session_s"] = doc["session_epoch_s"] - launched
    # what the engine left in its scratch dir once the JVM is gone:
    # indexes and layouts written there (Spark removes its own files)
    doc["scratch_bytes"] = sum(os.path.getsize(os.path.join(d, n))
                               for d, _, names in os.walk(tmp) for n in names)
    return doc


def check_outputs(out_dir, checked):
    """{query: digest} of every query the check pass wrote."""
    import duckdb
    from digest import parquet_digest
    con = duckdb.connect()
    got = {}
    for q in checked:
        try:
            got[q] = parquet_digest(con, os.path.join(out_dir, q))
        except Exception as e:  # an unreadable result is a wrong result
            got[q] = f"error: {e}"
    return got


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(doc):
    passes = doc["passes"]
    per_q = {}
    for p in passes:
        for q, s in p["queries"].items():
            per_q.setdefault(q, []).append(s)
    written = layers.pass_written_bytes(doc)
    return {
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "query_geomean_ms": 1000.0 * geomean([statistics.median(v)
                                              for v in per_q.values()]),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "setup_s": doc["setup_s"],
        "alloc_mb": statistics.median(p["alloc_bytes"] for p in passes) / 1e6,
        "written_mb": statistics.median(written) / 1e6,
    }


def main():
    # a terminated run still stops its children and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record-digests", metavar="FILE",
                    help="write the check pass's digests to FILE (to refresh "
                    "digests.json after an intended output change)")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "digests.json")) as f:
        expected = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}")
    queries = list(spec["workloads"][a.workload]["queries"])
    sf = sf_dir()
    if not os.path.isdir(sf):
        fail(f"test data {sf} not found")
    cp = build()
    random.Random(a.seed).shuffle(queries)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        doc = run_jvm(cp, sf, queries, a.seconds, a.trace == 1, run_dir)
        got = check_outputs(os.path.join(run_dir, "out"), doc["checked"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.record_digests:
        with open(a.record_digests, "w") as f:
            json.dump(dict(sorted(got.items())), f, indent=1)
    check_errors = {e["query"] for e in doc["errors"] if e["pass"] == -1}
    wrong = [q for q in queries
             if q not in check_errors and got.get(q) != expected.get(q)]
    for e in doc["errors"]:
        print(f"error pass {e['pass']} {e['query']}: {e['error']}", file=sys.stderr)
    for q in wrong:
        print(f"output check failed: {q} got {got.get(q)} expected "
              f"{expected.get(q)}", file=sys.stderr)
    attempted = len(queries) * (1 + len(doc["passes"]))
    failed = len(doc["errors"]) + len(wrong)

    e2e = end_to_end(doc)
    # what a run measures once, not per pass
    per_run = {"fs.scratch_bytes": doc["scratch_bytes"],
               "jvm.peak_rss_mb": doc["peak_rss_kb"] / 1024.0,
               "jvm.peak_heap_mb": doc["heap_peak_after_gc_bytes"] / 2**20}
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    summary = {"workload": a.workload, "seed": a.seed, "order": queries,
               "session_s": doc["session_s"],
               "per_run": per_run,
               "cores": doc["cores"], "passes": len(doc["passes"]),
               "pass_s": [p["wall_s"] for p in doc["passes"]],
               "alloc_mb": [p["alloc_bytes"] / 1e6 for p in doc["passes"]],
               "query_s": {q: [p["queries"].get(q) for p in doc["passes"]]
                           for q in queries},
               "end_to_end": e2e}
    if a.trace:
        rows = layers.query_rows(doc)
        per_pass = layers.pass_layers(rows, per_run)
        summary.update(per_query=layers.per_query_medians(rows),
                       per_pass=per_pass, spans=layers.span_tree(doc))
        metrics = {m["name"]: {"value": statistics.median(
                       v[m["name"]] for v in per_pass.values()), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    with open(os.path.join(WORK, "results", stem + ".json"), "w") as f:
        json.dump(summary, f)
    print(json.dumps({"correct": not doc["errors"] and not wrong, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

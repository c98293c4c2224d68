"""Per-layer counters from the harness's raw records.

The harness records every job (tagged "<pass>/<query>" and "build" or
"exec" through Spark local properties), every stage attempt with its
tasks' metrics summed, and, when tracing, one span per query per pass
(with synchronous counter deltas) and one row per SQL execution. This
module turns those records into one row of per-layer counters per
query per pass, and sums rows into per-pass layer metrics.
"""
import bisect
import glob
import os
import statistics
from collections import defaultdict

# every engine operator file gets operators.<File>.jobs and .job_s: the
# jobs whose SQL execution (or own call site) has its innermost engine
# frame in that file
OPERATOR_FILES = sorted(
    os.path.basename(p)[:-len(".scala")] for p in glob.glob(os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "src", "main", "scala", "graft", "operators", "*.scala")))


def union_s(intervals):
    """Total length in seconds of the union of [start_ms, end_ms] spans."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def _by_tag(doc):
    jobs = defaultdict(list)
    for j in doc["jobs"]:
        if j["tag"]:
            jobs[j["tag"]].append(j)
    job_tag = {j["id"]: j["tag"] for j in doc["jobs"]}
    stages = defaultdict(list)
    for s in doc["stages"]:
        if s["completed"] and s["job"] in job_tag and job_tag[s["job"]]:
            stages[job_tag[s["job"]]].append(s)
    return jobs, stages


def pass_written_bytes(doc):
    """Per timed pass: Hadoop FS bytes written plus the shuffle and spill
    bytes its tasks wrote to local disk."""
    _, stages = _by_tag(doc)
    local = defaultdict(int)
    for tag, ss in stages.items():
        p = int(tag.split("/", 1)[0])
        local[p] += sum(s["shuffle_write_bytes"] + s["spill_disk_bytes"] for s in ss)
    return [p["fs_bytes_written"] + local[p["pass"]] for p in doc["passes"]]


def query_rows(doc):
    """{(pass, query): {metric: value}} for every traced span."""
    jobs, stages = _by_tag(doc)
    spans = sorted(doc["spans"], key=lambda s: s["start_ms"])
    starts = [s["start_ms"] for s in spans]
    execs = defaultdict(list)
    for e in doc["execs"]:
        # the last span that started at or before the execution's last
        # planning phase ended owns it
        i = bisect.bisect_right(starts, e["at_ms"]) - 1
        if i >= 0 and e["at_ms"] <= spans[i]["end_ms"]:
            execs[i].append(e)
    rows = {}
    for i, sp in enumerate(spans):
        tag = f'{sp["pass"]}/{sp["query"]}'
        js, ss, es = jobs.get(tag, []), stages.get(tag, []), execs.get(i, [])
        done = [j for j in js if j["end_ms"] >= 0]
        build_end = sp["start_ms"] + sp["build_s"] * 1000.0
        cb, ce = sp["build_counters"], sp["exec_counters"]
        c = {k: cb[k] + ce[k] for k in cb}
        st = lambda k: sum(s[k] for s in ss)
        job_s = union_s([(j["start_ms"], j["end_ms"]) for j in done])
        build_job_s = union_s([(j["start_ms"], j["end_ms"]) for j in done
                               if j["phase"] == "build"])
        cat = {k: sum(e[k + "_ms"] for e in es) / 1000.0
               for k in ("analysis", "optimization", "planning")}
        # the returned DataFrame's own analysis ran inside the build
        cat["analysis"] += sp["analysis_ms"] / 1000.0
        cat_build = (sp["analysis_ms"] + sum(
            e["analysis_ms"] + e["optimization_ms"] + e["planning_ms"]
            for e in es if e["at_ms"] <= build_end)) / 1000.0
        cat_all = sum(cat.values())
        wall = sp["wall_s"]
        r = {
            "wall_s": wall,
            "queries.build_s": sp["build_s"],
            "queries.build_jobs": sum(1 for j in js if j["phase"] == "build"),
            "queries.executions": len(es),
            "catalyst.analysis_s": cat["analysis"],
            "catalyst.optimization_s": cat["optimization"],
            "catalyst.planning_s": cat["planning"],
            "scheduler.jobs": len(js),
            "scheduler.stages": len(ss),
            "scheduler.tasks": st("tasks"),
            "scheduler.job_s": job_s,
            "scheduler.driver_s": wall - job_s,
            "scheduler.task_wait_s": st("task_wait_ms") / 1000.0,
            "executor.run_s": st("run_ms") / 1000.0,
            "executor.cpu_s": st("cpu_ns") / 1e9,
            "executor.gc_s": st("gc_ms") / 1000.0,
            "executor.deser_s": st("deser_ms") / 1000.0,
            "shuffle.write_bytes": st("shuffle_write_bytes"),
            "shuffle.read_bytes": st("shuffle_read_bytes"),
            "shuffle.fetch_wait_s": st("fetch_wait_ms") / 1000.0,
            "shuffle.spill_bytes": st("spill_mem_bytes") + st("spill_disk_bytes"),
            "sources.scan_bytes": st("input_bytes"),
            "sources.scan_records": st("input_records"),
            "sources.files_discovered": c["files_discovered"],
            "sources.listing_jobs": c["listing_jobs"],
            "plan.exchanges": sum(e["exchanges"] for e in es),
            "plan.broadcasts": sum(e["broadcasts"] for e in es),
            "plan.wsc_stages": sum(e["wsc_stages"] for e in es),
            "plan.scan_files": sum(e["scan_files"] for e in es),
            "functions.codegen_compiles": c["codegen_compiles"],
            "functions.codegen_fallbacks": c["codegen_fallbacks"],
            "fs.read_ops": c["fs_read_ops"],
            "fs.write_ops": c["fs_write_ops"],
            "fs.bytes_read": c["fs_bytes_read"],
            "fs.bytes_written": c["fs_bytes_written"],
            # self times: these four add up to wall_s exactly
            "self.build_s": sp["build_s"] - build_job_s - cat_build,
            "self.catalyst_s": cat_all,
            "self.jobs_s": job_s,
            "self.driver_other_s": (wall - sp["build_s"]) - (job_s - build_job_s)
                                   - (cat_all - cat_build),
        }
        for f in OPERATOR_FILES:
            mine = [j for j in done if j["site"] == f"operators/{f}"]
            r[f"operators.{f}.jobs"] = len(mine)
            r[f"operators.{f}.job_s"] = union_s([(j["start_ms"], j["end_ms"]) for j in mine])
        rows[(sp["pass"], sp["query"])] = r
    return rows


def pass_layers(rows, per_run):
    """{pass: {metric: sum over the pass's queries}} for timed passes, plus
    the per_run metrics, measured once for the whole run."""
    out = defaultdict(lambda: defaultdict(float))
    for (p, _), r in rows.items():
        if p > 0:
            for k, v in r.items():
                out[p][k] += v
            out[p].update(per_run)
    return {p: dict(m) for p, m in out.items()}


def per_query_medians(rows):
    """{query: {metric: median over timed passes}}."""
    by_q = defaultdict(list)
    for (p, q), r in rows.items():
        if p > 0:
            by_q[q].append(r)
    return {q: {k: statistics.median(r[k] for r in rs) for k in rs[0]}
            for q, rs in by_q.items()}


def span_tree(doc):
    """One span per query per pass (build then execute) with its jobs as
    children, in the order they ran."""
    kids = defaultdict(list)
    for j in doc["jobs"]:
        if j["tag"]:
            kids[j["tag"]].append({k: j[k] for k in
                                   ("id", "start_ms", "end_ms", "phase", "site")})
    return [dict(s, jobs=kids.get(f'{s["pass"]}/{s["query"]}', []))
            for s in sorted(doc["spans"], key=lambda s: s["start_ms"])]

#!/usr/bin/env python3
"""graft benchmark: export throughput and full-compute query latency.

    python3 perfbench/run.py --workload export-full --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the
benchmark (sbt, this directory's build, compiled against the checkout's
sources) into .bench_build/; later runs reuse that build until a source
file changes. With --trace 0 the last stdout line reports the
end-to-end metrics, with --trace 1 the per-layer metrics and a span
file under .bench_build/perfbench/spans/. README.md in this directory
describes the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("export-full", "query-mix")
EXPORT_RECORDS = 20000
QUERY_DATA = os.path.join(HERE, "data", "sf0.001")
QUERY_LIST = os.path.join(HERE, "queries.txt")
JAVA_HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
MODULES = ["Relational", "TpchSuite", "Dedup", "Similarity", "TextAnalysis",
           "EventAnalytics", "Curation", "GraphOps", "Integrity", "Multimodal",
           "Sampling", "PipelineQueries", "StreamingQueries"]
# JDK 17 module openings Spark needs outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f) and "/target/" not in f:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, env=None, stdout=None):
    """Runs cmd in its own process group; kills the group on timeout
    and always waits for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=sys.stderr, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    """Returns the benchmark's classpath, building it when needed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no graft sources next to perfbench/: run from a graft checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    log("building (sbt) ...")
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, timeout=BUILD_TIMEOUT_S, stdout=subprocess.PIPE)
    lines = out.decode(errors="replace").strip().splitlines() if out else []
    if code != 0 or not lines:
        fail("build failed (sbt exit %s)" % code)
    cp = lines[-1].strip()
    if "perfbench" not in cp or not all(os.path.exists(p) for p in cp.split(":")):
        fail("build produced no usable classpath: " + cp[:200])
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def measure(args, cp):
    """Runs the measuring JVM; returns its raw JSON output."""
    cores = len(os.sched_getaffinity(0))
    name = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(BUILD, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans_dir = os.path.join(BUILD, "spans")
    raw_dir = os.path.join(BUILD, "raw")
    os.makedirs(spans_dir, exist_ok=True)
    os.makedirs(raw_dir, exist_ok=True)
    raw_path = os.path.join(raw_dir, name + ".json")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx" + JAVA_HEAP,
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dderby.system.home=" + os.path.join(work, "derby"),
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--records", str(EXPORT_RECORDS),
            "--data", QUERY_DATA, "--queries", QUERY_LIST,
            "--workdir", work, "--out", raw_path,
            "--spans", os.path.join(spans_dir, name + ".json")]
    try:
        code, _ = run_child(cmd, cwd=work, timeout=RUN_TIMEOUT_S, env=env,
                            stdout=sys.stderr)
        if code != 0:
            fail("measuring process exited with %d" % code)
        with open(raw_path) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ----------------------------------------------------------------- metrics

def counters(op):
    return op["counters"]["spark"]


def passes(ops):
    """Groups query ops by pass: {pass: [ops]}."""
    out = {}
    for o in ops:
        out.setdefault(o["pass"], []).append(o)
    return out


def end_to_end(raw):
    """setup_s; op_s, the median latency of one operation; records_per_s,
    the throughput of the whole timed loop; peak_exec_mem_mb."""
    setup = raw["setup"]
    setup_s = setup["session_s"] + (statistics.median(setup["inputs_s"])
                                    if setup["inputs_s"] else 0.0) + setup["warmup_s"]
    m = {"setup_s": (setup_s, "s")}
    if raw["workload"] == "export-full":
        walls = [o["wall_s"] for o in raw["ops"] if o["kind"] == "export"]
        m["op_s"] = (stats.median(walls), "s")
        m["records_per_s"] = (raw["input"]["cells"] * len(walls) / sum(walls), "1/s")
    else:
        qops = [o for o in raw["ops"] if o["kind"] == "query"]
        by_query = {}
        for o in qops:
            by_query.setdefault(o["name"], []).append(o["wall_s"])
        m["op_s"] = (stats.geomean([stats.median(v) for v in by_query.values()]), "s")
        m["records_per_s"] = (sum(counters(o)["records_read"] for o in qops)
                              / sum(o["wall_s"] for o in qops), "1/s")
    m["peak_exec_mem_mb"] = (raw["peak_exec_mem_bytes"] / 2 ** 20, "MB")
    return m


def per_layer(raw, spans):
    """The per-layer metrics a trace run measures. Export layers
    (sources.*, pipeline.*, the layer sum) come from export-full only and
    query layers (queries.*) from query-mix only; engine, Catalyst, set-up
    and trace metrics from both, over each workload's own operations."""
    m = {}
    is_export = raw["workload"] == "export-full"
    ops = raw["ops"]
    cores = raw["cores"]
    setup = raw["setup"]
    m["setup.session_s"] = (setup["session_s"], "s")
    m["setup.warmup_s"] = (setup["warmup_s"], "s")
    by_id = {s["id"]: s for s in spans}

    if is_export:
        jobs = [o for o in ops if o["kind"] == "export"]
        traced = [o for o in jobs if o["traced"]]
        untraced = [o for o in jobs if not o["traced"]]
        own = [[o] for o in traced]  # an export pass is one job
        layers = stats.leg_layers(raw["legs"])
        m["sources.snapshot_write_s"] = (stats.median(setup["inputs_s"]), "s")
        m["sources.scan_s"] = (layers["scan"], "s")
        for name in ("parse", "decrypt", "validate", "sanitise", "write", "accounting"):
            m["pipeline.%s_s" % name] = (layers[name], "s")
        m["pipeline.control_s"] = (stats.median([o["control_s"] for o in traced]), "s")
        m["pipeline.keyservice_calls"] = (stats.median([o["keyservice_calls"] for o in traced]), "count")
        m["pipeline.files_written"] = (stats.median([o["files"] for o in traced]), "count")
        data_bytes = sum(o["data_bytes"] for o in traced)
        m["pipeline.compress_ratio"] = (sum(o["batch_bytes"] for o in traced) / data_bytes, "ratio")
        m["pipeline.mb_out_per_s"] = (stats.median([o["data_bytes"] / 1e6 / o["wall_s"]
                                                    for o in traced]), "MB/s")
        inp = raw["input"]
        rows_out = stats.median([o["rows_out"] for o in traced])
        m["sources.rows_out"] = (rows_out, "count")
        m["sources.useful_ratio"] = (rows_out / inp["cells"], "ratio")
        m["sources.snapshot_mb"] = (inp["snapshot_bytes"] / 1e6, "MB")
        commits = []
        for leg in [s for s in spans if s["name"] == "leg.write"][1:]:  # the measured rounds
            ends = [s["end_ns"] for s in spans
                    if s["parent"] == leg["id"] and s["name"] == "spark.job"]
            commits.append((leg["end_ns"] - max(ends)) / 1e9)
        m["sources.sink_commit_s"] = (stats.median(commits), "s")
        untraced_s = stats.median([o["wall_s"] for o in untraced])
        _, residual, ratio = stats.layer_sum(raw["legs"], m["pipeline.control_s"][0], untraced_s)
        m["trace.layer_sum_ratio"] = (ratio, "ratio")
        m["trace.residual_s"] = (residual, "s")
        traced_s = stats.median([o["wall_s"] for o in traced])
        top_names = ("export.job",)
        leaf_names = ("export.job",)
    else:
        qall = passes([o for o in ops if o["kind"] == "query"])
        own = [p for p in qall.values() if p[0]["traced"]]
        qops = [o for p in own for o in p]

        def per_pass(fn):
            return stats.median([sum(fn(o) for o in p) for p in own])
        m["queries.pass_s"] = (per_pass(lambda o: o["wall_s"]), "s")
        m["queries.build_s"] = (per_pass(lambda o: o["build_s"]), "s")
        lat = [o["wall_s"] for o in qops]
        m["queries.p50_s"] = (stats.median(lat), "s")
        t = stats.tail(lat)
        m["queries.tail_s"] = (t[1] if t else max(lat), "s")
        m["queries.tail_pct"] = (t[0] if t else 100.0, "%")
        for mod in MODULES:
            m["queries.%s_s" % mod] = (per_pass(lambda o: o["wall_s"] if o["module"] == mod else 0.0), "s")
        traced_s = m["queries.pass_s"][0]
        untraced_s = stats.median([sum(o["wall_s"] for o in p)
                                   for p in qall.values() if not p[0]["traced"]])
        top_names = tuple("query:" + o["name"] for o in qops)
        leaf_names = ("query.build", "query.execute")
    m["trace.overhead_ratio"] = (traced_s / untraced_s - 1.0, "ratio")

    # engine counters of the workload's own traced operations, per pass
    own_ops = [o for p in own for o in p]

    def own_median(fn):
        return stats.median([sum(fn(o) for o in p) for p in own])
    m["catalyst.analysis_s"] = (own_median(lambda o: o["counters"]["analysis_s"]), "s")
    m["catalyst.optimization_s"] = (own_median(lambda o: o["counters"]["optimization_s"]), "s")
    m["catalyst.planning_s"] = (own_median(lambda o: o["counters"]["planning_s"]), "s")
    m["spark.jobs_per_op"] = (sum(counters(o)["jobs"] for o in own_ops) / len(own_ops), "count")
    m["spark.stages_per_op"] = (sum(counters(o)["stages"] for o in own_ops) / len(own_ops), "count")
    # generated code is compiled once and cached, so compiles are counted
    # over the whole run, warm-up included
    m["spark.codegen_compiles"] = (sum(counters(o)["codegen_compiles"] for o in ops), "count")
    m["spark.codegen_compile_s"] = (sum(counters(o)["codegen_compile_s"] for o in ops), "s")
    m["spark.tasks"] = (own_median(lambda o: counters(o)["tasks"]), "count")
    m["spark.task_run_s"] = (own_median(lambda o: counters(o)["task_run_s"]), "s")
    m["spark.task_cpu_s"] = (own_median(lambda o: counters(o)["task_cpu_s"]), "s")
    m["spark.gc_s"] = (own_median(lambda o: counters(o)["gc_s"]), "s")
    m["spark.shuffle_write_mb"] = (own_median(lambda o: counters(o)["shuffle_write_bytes"] / 1e6), "MB")
    m["spark.spill_mb"] = (own_median(lambda o: counters(o)["spill_disk_bytes"] / 1e6), "MB")
    m["spark.core_busy_ratio"] = (sum(counters(o)["task_run_s"] for o in own_ops)
                                  / (sum(o["wall_s"] for o in own_ops) * cores), "ratio")

    # span-derived: time inside Spark jobs, and driver time outside jobs
    # and Catalyst phases, per pass of the workload's own operations
    selfs = stats.self_times(spans)
    tops = [s for s in spans if s["name"] in top_names]
    m["spark.execute_s"] = (sum(s["end_ns"] - s["start_ns"] for s in spans
                                if s["name"] == "spark.job" and _under(s, tops, by_id))
                            / 1e9 / len(own), "s")
    m["trace.driver_self_s"] = (sum(selfs[s["id"]] for s in spans
                                    if s["name"] in leaf_names and _under(s, tops, by_id))
                                / len(own), "s")
    return m


def declared_per_layer():
    """name → unit of the per-layer metrics in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def _under(span, tops, by_id):
    ids = {t["id"] for t in tops}
    s = span
    while s is not None:
        if s["id"] in ids:
            return True
        s = by_id.get(s["parent"]) if s["parent"] is not None else None
    return False


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    raw = measure(args, cp)
    ops = raw["ops"]
    failed = [o for o in ops if o["failures"]]
    for o in failed:
        for f in o["failures"]:
            log("check failed: " + f)
    attempted, n_failed = len(ops), len(failed)
    if args.trace:
        with open(raw["spans"]) as fh:
            spans = json.load(fh)
        metrics = per_layer(raw, spans)
        if raw["workload"] == "export-full":
            # the layer-sum check counts as one more checked operation
            ratio = metrics["trace.layer_sum_ratio"][0]
            attempted += 1
            if not stats.layer_sum_holds(ratio):
                n_failed += 1
                log("check failed: layer sum / export_s = %.3f, outside 1 +- %.2f"
                    % (ratio, stats.LAYER_SUM_TOLERANCE))
            log("layer sum / export_s = %.3f, residual %.3f s (spans: %s)"
                % (ratio, metrics["trace.residual_s"][0], raw["spans"]))
        metrics["checks.failed_ratio"] = (n_failed / attempted, "ratio")
        # a layer the workload does not exercise reads 0 (README.md says
        # which workload measures each layer)
        declared = declared_per_layer()
        extra = sorted(set(metrics) - set(declared))
        if extra:
            fail("metrics missing from BENCHMARK.json: " + ", ".join(extra))
        metrics = {name: metrics.get(name, (0.0, unit)) for name, unit in declared.items()}
    else:
        metrics = end_to_end(raw)
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))

if __name__ == "__main__":
    main()

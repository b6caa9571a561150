#!/usr/bin/env python3
"""graft benchmark: three workloads, each in a fresh JVM, measured from outside.

    python3 perfbench/run.py --seed 1                       # every workload
    python3 perfbench/run.py --workload lakehouse_mix --seed 1 --seconds 10 --trace 0

Run it from the repository root. It compiles `src/main` and the harness with
the Scala compiler shipped in the Spark jars (build.sbt is not involved),
derives the workload's inputs from the testdata and the seed, runs the harness
on `local[<cpus>]` with a fixed heap, checks every result, prints a readable
report and, as the last line, one JSON object. With `--trace 1` the same run
also attaches listeners for a second timed phase and reports per-layer numbers
and the tracing overhead instead of the end-to-end metrics. The exit code is
non-zero on any failed or wrong operation. perfbench/METRICS.md describes
every metric.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("curation_batch", "corpus_curation", "lakehouse_mix")
# the testdata scale each workload derives its inputs from (see METRICS.md)
SOURCE_SF = {"curation_batch": "sf0.01", "corpus_curation": "sf0.1", "lakehouse_mix": "sf0.1"}
# SparkEntry.queries key -> step span, per batch workload (METRICS.md says
# which steps of the design were left out and why)
STEPS = {
    "curation_batch": (("v7_pipeline_e2e", "pipeline.wide_s"), ("v8_reports", "validate.reports_s"),
                       ("j8_cascade_delete", "ops.cascade_s")),
    "corpus_curation": (("t6_corpus_curation", "ext.corpus_curation_s"),
                        ("c1_jsonl_roundtrip", "io.jsonl_roundtrip_s")),
}
STEP_SPANS = tuple(span for steps in STEPS.values() for _, span in steps)
HEAP = "2g"
JVM_TIMEOUT_S = 160
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
OPENS = [a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                     "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                     "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
         for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

END_TO_END = (("setup_s", "s"), ("job_p50_s", "s"), ("input_rows_per_s", "1/s"), ("peak_rss_mb", "MB"))
PER_LAYER_UNITS = {
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "catalyst.physical_ops": "count", "driver.jobs": "count", "driver.stages": "count",
    "driver.gap_ms": "ms", "streaming.batch_jobs": "count", "streaming.batch_gap_ms": "ms",
    "exec.tasks": "count", "exec.task_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "shuffle.spill_bytes": "bytes",
    "scan.files_read": "count", "scan.input_bytes": "bytes", "ops.manifest_bytes": "bytes",
    "ops.files_live": "count", "ops.snapshot_chain": "count", "plans.maintenance_ms": "ms",
    "storage.persisted_left": "count", **{s: "s" for s in STEP_SPANS},
    "read_p50_ms": "ms", "write_p50_ms": "ms", "ops_per_s": "1/s",
    "bytes_stored_per_user_byte": "ratio", "trace.overhead_frac": "ratio",
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _documented(path, pattern, what):
    """A location that the checkout's own `path` names."""
    try:
        with open(os.path.join(ROOT, path)) as f:
            m = re.search(pattern, f.read())
    except OSError:
        m = None
    if not m:
        fail(f"no {what}: {path} names none")
    return m.group(1)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    return os.path.join(home, "jars") if home else _documented(
        "build.sbt", r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', "Spark jars")


def testdata_root():
    """$GRAFT_TESTDATA, else the testdata directory TESTDATA.md documents."""
    return os.environ.get("GRAFT_TESTDATA") or _documented(
        "TESTDATA.md", r"`([^`]+)/sf0\.01/?`", "testdata directory")


# ------------------------------------------------------------------ build

def _files(top, ext):
    out = []
    for root, dirs, names in os.walk(top):
        dirs.sort()
        out += [os.path.join(root, n) for n in sorted(names) if n.endswith(ext)]
    return out


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(out, classpath, sources):
    jars = spark_jars()
    compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) < 3:
        fail(f"no Scala compiler in {jars}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", classpath, "-d", tmp, *sources]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail(f"compile failed:\n{r.stdout[-4000:]}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def _build_one(name, sources, classpath, stamp):
    out = os.path.join(BUILD, name)
    stamp_file = os.path.join(out, ".stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        print(f"perfbench: compiling {name} ({len(sources)} files)", file=sys.stderr)
        _scalac(out, classpath, sources)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return out


def build():
    """Compile src/main, then the harness; return the run classpath."""
    main_src = _files(os.path.join(ROOT, "src", "main", "scala"), ".scala")
    harness_src = _files(os.path.join(HERE, "harness"), ".scala")
    if not main_src:
        fail("src/main/scala not found: run from the repository root")
    jars = os.path.join(spark_jars(), "*")
    main_stamp = _digest(main_src)
    main_out = _build_one("classes-main", main_src, jars, main_stamp)
    harness_out = _build_one("classes-harness", harness_src, os.pathsep.join([main_out, jars]),
                             _digest(harness_src, main_stamp))
    return main_src, main_out, os.pathsep.join(
        [harness_out, main_out, os.path.join(ROOT, "src", "main", "resources"), jars])


def assert_fresh(main_src, main_out):
    """Refuse to run classes older than, or built from other than, src/main."""
    stamp_file = os.path.join(main_out, ".stamp")
    built = os.path.getmtime(stamp_file)
    newer = [p for p in main_src if os.path.getmtime(p) > built]
    if newer or open(stamp_file).read() != _digest(main_src):
        fail(f"stale classes: {os.path.relpath((newer or main_src)[0], ROOT)} changed after the build")


# ------------------------------------------------------------------ run

def run_jvm(cp, workload, indir, rundir, seconds, trace, cores):
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(os.path.join(rundir, "tmp"))
    cmd = ["java", "-XX:-UsePerfData", *OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={rundir}/tmp", "-Dspark.ui.enabled=false", "-cp", cp,
           "graftbench.Harness", workload, indir, rundir, str(seconds), str(trace), str(cores),
           ",".join(f"{k}={v}" for k, v in STEPS.get(workload, ())) or "-"]
    with open(os.path.join(rundir, "jvm.log"), "w") as log:
        launch_ms = time.time() * 1e3
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=rundir,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload}: harness exceeded {JVM_TIMEOUT_S}s", 1)
    res_path = os.path.join(rundir, "result.json")
    if not os.path.exists(res_path):
        with open(os.path.join(rundir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"{workload}: harness exited {code} without a result:\n{tail}", 1)
    with open(res_path) as f:
        res = json.load(f)
    res["launch_ms"] = launch_ms
    res["exit_code"] = code
    return res


def _p50(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(workload, res, census, phase):
    """End-to-end metrics of one timed phase ("timed" or "traced")."""
    m = {"setup_s": (res["timed_start_ms"] - res["launch_ms"]) / 1e3,
         "peak_rss_mb": res["vm_hwm_kb"] / 1024}
    extra = {}
    if workload == "lakehouse_mix":
        ops = [o for o in res["ops"] if o["phase"] == phase]
        rounds = [r["round_s"] for r in res["rounds"] if r["phase"] == phase]
        rows_per_write = census["batches"]["rows"] / census["batches"]["files"]
        m["job_p50_s"] = _p50(rounds)
        m["input_rows_per_s"] = rows_per_write * len(rounds) / sum(rounds)
        reads = [o["ms"] for o in ops if o["kind"] == "R"]
        writes = [o["ms"] for o in ops if o["kind"] == "W"]
        extra = {"read_p50_ms": (_p50(reads), "ms"), "read_max_ms": (max(reads, default=0), "ms"),
                 "write_p50_ms": (_p50(writes), "ms"), "write_max_ms": (max(writes, default=0), "ms"),
                 "ops_per_s": (len(ops) / (sum(o["ms"] for o in ops) / 1e3), "1/s"),
                 "bytes_stored_per_user_byte": (res["table_bytes"] / max(res["final_bytes"], 1), "ratio")}
        counts = {"reads": len(reads), "writes": len(writes), "rounds": len(rounds),
                  "maintenance": sum(o["kind"] == "M" for o in ops)}
    else:
        passes = [p for p in res["passes"] if p["phase"] == phase]
        rows_per_pass = sum(v["rows"] for v in census.values())
        m["job_p50_s"] = _p50([p["pass_s"] for p in passes])
        m["input_rows_per_s"] = rows_per_pass * len(passes) / sum(p["pass_s"] for p in passes)
        counts = {"passes": len(passes), "steps": sum(len(p["steps_s"]) for p in passes),
                  "pass_s": " ".join(f"{p['pass_s']:.3f}" for p in passes)}
    return m, extra, counts


def run_workload(workload, seed, seconds, trace, cp, main_src, main_out, cores):
    src = os.path.join(testdata_root(), SOURCE_SF[workload])
    if not os.path.isdir(src):
        fail(f"testdata not found: {src} (set $GRAFT_TESTDATA)")
    indir, census = inputs.build(workload, seed, src, os.path.join(BUILD, "inputs"))
    assert_fresh(main_src, main_out)
    rundir = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}")
    res = run_jvm(cp, workload, indir, rundir, seconds, trace, cores)

    if workload == "lakehouse_mix":
        attempted, failures = check.check_lakehouse(indir, rundir, res)
    else:
        attempted, failures = check.check_batch(indir, rundir, res, os.path.join(BUILD, "oracle"))
    if res["exit_code"] != 0:
        failures.append(f"harness exit code {res['exit_code']}")

    m, extra, counts = end_to_end(workload, res, census, "timed")
    print(f"== {workload}  seed={seed}  local[{res['cores']}]  heap={res['max_heap_mb']}MB  "
          f"source={SOURCE_SF[workload]}  inputs={indir}")
    for name, v in sorted(census.items()):
        print(f"   input {name:<12} " + "  ".join(f"{k}={x}" for k, x in sorted(v.items())))
    print("   samples " + "  ".join(f"{k}={v}" for k, v in counts.items()))
    ready = res.get("table_ready_ms", res["session_ready_ms"])
    print(f"   setup   jvm+session={(res['session_ready_ms'] - res['launch_ms']) / 1e3:.3f}s  "
          f"table+stream={(ready - res['session_ready_ms']) / 1e3:.3f}s  "
          f"warmup={(res['timed_start_ms'] - ready) / 1e3:.3f}s")
    metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END}
    shown = dict(metrics)
    shown["ops_failed_frac"] = {"value": len(failures) / attempted, "unit": "ratio"}
    shown.update({k: {"value": v, "unit": u} for k, (v, u) in extra.items()})
    for k, v in shown.items():
        print(f"   {k:<28} {v['value']:>14.4f} {v['unit']}")
    for f in failures[:20]:
        print(f"   FAILED {f}")

    if trace:
        per, table, doc = layers.analyse(workload, res, STEP_SPANS)
        traced, _, _ = end_to_end(workload, res, census, "traced")
        over = traced["job_p50_s"] - m["job_p50_s"]
        per["trace.overhead_frac"] = over / m["job_p50_s"]
        for k in ("read_p50_ms", "write_p50_ms", "ops_per_s", "bytes_stored_per_user_byte"):
            per[k] = extra[k][0] if k in extra else 0
        doc["overhead"] = {"untraced_job_p50_s": m["job_p50_s"], "traced_job_p50_s": traced["job_p50_s"]}
        tdir = os.path.join(BUILD, "traces")
        os.makedirs(tdir, exist_ok=True)
        tpath = os.path.join(tdir, f"{workload}-s{seed}.json")
        with open(tpath, "w") as f:
            json.dump(doc, f)
        print(f"   tracing overhead: job_p50_s {m['job_p50_s']:.4f} -> {traced['job_p50_s']:.4f} s "
              f"({100 * per['trace.overhead_frac']:+.1f}%)   spans: {tpath}")
        print(f"   {'layer':<26} {'spans':>6} {'total ms/iter':>14} {'self ms/iter':>13}")
        for layer, c, tot, own in table:
            print(f"   {layer:<26} {c:>6} {tot:>14.1f} {own:>13.1f}")
        for k in sorted(per):
            print(f"   {k:<28} {per[k]:>14.2f} {PER_LAYER_UNITS[k]}")
        metrics = {k: {"value": per[k], "unit": PER_LAYER_UNITS[k]} for k in sorted(per)}
    shutil.rmtree(rundir, ignore_errors=True)
    return attempted, failures, metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ("all",), default="all")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("src/main/scala not found: this must run from a graft checkout")
    cores = len(os.sched_getaffinity(0))
    main_src, main_out, cp = build()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    attempted, failures, metrics = 0, [], {}
    for w in names:
        n, f, m = run_workload(w, a.seed, a.seconds, a.trace, cp, main_src, main_out, cores)
        attempted += n
        failures += f
        metrics.update(m if len(names) == 1 else {f"{w}.{k}": v for k, v in m.items()})
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

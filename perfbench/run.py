#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (into .bench_build/), then every run:
  1. generates the workload's seeded corpus (cached, not timed);
  2. starts one fresh JVM that sets up a SparkSession with the inputs
     registered, runs the workload's gates in a closed loop (see
     harness/.../Harness.scala) and writes its raw records and, from the
     untimed burn-in pass, every gate's output;
  3. checks every gate's output against its DuckDB oracle;
  4. prints every metric with its unit, then one JSON line.
With --trace 0 the JSON carries the end-to-end metrics, with --trace 1
the per-layer metrics. See perfbench/README.md.
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
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(BUILD, "harness", "scala-2.13", "classes")
SPARK_JARS = os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars")
DEADLINE_S = 60            # per gate execution
RUN_BUDGET_S = 170         # the whole run, build excluded
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_hash(dirs):
    h = hashlib.sha256()
    for d in dirs:
        for base, subdirs, files in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target",))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".py")):
                    p = os.path.join(base, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the engine and the harness once per source state."""
    stamp = os.path.join(BUILD, "build.stamp")
    want = source_hash([os.path.join(ROOT, "src", "main"), HARNESS])
    if os.path.exists(stamp) and open(stamp).read() == want and \
            os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = " ".join(
        ["-Xmx2g", "-Dsbt.server.forcestart=false", "-Dsbt.offline=true"] +
        ([f"-Dsbt.override.build.repos=true",
          f"-Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []))
    log("perfbench: building engine and harness (sbt compile)")
    t = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=600).returncode
    if rc != 0:
        sys.exit(f"perfbench: build failed (rc {rc}), see {BUILD}/build.log")
    with open(stamp, "w") as f:
        f.write(want)
    log(f"perfbench: built in {time.time() - t:.0f} s")


def steal_seconds():
    """Host CPU steal so far, summed over CPUs (USER_HZ = 100)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / 100.0


def jvm(args, tmp, timeout):
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp",
           f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Harness"] + args + [
           "--t0-ms", repr(time.time() * 1e3)]
    return subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                          stdin=subprocess.DEVNULL, timeout=timeout, cwd=ROOT)


def table_sizes(data):
    import pyarrow.parquet as pq
    return {f[:-8]: (pq.ParquetFile(os.path.join(data, f)).metadata.num_rows,
                     os.path.getsize(os.path.join(data, f)))
            for f in sorted(os.listdir(data)) if f.endswith(".parquet")}


def fmt(v):
    return "n/a" if v is None else (f"{v:.6g}" if isinstance(v, float)
                                     else str(v))


def number(v):
    """Counts stay whole numbers in the JSON line."""
    return int(v) if isinstance(v, float) and v.is_integer() else v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no engine sources (src/main/scala) next to "
                 "perfbench/; run from the root of a full checkout")
    w = WORKLOADS[a.workload]
    build()

    # the corpus is cached per (spec, generator, seed)
    corpus = hashlib.sha256((json.dumps(w["spec"], sort_keys=True) + open(
        gen.__file__).read()).encode()).hexdigest()[:12]
    data = os.path.join(BUILD, "data", f"{a.workload}-{corpus}-{a.seed}")
    gen.generate(w["spec"], a.seed, data)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    tables = sorted(table_sizes(data))
    common = ["--data", data, "--cores", str(cores),
              "--tables", ",".join(tables), "--scratch",
              os.path.join(run_dir, "spark")]
    try:
        report(a, w, data, run_dir, common, cores)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(a, w, data, run_dir, common, cores):
    """Run the JVMs, check the outputs and print the metrics."""
    t_start = time.time()
    deadline = t_start + RUN_BUDGET_S
    steal0 = steal_seconds()
    try:
        r = jvm(["--out", run_dir, "--gates",
                 ",".join(w["gates"]), "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--deadline-s", str(DEADLINE_S)] + common,
                os.path.join(run_dir, "tmp"), deadline - time.time())
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded {RUN_BUDGET_S} s")
    if r.returncode != 0:
        sys.exit(f"perfbench: harness JVM failed (rc {r.returncode})")
    steal = steal_seconds() - steal0
    t_jvm = time.time()
    with open(os.path.join(run_dir, "records.json")) as f:
        rec = json.load(f)
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        sql = json.load(f)

    checked = oracle.check(
        data, os.path.join(run_dir, "check"), sql,
        os.path.join(BUILD, "oracle", os.path.basename(data)), w["gates"])
    log(f"perfbench: JVMs {t_jvm - t_start:.1f} s, oracle check "
        f"{time.time() - t_jvm:.1f} s")
    # the burn-in pass wrote the outputs; a gate whose output is missing
    # or wrong counts as one more failed execution
    attempted = len(rec["execs"])
    bad_out = [g for g in w["gates"] if not checked[g][0]]
    failed = sum(1 for x in rec["execs"] if not x["ok"]) + sum(
        1 for x in rec["execs"]
        if x["pass"] == 1 and x["ok"] and x["gate"] in bad_out)

    e2e, extra = metrics.end_to_end(rec, len(w["gates"]))
    e2e["failed_frac"] = failed / attempted
    units = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
             "query_p50_s": "s", "query_geomean_s": "s", "query_tail_s": "s",
             "batch_p50_s": "s",
             "batch_tail_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB"}
    layer, selftest_ok = {}, True
    if a.trace:
        layer = metrics.per_layer(
            rec, {g: checked[g][1] for g in w["gates"]})
        layer["steal_s"] = steal
        st = rec["selftest"]
        selftest_ok = metrics.selftest_ok(st["count_s"], st["noop_s"])
    lunits = {k: ("s" if k.endswith("_s") else "MB" if k.endswith("_mb")
                  else "ratio" if k in ("slot_util", "pair_yield",
                                        "trace_overhead") else "count")
              for k in layer}

    # self-description: the run's context, then every metric with its unit
    p = print
    p(f"workload {a.workload}  seed {a.seed}  cores {cores}  "
      f"trace {a.trace}  harness {source_hash([HERE])}")
    for t, (rows, size) in table_sizes(data).items():
        p(f"input {t}: {rows} rows, {size} bytes")
    p(f"passes completed: cold 1, burn-in 1, measured "
      f"{len(rec['passes']) - metrics.MEASURED}"
      + (" (traced and untraced alternate)" if a.trace else ""))
    p(f"gate executions attempted {attempted}, failed {failed}")
    for x in rec["execs"]:
        if not x["ok"]:
            p(f"  failed execution: {x['gate']} pass {x['pass']}: "
              f"{x['error']}")
    for g in bad_out:
        p(f"  output check failed: {g}: {checked[g][2]}")
    for g in w["gates"]:
        lat = {x["pass"]: (x["action"][1] - x["build"][0]) / 1e3
               for x in rec["execs"] if x["gate"] == g and x["ok"]}
        warm = [v for k, v in lat.items() if k >= metrics.MEASURED]
        p(f"gate {g}: cold {fmt(lat.get(0))} s, warm median "
          f"{fmt(metrics.median(warm))} s, "
          f"output {checked[g][1]} rows, "
          f"oracle {'ok' if checked[g][0] else 'FAILED'}")
    p("deadlined gates: " + (", ".join(sorted(
        {x["gate"] for x in rec["execs"] if x["deadlined"]})) or "none"))
    p(f"steal_s {steal:.3f} s")
    if a.trace:
        p(f"noop-vs-count self-test: count() {st['count_s']:.3f} s, noop "
          f"{st['noop_s']:.3f} s: {'pass' if selftest_ok else 'FAIL'}")
        for k, v in layer.items():
            p(f"{k} {fmt(v)} {lunits[k]}")
        chosen = {k: (layer[k], lunits[k]) for k in PER_LAYER}
    else:
        for k, v in e2e.items():
            p(f"{k} {fmt(v)} {units[k]}")
        for name, t in (("query_tail_s", extra["query_tail"]),
                        ("batch_tail_s", extra.get("batch_tail"))):
            if t:
                p(f"  {name} is p{t[0]:g} of n={t[2]}")
        chosen = {k: (e2e[k], units[k]) for k in END_TO_END}
    print(json.dumps({
        "correct": failed == 0 and selftest_ok, "attempted": attempted,
        "failed": failed, "metrics": {k: {"value": number(v), "unit": u}
                                      for k, (v, u) in chosen.items()}}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark driver: builds the engine from source, generates a
workload's inputs from the seed, runs it in one JVM, checks the outputs and
prints one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the repository root. `--trace 0` prints the end-to-end metrics;
`--trace 1` registers the job/stage listener, writes the span file and
prints the per-layer metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks    # noqa: E402
import datagen   # noqa: E402
import metrics   # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def require_sources():
    """The benchmark builds the engine from the checkout it runs in."""
    missing = [p for p in ("build.sbt", "src/main/scala/graft/SparkEntry.scala")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"engine sources not found in {ROOT} (missing {', '.join(missing)}); "
            "run from the repository root")
        sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt (offline) once per source state;
    returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and os.path.isdir(cp.split(os.pathsep)[0]):
                return cp
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=780)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        log(f"build failed (see {BUILD}/build.log)")
        sys.exit(3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def harness(cp, args, work):
    """Run perfbench.Harness in its own JVM; returns its result dict."""
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Harness", "--work", work] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, MALLOC_ARENA_MAX="8")
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"harness timed out after {JVM_TIMEOUT_S}s (see {work}/jvm.log)")
            sys.exit(4)
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        log(f"harness failed with exit code {rc} (see {work}/jvm.log)")
        sys.exit(4)
    with open(res_path) as f:
        return json.load(f)


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def catalog_failures(ops, verdicts):
    """Executions that threw, plus every execution of a query whose output
    check failed."""
    bad = {n for n, v in verdicts.items() if not v["ok"]}
    return sum(1 for o in ops if not o["ok"] or o["name"] in bad)


def medallion_failures(ops, truth, final_checks):
    """(failed batches, counter mismatches). A batch fails when it threw,
    when a counter it observed differs from the generator's truth (landed
    rows always; the rest in traced runs), or when any final-state check
    failed, since that state is the product of every batch."""
    final_bad = any(v is not None for v in final_checks.values())
    failed, mismatches = 0, []
    for o in ops:
        t = truth[o["batch"] - 1]
        wrong = {k: [o[k], t[k]] for k in t if k in o and o[k] != t[k]}
        if wrong:
            mismatches.append({"batch": o["batch"], "wrong": wrong})
        if not o["ok"] or wrong or final_bad:
            failed += 1
    return failed, mismatches


def run_catalog(cp, name, seed, trace, work):
    spec = workloads.WORKLOADS[name]
    setup_start_ms = time.time() * 1000
    data = os.path.join(work, "data")
    datagen.catalog_tables(data, seed, spec["sf"])
    result = harness(cp, ["--workload", name, "--data", data, "--trace", str(trace), "--cpus", str(workloads.CPUS),
                          "--queries", ",".join(spec["queries"]),
                          # traced runs add a pass (see Catalog.run)
                          "--passes", str(spec["passes"] + trace)], work)
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    verdicts = checks.check_catalog(data, os.path.join(work, "out"), oracle, spec["queries"])
    failed = catalog_failures(result["ops"], verdicts)
    detail = {"checks": verdicts, "contended": result["contended"],
              "passes": [{k: p[k] for k in ("pass", "wall_s", "probe_ms", "pprobe_ms")}
                         for p in result["passes"]]}
    return result, setup_start_ms, len(result["ops"]), failed, detail


def run_medallion(cp, name, seed, trace, work):
    spec = workloads.WORKLOADS[name]
    setup_start_ms = time.time() * 1000
    truth = datagen.medallion_drops(os.path.join(work, "drops"), seed, spec["batches"],
                                    spec["rows_per_bank"])
    result = harness(cp, ["--workload", name, "--trace", str(trace), "--cpus", str(workloads.CPUS),
                          "--batches", str(spec["batches"]),
                          "--warmup", str(spec["warmup"])], work)
    failed, mismatches = medallion_failures(result["ops"], truth, result["checks"])
    detail = {"final_checks": result["checks"], "count_mismatches": mismatches,
              "contended": result["contended"],
              "batches": [{k: o[k] for k in ("batch", "wall_s", "probe_ms", "pprobe_ms")}
                          for o in result["ops"]]}
    return result, setup_start_ms, len(result["ops"]), failed, detail


def main(argv=None):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    require_sources()
    cp = build()
    work = fresh_dir(os.path.join(BUILD, "work", a.workload))
    runner = run_medallion if a.workload == "medallion_incremental" else run_catalog
    result, setup_start_ms, attempted, failed, detail = runner(
        cp, a.workload, a.seed, a.trace, work)
    for o in result["ops"]:
        if "module" in o:
            o["module"] = workloads.layer_module(o["name"], o["module"])
    if a.trace:
        spans = []
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(l) for l in f]
        values = metrics.per_layer(result, spans)
        notes = {"span_file": os.path.relpath(os.path.join(work, "spans.jsonl"), ROOT)}
    else:
        values, notes = metrics.end_to_end(result, setup_start_ms)
    detail["failed_frac"] = failed / attempted if attempted else 1.0
    # The measured work is fixed (passes, batches), sized to about `--seconds`
    # on 4 cores, so that runs on one host stay comparable.
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "notes": notes, "detail": detail,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))


if __name__ == "__main__":
    main()

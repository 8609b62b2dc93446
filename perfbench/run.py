#!/usr/bin/env python3
"""graft's benchmark: two workloads, end-to-end and per-layer metrics.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload etl-sf01 --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source on first use (into
$CARGO_TARGET_DIR, default .bench_build), wipes the run's state, runs one
JVM at local[nproc], checks every output against the digests pinned in
perfbench/pins/digests.json, and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

`--mode pin` runs and digests every query of the workload once instead
of timing its core, and prints the digests the pins are taken from;
`--mode profile` also runs one traced pass over every query, to measure
the per-query costs the cores are chosen from (see perfbench/pin.py).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.join("src", "main", "scala")
FIXTURES = os.path.join(BENCH, "data", "sf0.1")
WORKLOADS = ("etl-sf01", "index-sf01")
RUN_TIMEOUT_S = 170
HEAP = "3g"
END_TO_END = (("wall_s", "s"), ("query_gmean_s", "s"), ("cpu_s", "s"), ("setup_s", "s"))
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"perfbench: run from the root of a graft checkout ({ENGINE_SRC} not found)")
    found = []
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def build(build_dir, jars):
    """Compiles the engine and the harness with scalac when any source changed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"building {len(srcs)} sources")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", cp, "@" + argfile]
    if subprocess.run(cmd).returncode != 0:
        sys.exit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, classes, jars, work, out):
    launch_ms = int(time.time() * 1000)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    # The heap is fixed at its full size from the start: a heap that grows
    # as the run goes kept each timed pass ~10 % faster than the one before.
    jvm = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in JDK_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(work, 'local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--mode", args.mode, "--launch-ms", str(launch_ms),
            "--work", work, "--out", out, "--data", FIXTURES]
    proc = subprocess.Popen(jvm, cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S if args.mode == "run" else None)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: harness exited with code {code}")
    with open(out) as f:
        return json.load(f)


def check(res, pins):
    """Per query: ok, or why not. A missing pin is unchecked, never ok."""
    expected = pins.get(res["workload"], {})
    verdict = {}
    for q in res["order"]:
        got = res["digests"].get(q)
        want = expected.get(q)
        if q in res["failures"]:
            verdict[q] = "failed: " + res["failures"][q]
        elif got is None:
            verdict[q] = "failed: no digest"
        elif want is None:
            verdict[q] = "unchecked: no pinned digest"
        elif got["rows"] != want["rows"]:
            verdict[q] = f"wrong: {got['rows']} rows, pinned {want['rows']}"
        elif want["hash"] is not None and got["hash"] != want["hash"]:
            verdict[q] = f"wrong: content hash {got['hash']}, pinned {want['hash']}"
        else:
            verdict[q] = "ok"
    return verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mode", choices=("run", "pin", "profile"), default="run")
    ap.add_argument("--out", help="also write the harness's full result record here")
    args = ap.parse_args()

    jars = spark_jars()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir, jars)
    work = os.path.join(build_dir, "run-" + args.workload)
    out = os.path.join(build_dir, f"result-{args.workload}.json")
    if os.path.exists(out):
        os.remove(out)
    res = run_jvm(args, classes, jars, work, out)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
    if args.mode != "run":
        print(json.dumps(res, sort_keys=True))
        return
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        os.replace(spans, os.path.join(build_dir, f"spans-{args.workload}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(BENCH, "pins", "digests.json")) as f:
        pins = json.load(f)
    verdict = check(res, pins)
    bad = {q: v for q, v in verdict.items() if v != "ok"}
    for q, v in sorted(bad.items()):
        log(f"{q}: {v}")
    if args.trace:
        layers = res["layers"]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers["metrics"].items())}
        if layers["timed_writes_by_query"]:
            log("artifact writes in the timed pass: " + json.dumps(layers["timed_writes_by_query"]))
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END}
    log(f"{res['passes']} timed pass(es) over {len(res['order'])} queries: {' '.join(res['order'])}")
    print(json.dumps({"correct": not bad, "attempted": len(verdict), "failed": len(bad),
                      "metrics": metrics}))


def unit_of(name):
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_frac"):
        return "fraction"
    return "count"


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Re-takes the benchmark's pinned output digests.

Run from the root of a graft checkout, on a tree that is known good, in
two steps:

    python3 perfbench/pin.py oracle   # gate: every output vs DuckDB
    python3 perfbench/pin.py pins     # write pins/digests.json

`oracle` runs graft.Verify over the sf0.1 fixtures and compares every
output with its DuckDB oracle (scripts/check.py); it exits non-zero on
any mismatch. At sf0.1 the oracle's XXH64 and k-means replays make this
step take about half an hour on 4 cores. Run `pins` only after `oracle`
passed on the same tree.

`pins` runs every query of each workload twice (`run.py --mode pin`).
A digest that repeats is pinned. A query whose row count repeats but
whose content hash does not is pinned with a null hash, checked on its
row count only, and listed at the end; a query whose row count moves is
an error.

    python3 perfbench/pin.py cores    # write pins/costs.json, print cores

`cores` measures every query's warm cost twice per workload (`run.py
--mode profile`: wall time and jobs of a traced pass after a warmup
pass), writes the means to pins/costs.json, and prints the core each
workload's runs should time (`Workloads.Cores`) with the share of the
workload's time and jobs it covers.
"""
import json
import os
import shutil
import subprocess
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

PINS = os.path.join(run.BENCH, "pins")
CORE_SIZES = {"etl-sf01": 8, "index-sf01": 4}


def pin_run(workload, seed, build_dir, mode="pin"):
    out = os.path.join(build_dir, f"{mode}-{workload}-{seed}.json")
    cmd = [sys.executable, os.path.join(run.BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--mode", mode, "--out", out]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    with open(out) as f:
        res = json.load(f)
    if res["failures"]:
        sys.exit(f"pin: {workload} seed {seed} failed: {res['failures']}")
    return res


def oracle(classes, jars, build_dir):
    """graft.Verify + scripts/check.py over the fixtures; exits unless all match."""
    out_dir = os.path.join(build_dir, "verify-sf0.1")
    shutil.rmtree(out_dir, ignore_errors=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g"]
    for p in run.JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(run.BENCH, 'log4j2.properties')}",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "graft.Verify",
            run.FIXTURES, out_dir]
    subprocess.run(cmd, check=True)
    subprocess.run([sys.executable, os.path.join("scripts", "check.py"), run.FIXTURES, out_dir], check=True)


def compare(a, b, label):
    """Pinned digests for the queries of two pin runs; an unstable hash pins as null."""
    pinned = {}
    for q, d in a["digests"].items():
        e = b["digests"][q]
        if d["rows"] != e["rows"]:
            sys.exit(f"pin: {label} {q} row count moved between runs ({d['rows']} vs {e['rows']})")
        pinned[q] = d if d["hash"] == e["hash"] else {"rows": d["rows"], "hash": None}
    return pinned


def pins(build_dir):
    digests = {}
    for w in run.WORKLOADS:
        digests[w] = compare(pin_run(w, 1, build_dir), pin_run(w, 2, build_dir), w)
    with open(os.path.join(PINS, "digests.json"), "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    unstable = sorted(q for v in digests.values() for q, p in v.items() if p["hash"] is None)
    print("content hash differs between two runs of the same code (checked on rows only): "
          + (", ".join(unstable) or "none"))


def choose(costs, k):
    """A core of k queries, sampled by module and warm cost.

    Each module gets a share of the k slots in proportion to its share of
    the workload's warm time (largest remainder, at least one slot). In a
    module with s slots, its queries are laid end to end by cost, and the
    core takes the query under the middle of each of s equal stretches
    of time. So a query's chance to be timed follows its share of the
    module's time, and the core's costs spread the way the workload's
    time does.
    """
    by_module = defaultdict(list)
    for q, c in costs.items():
        by_module[c["module"]].append(q)
    total = sum(c["wall_s"] for c in costs.values())
    quota = {m: sum(costs[q]["wall_s"] for q in qs) / total * k for m, qs in by_module.items()}
    slots = {m: max(1, int(v)) for m, v in quota.items()}
    while sum(slots.values()) < k:
        slots[max(quota, key=lambda m: quota[m] - slots[m])] += 1
    while sum(slots.values()) > k:
        slots[min((m for m in slots if slots[m] > 1), key=lambda m: quota[m] - slots[m])] -= 1
    core = []
    for m, qs in sorted(by_module.items()):
        qs = sorted(qs, key=lambda q: (costs[q]["wall_s"], q))
        total_m = sum(costs[q]["wall_s"] for q in qs)
        targets = [(i + 0.5) / slots[m] * total_m for i in range(slots[m])]
        start = 0.0
        for q in qs:
            end = start + costs[q]["wall_s"]
            hits = sum(start <= t < end for t in targets)
            if hits > 1:
                sys.exit(f"pin: {q} alone takes over 1/{slots[m]} of {m}'s time; give {m} fewer slots")
            if hits:
                core.append(q)
            start = end
    return sorted(core)


def cores(build_dir):
    costs = {}
    for w in run.WORKLOADS:
        runs = [pin_run(w, seed, build_dir, "profile")["profile"] for seed in (1, 2)]
        costs[w] = {q: {"module": p["module"],
                        "wall_s": round(sum(r[q]["wall_s"] for r in runs) / len(runs), 4),
                        "jobs": sum(r[q]["jobs"] for r in runs) / len(runs)}
                    for q, p in sorted(runs[0].items())}
    with open(os.path.join(PINS, "costs.json"), "w") as f:
        json.dump(costs, f, indent=1, sort_keys=True)
        f.write("\n")
    for w, c in costs.items():
        core = choose(c, CORE_SIZES[w])
        share = {k: sum(c[q][k] for q in core) / sum(x[k] for x in c.values()) for k in ("wall_s", "jobs")}
        print(f"{w}: {len(core)} of {len(c)} queries, {share['wall_s']:.1%} of warm time, "
              f"{share['jobs']:.1%} of jobs: {', '.join(core)}")


def main():
    if sys.argv[1:] not in (["oracle"], ["pins"], ["cores"]):
        sys.exit("usage: pin.py oracle|pins|cores")
    jars = run.spark_jars()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = run.build(build_dir, jars)
    if sys.argv[1] == "oracle":
        oracle(classes, jars, build_dir)
    elif sys.argv[1] == "pins":
        pins(build_dir)
    else:
        cores(build_dir)


if __name__ == "__main__":
    main()

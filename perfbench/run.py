"""Benchmark of the graft engine, run from the root of a checkout:

    python3 perfbench/run.py --workload driver-loop --seed 1 --seconds 5 --trace 0

Builds the program from source (perfbench/build.py), starts one JVM with
SPARK_GRAFT_CPUS = nproc and a heap derived from MemTotal, and drives the
workload as one closed-loop client over the fixture in perfbench/data
that perfbench/panel/panels.json names. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
of BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1).

Each run also writes its stamped record (raw samples, checks, session
settings, load average) to <build dir>/records/; perfbench/compare.py
compares two sets of such records.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import lib  # noqa: E402

# Wall-clock limit of one run (the build of a fresh checkout is extra).
RUN_LIMIT_S = 170.0

JAVA_OPTS = [
    "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m", "-XX:+AlwaysPreTouch",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def load_json(name):
    with open(os.path.join(BENCH, name)) as f:
        return json.load(f)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb():
    """A quarter of MemTotal, between 2 and 6 GiB: the host is shared and
    has no swap, so the JVM takes a fixed, pre-touched share of it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(6, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration):
        return 2


def git_sha(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def jvm_args(workload, seed, seconds, trace, work, panels):
    w = panels["workloads"][workload]
    data = os.path.join(BENCH, "data", panels["data"])
    if w["kind"] == "lake":
        return ["lake", f"data={data}", f"lake={os.path.join(work, 'lake')}",
                f"seed={seed}", f"cycles={w['cycles']}",
                f"seconds={seconds}", f"trace={trace}",
                "market=" + ",".join(map(str, w["market_summary"])),
                "corpus=" + ",".join(map(str, w["corpus_summary"]))]
    if workload == "single-plan":
        ids = lib.draw_panel(panels["single_plan_pool"], seed, w["size"],
                             panels["carriers"], w["carrier_ops"])
    else:
        ids = lib.seeded_order(w["ids"], seed)
    expected = os.path.join(work, "expected.tsv")
    with open(expected, "w") as f:
        for i in ids:
            rows, fp = panels["expected"][i]
            f.write(f"{i}\t{rows}\t{fp}\n")
    carriers = os.path.join(work, "carriers.tsv")
    with open(carriers, "w") as f:
        for i in ids:
            f.write(f"{i}\t{','.join(panels['carriers'].get(i, []))}\n")
    return ["registry", f"data={data}", "ids=" + ",".join(ids),
            f"rounds={w['rounds']}", f"warm_max_s={w['warm_max_s']}",
            f"seconds={seconds}", f"trace={trace}", f"expected={expected}",
            f"carriers={carriers}"]


def run_jvm(cp, args, work, deadline):
    heap = f"{heap_gb()}g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores())
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = (["java", f"-Xmx{heap}", f"-Xms{heap}", f"-Djava.io.tmpdir={tmp}"] + JAVA_OPTS
           + ["-cp", os.pathsep.join(cp), "perfbench.Main"] + args)
    log_path = os.path.join(work, "jvm.log")
    spawn = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: run exceeded its time limit")
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    return spawn, heap


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.time()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    panels = load_json("panel/panels.json")
    if a.workload not in panels["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")

    load_before = os.getloadavg()
    first_build = not os.path.exists(os.path.join(build.build_dir(root), "build.stamp"))
    cp = build.build(root)
    # a run may take RUN_LIMIT_S; the first run in a checkout also builds
    deadline = (time.time() if first_build else t_start) + RUN_LIMIT_S

    work = os.path.join(build.build_dir(root), f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = jvm_args(a.workload, a.seed, a.seconds, a.trace, work, panels)
        args.append(f"out={os.path.join(work, 'record.json')}")
        spawn, heap = run_jvm(cp, args, work, deadline)
        with open(os.path.join(work, "record.json")) as f:
            rec = json.load(f)
    finally:
        keep = os.path.join(work, "jvm.log")
        if os.path.exists(keep):
            os.makedirs(os.path.join(build.build_dir(root), "logs"), exist_ok=True)
            shutil.move(keep, os.path.join(build.build_dir(root), "logs",
                                           f"{a.workload}-{a.seed}-{a.trace}.log"))
        shutil.rmtree(work, ignore_errors=True)

    e2e = lib.end_to_end(rec, spawn, lib.host_factor(rec))
    attempted, failed = lib.counts(rec)
    checks_ok = all(c["ok"] for c in rec.get("checks", []))
    correct = failed == 0 and checks_ok
    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = lib.per_layer(rec, names)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        values = e2e
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    metrics = {n: {"value": values[n], "unit": units[n]} for n in names}

    rec["stamp"] = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_sha": git_sha(root), "src_sha256": build.source_hash(root),
        "cores": cores(), "xmx": heap,
        "codegen_cache_env": os.environ.get("SPARK_GRAFT_CODEGEN_CACHE"),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "spawn_s": spawn, "at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    rec["end_to_end"] = e2e
    rec["end_to_end_raw"] = lib.end_to_end(rec, spawn, 1.0)
    rec["correct"] = correct
    out_dir = os.path.join(build.build_dir(root), "records")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(rec, f)

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

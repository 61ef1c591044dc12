"""Panel census: assign every registry id to a workload by what it was
observed to do, and record why.

    python3 perfbench/census.py run      # two traced passes, ~30-60 min
    python3 perfbench/census.py derive   # census.jsonl -> panels.json

`run` builds the program and runs perfbench.Main census over all ids on
the benchmark's fixture (panels.json "data"): per id and pass, the build wall and the jobs started
while the DataFrame is built, the execute wall and its jobs, the output
fingerprint and the shared operators that built part of its plans. It
writes perfbench/panel/census.jsonl.

`derive` reads that file (the last pass is the warm one) and rewrites the
id assignment, the expected outputs and the operator carriers in
perfbench/panel/panels.json, keeping its workload settings:

  driver-loop pool  at least 3 build jobs and most of the wall spent building
  single-plan pool  at most 2 build jobs and a warm wall inside the pool band
                    (panels.json single-plan "pool_band_s")
  neither           the rest, with the reason

An id is never dropped for failing: a failure is recorded and the id keeps
its assignment, so it counts as a failed call wherever it is drawn.
"""

import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

CENSUS = os.path.join(BENCH, "panel", "census.jsonl")
PANELS = os.path.join(BENCH, "panel", "panels.json")
# The second pass is the warm one the assignment reads; comparing it with
# the first shows which counts repeat.
PASSES = 2


def run():
    import build
    import run as bench
    root = os.getcwd()
    with open(PANELS) as f:
        data = json.load(f)["data"]
    cp = build.build(root)
    tmp = os.path.join(build.build_dir(root), "census-tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = f"{bench.heap_gb()}g"
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(bench.cores()), SPARK_LOCAL_DIRS=tmp)
    cmd = (["java", f"-Xmx{heap}", f"-Xms{heap}", f"-Djava.io.tmpdir={tmp}"] + bench.JAVA_OPTS
           + ["-cp", os.pathsep.join(cp), "perfbench.Main", "census",
              f"data={os.path.join(BENCH, 'data', data)}", f"out={CENSUS}",
              f"passes={PASSES}"])
    subprocess.run(cmd, env=env, check=True)


def derive():
    recs = [json.loads(l) for l in open(CENSUS)]
    last = max(r["pass"] for r in recs)
    by_id = {}
    for r in recs:
        by_id.setdefault(r["id"], {})[r["pass"]] = r
    with open(PANELS) as f:
        panels = json.load(f)
    floor_s, cap_s = panels["workloads"]["single-plan"]["pool_band_s"]

    assign, pool, expected, carriers, unsteady = {}, [], {}, {}, []
    for i, passes in sorted(by_id.items()):
        r = passes.get(last) or passes[max(passes)]
        seen = {(p["build_jobs"], p["exec_jobs"], p["rows"], p["fp"]) for p in passes.values()}
        if len(seen) > 1:
            unsteady.append(i)
        wall = max(r["build_s"], 0) + max(r["exec_s"], 0)
        bj = r["build_jobs"]
        if r["error"]:
            why = f"failed in the census ({r['error'][:120]}); kept by its {bj} build jobs"
        else:
            why = ""
        if bj >= 3 and r["build_s"] >= r["exec_s"]:
            w = "driver-loop"
            why = why or (f"{bj} build jobs, {r['build_s']:.2f} s building vs "
                          f"{r['exec_s']:.2f} s executing")
        elif bj <= 2 and floor_s <= wall <= cap_s:
            w = "single-plan"
            why = why or f"{bj} build jobs, {wall:.2f} s warm wall"
            pool.append({"id": i, "module": r["module"], "wall_s": round(wall, 4)})
        else:
            w = "neither"
            why = why or (f"{bj} build jobs but executing dominates "
                          f"({r['build_s']:.2f} s vs {r['exec_s']:.2f} s)" if bj >= 3
                          else f"{bj} build jobs but {wall:.2f} s warm wall is outside the "
                               f"{floor_s}-{cap_s} s pool band")
        assign[i] = {"workload": w, "why": why, "module": r["module"],
                     "build_jobs": bj, "exec_jobs": r["exec_jobs"],
                     "build_s": round(r["build_s"], 4), "exec_s": round(r["exec_s"], 4)}
        expected[i] = [r["rows"], r["fp"]]
        if r["ops"]:
            carriers[i] = r["ops"]

    panels.update({"assignment": assign, "single_plan_pool": pool,
                   "expected": expected, "carriers": carriers,
                   "census": {"passes": last, "ids": len(by_id), "unsteady_ids": unsteady}})
    with open(PANELS, "w") as f:
        json.dump(panels, f, indent=1, sort_keys=True)
        f.write("\n")
    counts = {}
    for a in assign.values():
        counts[a["workload"]] = counts.get(a["workload"], 0) + 1
    print(f"census: {len(by_id)} ids, {counts}, unsteady: {unsteady}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("step", choices=("run", "derive"))
    a = ap.parse_args(argv)
    if a.step == "run":
        run()
    else:
        derive()
    return 0


if __name__ == "__main__":
    sys.exit(main())

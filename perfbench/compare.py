"""Compare two sets of benchmark run records.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are each a directory of run records (run.py writes them to
<build dir>/records/) or a single record file. Records are grouped by
workload. For every end-to-end metric (untraced records) and every
per-layer metric (traced records) the command prints each side's median
and quartiles, the fraction of pairs the new side won, and a verdict under
choosing-metrics §8:

  improved      new side wins at least 9 of 10 pairs and the medians differ
                by more than the base side's interquartile distance
  worse         new median worse than the base median by more than the bound
  within bound  neither
  unresolved    the base side's own spread is wider than the bound and not
                every new run reads better than every base run

Pairs are formed by seed where both sides ran the same seeds, otherwise in
run order. Per-layer metrics have no bound in BENCHMARK.json; they are
judged against a bound of 0, so any worse median reads "worse" unless the
spread leaves it unresolved. Counts that repeat exactly on both sides are
reported as counts.

Timings scaled by the run's calibration probe (lib.host_factor) get a
second verdict on the raw walls. When the two sides' probes (jvm.calib_s,
the fastest probe of each run) differ in median by more than either side's
own interquartile distance, the scaled verdict reads "unresolved": the
factor moved, as it would if a change left the CPU busy after its calls,
and only the raw verdict speaks for the program.

It also pools every call of a side into one sample and reports call_p90_s
where at least 10 calls lie beyond the 90th percentile, and the tracing
overhead of each side: its traced panel_s median over its untraced one.
"""

import argparse
import glob
import json
import os
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import lib  # noqa: E402

SPEC = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
# Metrics multiplied by lib.host_factor.
SCALED = {"setup_s", "panel_s", "call_p50_s", "trace.panel_s", "trace.call_p50_s"}


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    recs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "stamp" in r:
            recs.append(r)
    return recs


def pairs(base, new):
    """[(base_value, new_value)] paired by seed, else by order."""
    bs = {r["seed"]: r["v"] for r in base}
    ns = {r["seed"]: r["v"] for r in new}
    common = sorted(set(bs) & set(ns))
    if len(common) >= min(len(base), len(new)) and common:
        return [(bs[s], ns[s]) for s in common]
    return list(zip([r["v"] for r in base], [r["v"] for r in new]))


def values(recs, workload, trace, name, key="end_to_end"):
    """[{"seed", "v"}] of one metric; `key` is "end_to_end" or
    "end_to_end_raw" for untraced records."""
    out = []
    for r in recs:
        st = r["stamp"]
        if st["workload"] != workload or st["trace"] != trace:
            continue
        v = (r.get(key, {}).get(name) if trace == 0
             else lib.per_layer(r, [name])[name])
        if v is not None:
            out.append({"seed": st["seed"], "v": v})
    return out


def judge(base, new, better, bound):
    ps = pairs(base, new)
    sign = 1 if better == "lower" else -1
    wins = sum(1 for b, n in ps if sign * (b - n) > 0)
    bv = [r["v"] for r in base]
    nv = [r["v"] for r in new]
    return lib.verdict(bv, nv, better, bound, wins, len(ps)), wins, len(ps)


def probe_moved(base, new, workload, trace):
    """True when the two sides' calibration probes differ in median by more
    than either side's interquartile distance."""
    def probes(recs):
        return [min(r["calib_s"]) for r in recs
                if r["stamp"]["workload"] == workload and r["stamp"]["trace"] == trace]
    b, n = probes(base), probes(new)
    if not b or not n:
        return False
    (b1, bm, b3), (n1, nm, n3) = lib.quartiles(b), lib.quartiles(n)
    return abs(bm - nm) > max(b3 - b1, n3 - n1)


def fmt(x):
    if x is None:
        return "-"
    return f"{x:.4g}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    a = ap.parse_args(argv)
    with open(SPEC) as f:
        spec = json.load(f)
    base, new = load(a.base), load(a.new)
    rows = []
    for w in [w["name"] for w in spec["workloads"]]:
        for trace, metrics in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            moved = probe_moved(base, new, w, trace)
            for m in metrics:
                b = values(base, w, trace, m["name"])
                n = values(new, w, trace, m["name"])
                if not b or not n:
                    continue
                better, bound = m["better"], m.get("bound", 0.0)
                v, wins, np_ = judge(b, n, better, bound)
                bq = lib.quartiles([r["v"] for r in b])
                nq = lib.quartiles([r["v"] for r in n])
                exact = (len({r["v"] for r in b}) == 1 and len({r["v"] for r in n}) == 1
                         and m["unit"] == "count")
                if exact:
                    v = f"count {fmt(bq[1])} -> {fmt(nq[1])}"
                raw = ""
                if m["name"] in SCALED:
                    if moved:
                        v = "unresolved (probe moved)"
                    rb = values(base, w, trace, m["name"], "end_to_end_raw")
                    rn = values(new, w, trace, m["name"], "end_to_end_raw")
                    if rb and rn:
                        raw = "raw: " + judge(rb, rn, better, bound)[0]
                rows.append({"workload": w, "metric": m["name"], "base_n": len(b),
                             "base": bq, "new_n": len(n), "new": nq,
                             "wins": f"{wins}/{np_}", "verdict": v, "raw": raw})
        for side, recs in (("base", base), ("new", new)):
            plain = lib.median([v["v"] for v in values(recs, w, 0, "panel_s")])
            traced = lib.median([v["v"] for v in values(recs, w, 1, "trace.panel_s")])
            if plain and traced:
                rows.append({"workload": w, "metric": f"tracing overhead ({side})",
                             "value": f"{100.0 * (traced / plain - 1.0):+.1f} %",
                             "note": f"panel_s {plain:.4g} s untraced, {traced:.4g} s traced"})
            calls = [lib.call_s(c) for r in recs
                     if r["stamp"]["workload"] == w and r["stamp"]["trace"] == 0
                     for c in r["calls"]]
            p90 = lib.percentile(calls, 90)
            if calls:
                rows.append({"workload": w, "metric": f"call_p90_s pooled ({side})",
                             "value": fmt(p90), "note": f"n={len(calls)}" + (
                                 "" if p90 else f", fewer than {lib.MIN_BEYOND} calls beyond p90")})
    print(f"{'workload':<12} {'metric':<28} {'base median [q1,q3] (n)':<34} "
          f"{'new median [q1,q3] (n)':<34} {'wins':<6} verdict")
    for r in rows:
        if "value" in r:
            print(f"{r['workload']:<12} {r['metric']:<28} {r['value']:<34} {r['note']}")
            continue
        bq, nq = r["base"], r["new"]
        bs = f"{fmt(bq[1])} [{fmt(bq[0])},{fmt(bq[2])}] ({r['base_n']})"
        ns = f"{fmt(nq[1])} [{fmt(nq[0])},{fmt(nq[2])}] ({r['new_n']})"
        print(f"{r['workload']:<12} {r['metric']:<28} {bs:<34} {ns:<34} {r['wins']:<6} "
              f"{r['verdict']}{'  ' + r['raw'] if r['raw'] else ''}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

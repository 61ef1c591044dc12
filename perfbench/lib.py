"""Pure helpers of the benchmark: statistics, the seeded panel draw and the
metric assembly. No I/O here, so test_perfbench.py can cover it directly."""

import math
import random
import statistics

# Spread rule of the benchmark: a percentile is reported only when at least
# this many samples lie beyond it.
MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        v = xs[0] if xs else None
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def percentile(xs, q):
    """Nearest-rank q-th percentile (0 < q < 100), or None unless at least
    MIN_BEYOND samples lie beyond it."""
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None
    return sorted(xs)[rank - 1]


def draw_panel(pool, seed, size, carriers, ops):
    """Seeded, stratified draw of `size` ids from `pool`, a list of
    {"id", "module", "wall_s"} records.

    The pool is cut into `size` bands of equal count by reference wall time
    and one id is drawn from each band, so every seed's panel costs about
    the same. Each operator in `ops` first takes one band with a drawn
    carrier of it (`carriers` maps an id to the operators it carries), so
    every panel measures those operators. Within the other bands the draw
    prefers a module the panel does not hold yet, which spreads the panel
    over the query modules. The same seed always gives the same panel, in
    the same (seeded) order."""
    rng = random.Random(seed)
    ranked = sorted(pool, key=lambda r: (r["wall_s"], r["id"]))
    size = min(size, len(ranked))
    bands = [ranked[i * len(ranked) // size:(i + 1) * len(ranked) // size]
             for i in range(size)]
    band_of = {r["id"]: b for b, band in enumerate(bands) for r in band}
    chosen = {}
    for op in ops:
        if any(op in carriers.get(r["id"], ()) for r in chosen.values()):
            continue
        cands = [r for r in ranked
                 if op in carriers.get(r["id"], ()) and band_of[r["id"]] not in chosen]
        if cands:
            pick = rng.choice(cands)
            chosen[band_of[pick["id"]]] = pick
    used = {r["module"] for r in chosen.values()}
    for b, band in enumerate(bands):
        if b in chosen:
            continue
        fresh = [r for r in band if r["module"] not in used]
        chosen[b] = rng.choice(fresh or band)
        used.add(chosen[b]["module"])
    panel = [chosen[b]["id"] for b in range(size)]
    rng.shuffle(panel)
    return panel


def seeded_order(ids, seed):
    ids = list(ids)
    random.Random(seed).shuffle(ids)
    return ids


# Seconds the calibration probe (Trace.calibrate: every core runs a fixed
# integer loop) took on the host the benchmark was defined on, 4 cores idle.
CALIB_REF_S = 0.100


def host_factor(rec):
    """Reference probe time over this run's probe time: the fastest of the
    probes taken before, between and after its timed passes, each after a
    full GC with no Spark job running. A run on a host that gives it less
    CPU reads a factor below 1; timings are multiplied by it."""
    return CALIB_REF_S / min(rec["calib_s"])


def end_to_end(rec, spawn_s, k):
    """Metrics a caller of the program sees, from one untraced run record,
    with timings multiplied by `k`: host_factor(rec) for the reported
    metrics, 1 for the raw walls the record keeps beside them."""
    passes = [p["wall_s"] for p in rec["passes"]]
    calls = [call_s(c) for c in rec["calls"]]
    return {
        "setup_s": k * ((rec["t_first_call_ms"] / 1000.0) - spawn_s),
        "panel_s": k * median(passes),
        "call_p50_s": k * median(calls),
        "retained_heap_mb": rec["retained_heap_mb"],
    }


def call_s(c):
    return c["s"] if "s" in c else c["build_s"] + c["exec_s"]


def per_layer(rec, names):
    """Median over the run's passes of each per-layer counter; counters a
    workload does not touch read 0. The traced run's own timings are scaled
    like the end-to-end ones, so they compare with them."""
    out = {}
    for name in names:
        if name == "materialize.blocks_mb":
            out[name] = rec["materialize_blocks_mb"]
        elif name == "jvm.calib_s":
            out[name] = min(rec["calib_s"])
        elif name == "trace.panel_s":
            out[name] = host_factor(rec) * median([p["wall_s"] for p in rec["passes"]])
        elif name == "trace.call_p50_s":
            out[name] = host_factor(rec) * median([call_s(c) for c in rec["calls"]])
        else:
            vals = [p["layers"].get(name, 0.0) for p in rec["passes"]]
            out[name] = median(vals) if vals else 0.0
    return out


def counts(rec):
    """(attempted, failed) for one run record."""
    if rec["kind"] == "lake":
        return rec["attempted"], rec["failed"]
    return len(rec["calls"]), sum(1 for c in rec["calls"] if not c["ok"])


def verdict(base, new, better, bound, wins, pairs):
    """choosing-metrics §8 verdict for one metric: `base` and `new` are the
    two sides' values, `wins` the pairs the new side won out of `pairs`."""
    b1, bm, b3 = quartiles(base)
    nm = median(new)
    if bm is None or nm is None:
        return "unresolved"
    sign = 1.0 if better == "lower" else -1.0
    gain = sign * (bm - nm)            # > 0 when the new side is better
    if pairs and wins >= 0.9 * pairs and gain > b3 - b1:
        return "improved"
    scale = abs(bm) or 1.0
    if (b3 - b1) / scale > bound:
        beats = all(sign * (b - n) > 0 for n in new for b in base)
        return "improved" if beats else "unresolved"
    if -gain / scale > bound:
        return "worse"
    return "within bound"

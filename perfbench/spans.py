"""Derives per-span and per-layer counters from a traced run's raw events.

The driver JVM writes JSON lines of four kinds, all times in epoch ms:
  span  {pass, id, parent, name, layer, start, end, files}
  job   {pass, t}                        (job submission)
  task  {pass, start, end, run_ms, shuffle_bytes}
  plan  {pass, phase, start, end}        (one Catalyst phase of one query)

Events are attributed to spans by time: a job or task belongs to every
span whose interval holds its submission or launch time. From them:

  wall_s        end - start
  self_s        wall minus the part of the interval the child spans cover
  jobs, tasks   counts
  task_s        summed executor run time
  plan_s        time inside the span during which a Catalyst phase ran
  shuffle_mb    shuffle bytes read plus written, in MiB
  output_files  files that appeared under the pass's directories while
                the span or one of its descendants was the last to end
  driver_gap_s  wall minus the time during which a phase ran or at least
                one task was running (overlaps counted once)
"""
import statistics

COUNTERS = ["wall_s", "jobs", "tasks", "task_s", "plan_s", "shuffle_mb",
            "output_files", "driver_gap_s"]

LAYERS = ["features", "ml.kmeans", "export", "ml.sweeps",
          "curation.base", "curation.delta", "similarity.serve",
          "dedup", "relational", "streaming", "multimodal", "io.stats"]


def merge(intervals):
    """Union of (lo, hi) intervals as a sorted list of disjoint ones."""
    out = []
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return [tuple(x) for x in out]


def covered(merged, lo, hi):
    """Length of [lo, hi] covered by already-merged intervals."""
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in merged)


def derive(events):
    """Returns one dict per span with its name, parent, layer, start, end
    and every counter above, for every pass in `events`."""
    by_pass = {}
    for e in events:
        by_pass.setdefault(e["pass"], []).append(e)
    out = []
    for p in sorted(by_pass):
        evs = by_pass[p]
        spans = [e for e in evs if e["type"] == "span"]
        jobs = [e["t"] for e in evs if e["type"] == "job"]
        tasks = [e for e in evs if e["type"] == "task"]
        plans = merge((e["start"], e["end"]) for e in evs if e["type"] == "plan")
        busy = merge([(t["start"], t["end"]) for t in tasks] + list(plans))
        children = {}
        for s in spans:
            children.setdefault(s["parent"], []).append(s)

        def files(s):
            return s["files"] + sum(files(c) for c in children.get(s["id"], []))

        for s in spans:
            lo, hi = s["start"], s["end"]
            wall = (hi - lo) / 1000.0
            kids = merge((c["start"], c["end"]) for c in children.get(s["id"], []))
            mine = [t for t in tasks if lo <= t["start"] < hi]
            out.append({
                "pass": p, "id": s["id"], "parent": s["parent"],
                "name": s["name"], "layer": s["layer"],
                "start": lo, "end": hi,
                "wall_s": wall,
                "self_s": wall - covered(kids, lo, hi) / 1000.0,
                "jobs": sum(1 for t in jobs if lo <= t < hi),
                "tasks": len(mine),
                "task_s": sum(t["run_ms"] for t in mine) / 1000.0,
                "plan_s": covered(plans, lo, hi) / 1000.0,
                "shuffle_mb": sum(t["shuffle_bytes"] for t in mine) / 2.0 ** 20,
                "output_files": files(s),
                "driver_gap_s": wall - covered(busy, lo, hi) / 1000.0,
            })
    return out


def layer_metrics(derived):
    """`<layer>.<counter>` for every layer and counter: the layer's spans
    summed within a pass, then the median over passes. A layer the
    workload never reaches reads 0."""
    passes = sorted({d["pass"] for d in derived})
    per_pass = {p: {} for p in passes}
    for d in derived:
        if d["layer"]:
            acc = per_pass[d["pass"]].setdefault(d["layer"], dict.fromkeys(COUNTERS, 0))
            for c in COUNTERS:
                acc[c] += d[c]
    out = {}
    for layer in LAYERS:
        for c in COUNTERS:
            vals = [per_pass[p].get(layer, {}).get(c, 0) for p in passes]
            out[f"{layer}.{c}"] = statistics.median(vals) if vals else 0
    return out

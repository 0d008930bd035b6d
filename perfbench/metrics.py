"""Reduce one run's raw record (written by graft.bench.Main) to the
benchmark's metrics. Pure functions; perfbench/test_metrics.py tests them."""
import math
import re
import statistics

# (query kind, recall@10 target) of each search_qps metric
SEARCH_TARGETS = (("ood", 0.90), ("ood", 0.95), ("id", 0.90))

# build phases in the order the in-memory builder runs them; where two
# stages of different phases overlap in time, the earlier-listed phase
# owns the overlap
PHASES = ("train_knn", "self_search", "supply_merge", "projection")


def median(xs):
    xs = list(xs)
    if not xs:
        raise ValueError("median of no values")
    return statistics.median(xs)


def qps_at_recall(points, target):
    """QPS at a recall target from a beam-width sweep.

    `points` is [(recall, qps)] in increasing beam width. The first point
    whose recall reaches the target decides: if it is the first point, its
    QPS is returned; otherwise log(QPS) is interpolated linearly in recall
    between it and the point before. Returns 0.0 if no point reaches the
    target."""
    for i, (r, q) in enumerate(points):
        if r >= target:
            if i == 0:
                return float(q)
            r0, q0 = points[i - 1]
            t = (target - r0) / (r - r0)
            return math.exp(math.log(q0) + t * (math.log(q) - math.log(q0)))
    return 0.0


def l_at_recall(points, target):
    """Beam width at which recall first reaches `target`, interpolated
    linearly in log(L) between the bracketing sweep points. `points` is
    [(l, recall)] in increasing l; None if the target is never reached."""
    for i, (l, r) in enumerate(points):
        if r >= target:
            if i == 0:
                return float(l)
            l0, r0 = points[i - 1]
            t = (target - r0) / (r - r0)
            return math.exp(math.log(l0) + t * (math.log(l) - math.log(l0)))
    return None


def outside_tasks_frac(wall_s, task_run_s, cores):
    """Share of a call's wall-clock core capacity not spent running tasks:
    1 - task run time / (wall x cores). Near 1 means the call is bound by
    job latency or driver work; near 0 means every core ran tasks."""
    if wall_s <= 0 or cores <= 0:
        raise ValueError("wall and cores must be positive")
    return 1.0 - task_run_s / (wall_s * cores)


def sweep_points(sweep, tier, kind):
    """[(l, recall, qps)] for one tier and query kind, one entry per beam
    width: recall is deterministic, the wall is the median over rounds."""
    by_l = {}
    for p in sweep:
        if p["tier"] == tier and p["kind"] == kind:
            by_l.setdefault(p["l"], []).append(p)
    out = []
    for l in sorted(by_l):
        ps = by_l[l]
        wall = median(p["wall_s"] for p in ps)
        out.append((l, ps[0]["recall"], ps[0]["queries"] / wall))
    return out


def phase_ranges(builder_source):
    """Line ranges of the in-memory builder's phases, found from the
    section comments of RoarGraphBuilder.scala (so they follow edits).
    Returns [(first_line, phase)] sorted by line; a line belongs to the
    last range starting at or before it."""
    marks = [
        (r"private def learnBaseKnn", "train_knn"),
        (r"private def normalizeIfNeeded", "driver"),
        (r"// ---- phase 1: ", "projection"),
        (r"// ---- phase 2: ", "self_search"),
        (r"val supplyRev = ", "supply_merge"),
        (r"// ---- merge supply into projection", "driver"),
    ]
    out = []
    for n, line in enumerate(builder_source.splitlines(), start=1):
        for pat, phase in marks:
            if re.search(pat, line):
                out.append((n, phase))
    return sorted(out)


def stage_phase(stage, ranges, first_job):
    """The build phase of one Spark stage, from the call sites of its RDDs.
    Stages whose RDDs carry no RoarGraphBuilder call site are SQL stages:
    the one in the build's first job is the base load (driver work), any
    later one is the training-query kNN scan."""
    lines = [int(m.group(1)) for s in stage["sites"]
             for m in [re.search(r"RoarGraphBuilder\.scala:(\d+)", s)] if m]
    if not lines:
        return "driver" if stage.get("job") == first_job else "train_knn"
    found = set()
    for ln in lines:
        phase = "driver"
        for start, p in ranges:
            if start <= ln:
                phase = p
        found.add(phase)
    for p in PHASES:
        if p in found:
            return p
    return "driver"


def build_phases(call, ranges):
    """Split one traced in-memory build into phase walls and task CPU.
    Wall time is attributed on a timeline: each instant goes to the
    highest-priority phase with a running stage, and instants with no
    running stage are the driver remainder, so the walls add up to the
    call's wall."""
    stages = call.get("stages", [])
    first_job = min((s.get("job", 0) for s in stages), default=0)
    tagged = [(s, stage_phase(s, ranges, first_job)) for s in stages]
    cpu = {p: 0.0 for p in PHASES + ("driver",)}
    for s, p in tagged:
        cpu[p] += s["cpu_s"]
    t0 = call["start_ms"]
    t1 = t0 + call["wall_s"] * 1e3
    cuts = sorted({t0, t1} | {min(max(x, t0), t1) for s, _ in tagged
                              for x in (s["start_ms"], s["end_ms"])})
    wall = {p: 0.0 for p in PHASES}
    for a, b in zip(cuts, cuts[1:]):
        active = {p for s, p in tagged if s["start_ms"] <= a and s["end_ms"] >= b}
        for p in PHASES:
            if p in active:
                wall[p] += (b - a) / 1e3
                break
    wall["driver"] = call["wall_s"] - sum(wall[p] for p in PHASES)
    return wall, cpu


def _sum(call, key):
    return sum(s[key] for s in call.get("stages", []))


def measured(calls):
    """The calls of the timed loop and after: warm-up calls (the first
    build, the ground-truth join, the untimed rounds) count in set-up."""
    return [c for c in calls if not c.get("warmup", False)]


def end_to_end(raw):
    """The end-to-end metrics of one untraced run."""
    calls = measured(raw["calls"])
    m = {
        "setup_s": (raw["session_s"] + median(raw["setup_reps_s"]) + raw["warmup_s"], "s"),
        "build_s": (median(c["wall_s"] for c in calls if c["layer"] == "roargraph.build"), "s"),
    }
    for kind, target in SEARCH_TARGETS:
        pts = sweep_points(raw["sweep"], "memory", kind)
        name = f"search_qps_r{int(round(target * 100))}_{kind}"
        m[name] = (qps_at_recall([(r, q) for _, r, q in pts], target), "1/s")
    knn = [c for c in calls if c["layer"] == "knnjoin.exact"]
    m["knn_exact_qps"] = (knn[0]["queries"] / median(c["wall_s"] for c in knn), "1/s")
    m["heap_live_mb"] = (raw["heap_live_mb"], "MB")
    return m


def per_layer(raw, builder_source):
    """The per-layer metrics of one traced run, plus a detail table of
    every layer's counters for the trace file."""
    cores = raw["cores"]
    calls = [c for c in measured(raw["calls"]) if c.get("traced")]
    by = {}
    for c in calls:
        by.setdefault(c["layer"], []).append(c)

    def layer_counters(cs):
        wall = sum(c["wall_s"] for c in cs)
        run = sum(_sum(c, "run_s") for c in cs)
        return {
            "calls": len(cs),
            "wall_s": wall,
            "jobs": sum(c.get("jobs", 0) for c in cs),
            "tasks": sum(_sum(c, "tasks") for c in cs),
            "task_cpu_s": sum(_sum(c, "cpu_s") for c in cs),
            "gc_s": sum(_sum(c, "gc_s") for c in cs),
            "shuffle_write_mb": sum(_sum(c, "shuffle_write_mb") for c in cs),
            "spill_mb": sum(_sum(c, "spill_mb") for c in cs),
            "outside_tasks_frac": outside_tasks_frac(wall, run, cores),
        }

    detail = {layer: layer_counters(cs) for layer, cs in sorted(by.items())}

    builds = by["roargraph.build"]
    ranges = phase_ranges(builder_source)
    split = [build_phases(c, ranges) for c in builds]
    detail["roargraph.build"]["phases"] = [
        {"wall_s": w, "task_cpu_s": cpu, "build_wall_s": c["wall_s"]}
        for (w, cpu), c in zip(split, builds)]

    def per_call(cs, f):
        return median(f(c) for c in cs)

    m = {}
    for p in ("train_knn", "self_search"):
        m[f"roargraph.build.{p}.task_cpu_s"] = (median(cpu[p] for _, cpu in split), "s")
    for p in ("projection", "supply_merge", "driver"):
        m[f"roargraph.build.{p}.wall_s"] = (median(w[p] for w, _ in split), "s")
    m["roargraph.build.jobs"] = (per_call(builds, lambda c: c["jobs"]), "count")
    m["roargraph.build.gc_s"] = (per_call(builds, lambda c: _sum(c, "gc_s")), "s")
    m["roargraph.build.outside_tasks_frac"] = (per_call(builds, lambda c: outside_tasks_frac(
        c["wall_s"], _sum(c, "run_s"), cores)), "ratio")

    mem = [p for p in raw["sweep"] if p["tier"] == "memory"]
    for kind in ("ood", "id"):
        pts = [p for p in mem if p["kind"] == kind]
        cs = by[f"roargraph.search.{kind}"]
        cmps = sum(p["cmps"] for p in pts)
        queries = sum(p["queries"] for p in pts)
        m[f"roargraph.search.{kind}.ns_per_cmp"] = (
            sum(_sum(c, "cpu_s") for c in cs) * 1e9 / cmps, "ns")
        m[f"roargraph.search.{kind}.cmps_per_query"] = (cmps / queries, "count")
        m[f"roargraph.search.{kind}.hops_per_query"] = (
            sum(p["hops"] for p in pts) / queries, "count")
    search = by["roargraph.search.ood"] + by["roargraph.search.id"]
    m["roargraph.search.outside_tasks_frac"] = (layer_counters(search)["outside_tasks_frac"], "ratio")

    knn = by["knnjoin.exact"]
    dists = sum(c["queries"] * c["base"] for c in knn)
    m["knnjoin.exact.ns_per_dist"] = (detail["knnjoin.exact"]["task_cpu_s"] * 1e9 / dists, "ns")
    m["knnjoin.exact.task_cpu_s"] = (per_call(knn, lambda c: _sum(c, "cpu_s")), "s")
    m["knnjoin.exact.outside_tasks_frac"] = (detail["knnjoin.exact"]["outside_tasks_frac"], "ratio")
    m["eval.recall.wall_s"] = (per_call(by["eval.recall"], lambda c: c["wall_s"]), "s")

    m["index.degree_avg"] = (raw["degree_avg"], "count")
    m["index.degree_max"] = (raw["degree_max"], "count")
    m["index.reachable_frac"] = (raw["reachable_frac"], "ratio")

    for layer in ("dist.build", "graphio.save", "bsp.search"):
        c = detail[layer]
        m[f"{layer}.wall_s"] = (c["wall_s"], "s")
        m[f"{layer}.jobs"] = (c["jobs"], "count")
    for layer in ("dist.build", "bsp.search"):
        m[f"{layer}.shuffle_write_mb"] = (detail[layer]["shuffle_write_mb"], "MB")
        m[f"{layer}.outside_tasks_frac"] = (detail[layer]["outside_tasks_frac"], "ratio")

    untraced = [c for c in raw["calls"] if c["layer"] == "roargraph.build.untraced"]
    m["trace.overhead_frac"] = (
        median(c["wall_s"] for c in builds) / untraced[0]["wall_s"] - 1.0, "ratio")
    return m, detail

"""Arithmetic of the graft benchmark: percentiles, span self time, layer
sums, core idleness and output checks. Pure functions over the records
the JVM harness writes; run.py does the I/O."""
import statistics

NS_PER_MS = 1e6


def p50(values):
    """Median and the number of samples it was taken over."""
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values), len(values)


def wall_s(q):
    """Wall time of a query span."""
    return (q["t3"] - q["t0"]) / 1e9


def query_p50(passes):
    """Median over passes of each pass's median query time, and the
    number of passes it was taken over. Each pass's median comes first so
    that, when a pass holds an even number of queries, the figure does not
    sit on the gap between the two middle queries of all samples pooled."""
    return p50(statistics.median(wall_s(q) for q in qs) for qs in passes)


def union_length(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)


def idle_core_frac(task_run_ms, wall_ms, cores):
    """1 - (task run time / (wall time x cores)): the share of the
    session's task slots that ran no task while queries were in flight."""
    if wall_ms <= 0 or cores <= 0:
        raise ValueError("idle fraction needs positive wall time and cores")
    return 1.0 - task_run_ms / (wall_ms * cores)


def query_spans(q):
    """(query, build, plan, exec) intervals of one query record, in ns."""
    t0, t1, t2, t3 = q["t0"], q["t1"], q["t2"], q["t3"]
    return {"query": (t0, t3), "build": (t0, t1), "plan": (t1, t2), "exec": (t2, t3)}


def pass_seconds(queries):
    """A pass's time: the sum of its query spans (housekeeping and result
    hashing between queries are outside)."""
    return sum(wall_s(q) for q in queries)


def execution_failures(queries, expected):
    """Every execution that threw or returned a result whose hash differs
    from the recorded one, with its cause."""
    out = []
    for q in queries:
        want = expected.get(q["name"])
        if not q["ok"]:
            out.append({"name": q["name"], "pass": q["pass"], "phase": q.get("phase", ""),
                        "error_class": q.get("error_class", ""), "error": q.get("error", "")})
        elif want is None:
            out.append({"name": q["name"], "pass": q["pass"], "phase": "check",
                        "error_class": "NoExpectedHash", "error": "no hash recorded for this query"})
        elif q["hash"] != want:
            out.append({"name": q["name"], "pass": q["pass"], "phase": "check",
                        "error_class": "HashMismatch", "error": f"got {q['hash']}, expected {want}"})
    return out


def failed_frac(failures, attempted):
    if attempted <= 0:
        raise ValueError("no executions attempted")
    return len(failures) / attempted


def attach_jobs(queries, jobs, epoch_ms):
    """Map each job to the query and phase span that submitted it: by the
    span id it carries, else by the span its start time falls in. Returns
    ((query, phase), job) pairs and the count placed by time. Jobs that
    started outside every given query are left out."""
    spans = {}
    for q in queries:
        for k, name in enumerate(("query", "build", "plan", "exec")):
            spans[q["id"] + k] = (q, name)
    out, by_time = [], 0
    for j in jobs:
        owner = spans.get(int(j["span"])) if j["span"].isdigit() else None
        if owner is None:
            t = (j["start_ms"] - epoch_ms) * NS_PER_MS
            for q in queries:
                if q["t0"] <= t <= q["t3"]:
                    iv = query_spans(q)
                    name = next(n for n in ("build", "plan", "exec") if iv[n][0] <= t <= iv[n][1])
                    owner = (q, name)
                    by_time += 1
                    break
        if owner is not None:
            out.append((owner, j))
    return out, by_time


def layer_sums(queries, attached, stages, qes, cores, epoch_ms):
    """Per-layer sums over the queries of one traced pass.

    `attached` is attach_jobs' output (jobs carry start/end in epoch ms
    and their stage ids); `stages` carry summed task metrics; `qes` carry
    planner phase durations of every SQL execution."""
    mine = {id(q) for q in queries}
    attached = [(o, j) for o, j in attached if id(o[0]) in mine]
    stage_ids = []
    for _, j in attached:
        stage_ids.extend(j["stages"])
    by_id = {}
    for s in stages:
        by_id.setdefault(s["id"], []).append(s)
    ran = [s for sid in dict.fromkeys(stage_ids) for s in by_id.get(sid, [])]

    def tot(field):
        return sum(s[field] for s in ran)

    ms = lambda a, b: (b - a) / NS_PER_MS
    wall_ms = sum(ms(q["t0"], q["t3"]) for q in queries)
    run_ms, cpu_ms = tot("run_ms"), tot("cpu_ns") / NS_PER_MS
    lo = min(q["t0"] for q in queries)
    hi = max(q["t3"] for q in queries)
    in_pass = [e for e in qes if lo <= (e["start_ms"] - epoch_ms) * NS_PER_MS <= hi]

    # self time of the phase spans: the part no Spark job of theirs covers
    def job_iv(j):
        return ((j["start_ms"] - epoch_ms) * NS_PER_MS, (j["end_ms"] - epoch_ms) * NS_PER_MS)
    self_ms = {"build": 0.0, "plan": 0.0, "exec": 0.0}
    residual = 0.0
    for q in queries:
        iv = query_spans(q)
        for name in self_ms:
            kids = [job_iv(j) for (oq, on), j in attached if oq is q and on == name]
            self_ms[name] += self_time(*iv[name], kids) / NS_PER_MS
        parts = sum(iv[n][1] - iv[n][0] for n in ("build", "plan", "exec"))
        residual = max(residual, abs((iv["query"][1] - iv["query"][0]) - parts) / NS_PER_MS)
    # scheduler gap: time inside jobs when none of their stages was running
    sched_gap = 0.0
    for _, j in attached:
        a, b = job_iv(j)
        kids = [((s["start_ms"] - epoch_ms) * NS_PER_MS, (s["end_ms"] - epoch_ms) * NS_PER_MS)
                for sid in j["stages"] for s in by_id.get(sid, [])]
        sched_gap += self_time(a, b, kids) / NS_PER_MS

    return {
        "build.ms": sum(ms(q["t0"], q["t1"]) for q in queries),
        "build.self_ms": self_ms["build"],
        "build.jobs": sum(1 for (_, on), _ in attached if on == "build"),
        "plan.ms": sum(ms(q["t1"], q["t2"]) for q in queries),
        "plan.analysis_ms": sum(e.get("analysis_ms", 0) for e in in_pass),
        "plan.optimizer_ms": sum(e.get("optimization_ms", 0) for e in in_pass),
        "plan.physical_ms": sum(e.get("planning_ms", 0) for e in in_pass),
        "codegen.compiles": sum(q["compiles"] for q in queries),
        "codegen.compile_ms": sum(q["compile_ms"] for q in queries),
        "sched.jobs": len(attached),
        "sched.stages": len(ran),
        "sched.tasks": tot("tasks"),
        "sched.task_failures": tot("task_failures"),
        "sched.gap_ms": sched_gap,
        "sched.idle_core_frac": idle_core_frac(run_ms, wall_ms, cores),
        "exec.ms": sum(ms(q["t2"], q["t3"]) for q in queries),
        "exec.self_ms": self_ms["exec"],
        "exec.task_run_ms": run_ms,
        "exec.task_cpu_ms": cpu_ms,
        "exec.cpu_frac": cpu_ms / run_ms if run_ms else 0.0,
        "exec.gc_ms": sum(q["gc_ms"] for q in queries),
        "shuffle.write_bytes": tot("shuffle_write_bytes"),
        "shuffle.read_bytes": tot("shuffle_read_bytes"),
        "shuffle.fetch_wait_ms": tot("fetch_wait_ms"),
        "spill.disk_bytes": tot("spill_disk_bytes"),
        "spill.mem_bytes": tot("spill_mem_bytes"),
        "io.read_bytes": tot("read_bytes"),
        "io.read_records": tot("read_records"),
        "io.write_bytes": tot("write_bytes"),
        "io.write_records": tot("write_records"),
        "trace.span_residual_ms": residual,
    }

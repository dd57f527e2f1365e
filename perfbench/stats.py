"""Arithmetic of the benchmark: percentiles, self time from spans, and the
metrics computed from one engine run's measurements."""
import statistics

# A percentile is a tail estimate only with at least this many samples
# beyond it; p90 therefore needs at least 100 samples.
TAIL_SAMPLES = 10
GEOM_KERNELS = ("parse", "make_valid", "union", "transform")


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def min_samples(q):
    """Fewest samples for which percentile q has TAIL_SAMPLES beyond it."""
    return round(TAIL_SAMPLES / (1.0 - q))


def is_tail_estimate(n, q):
    return n >= min_samples(q)


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median (statistics.quantiles with n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def _union_length(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _merge(intervals):
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def self_times(spans, merge=("job",)):
    """Self time per layer from one operation's spans.

    `spans` is a list of (layer, start, end). A span's parent is the
    innermost span that was open when it started; a child is clipped to its
    parent. Self time is a span's duration minus the union of its
    children's intervals. Overlapping spans of a layer named in `merge`
    (concurrent Spark jobs) are first merged into one, so concurrent work
    is counted once. Returns {layer: total self time}."""
    merged = [(n, s, e) for n, s, e in spans if n not in merge]
    for layer in merge:
        merged += [(layer, s, e) for s, e in _merge([(s, e) for n, s, e in spans if n == layer])]
    # parents first: earlier start, then longer
    order = sorted(merged, key=lambda x: (x[1], -(x[2] - x[1])))
    children = {i: [] for i in range(len(order))}
    clipped = list(order)
    stack = []
    for i, (name, s, e) in enumerate(order):
        while stack and clipped[stack[-1]][2] <= s:
            stack.pop()
        if stack:
            p = stack[-1]
            e = min(e, clipped[p][2])
            clipped[i] = (name, s, e)
            children[p].append((s, e))
        stack.append(i)
    out = {}
    for i, (name, s, e) in enumerate(clipped):
        own = (e - s) - _union_length(children[i])
        out[name] = out.get(name, 0) + own
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def ops_of(passes):
    return [op for p in passes for op in p["ops"]]


def end_to_end(result):
    """End-to-end metrics from an untraced run: medians over timed passes."""
    passes = [p for p in result["passes"] if not p["traced"]]
    times = [op["wall_s"] for op in ops_of(passes)]
    return {
        "setup_s": median(result["setup_s"]),
        "wall_s": median([p["wall_s"] for p in passes]),
        "query_p50_s": percentile(times, 0.5),
        # JIT compiler threads are left out: they are still busy for most
        # of a run and made this figure vary twice as much between runs
        "cpu_core_s": median([p["cpu_s"] - p["jit_s"] for p in passes]),
        "rss_peak_mb": result["rss_peak_mb"],
    }


def op_spans(op):
    """All spans of one traced operation, in nanoseconds: the driver's own
    (op, construct, plan, execute), Catalyst's planning phases and the
    operation's Spark jobs."""
    spans = [tuple(s) for s in op.get("spans", [])]
    for phase, (s, e) in op.get("phases", {}).items():
        spans.append((phase, s * 1_000_000, e * 1_000_000))
    for j in op.get("jobs", []):
        spans.append(("job", j["start_ms"] * 1_000_000, j["end_ms"] * 1_000_000))
    return spans


# span name -> the layer its self time is charged to
SELF_LAYER = {
    "op": "harness", "construct": "ops", "analysis": "plan", "optimization": "plan",
    "planning": "plan", "plan": "plan", "job": "exec", "execute": "collect",
}


def pass_layers(p, cores):
    """Per-layer metrics of one traced pass."""
    ops = p["ops"]
    s = lambda key: sum(op.get(key, 0) for op in ops)
    jobs = [j for op in ops for j in op.get("jobs", [])]
    wall = sum(op["wall_s"] for op in ops)
    construct = sum((op["spans"][1][2] - op["spans"][1][1]) / 1e9 for op in ops if op.get("spans"))
    execute = sum((op["spans"][3][2] - op["spans"][3][1]) / 1e9 for op in ops if op.get("spans"))
    phase = lambda name: sum((op.get("phases", {}).get(name, [0, 0])[1]
                              - op.get("phases", {}).get(name, [0, 0])[0]) / 1e3 for op in ops)
    selfs = {}
    for op in ops:
        for span, t in self_times(op_spans(op)).items():
            layer = SELF_LAYER.get(span, span)
            selfs[layer] = selfs.get(layer, 0) + t / 1e9
    task_run = s("task_run_s")
    m = {
        "ops.construct_s": construct,
        "ops.construct_jobs": sum(1 for j in jobs if j["phase"] == "construct"),
        "ops.construct_share": construct / wall if wall else 0.0,
        "scan.schema_jobs": sum(1 for j in jobs if j["schema"]),
        "scan.input_mb": s("input_b") / 2**20,
        "scan.records_read": s("records_read"),
        "plan.analysis_s": phase("analysis"),
        "plan.optimization_s": phase("optimization"),
        "plan.planning_s": phase("planning"),
        "plan.physical_nodes": s("plan_nodes"),
        "plan.exchanges": s("exchanges"),
        "plan.rtree_join_nodes": s("rtree_joins"),
        "plan.nested_loop_nodes": s("nested_loops"),
        "exec.s": execute,
        "exec.jobs": len(jobs),
        "exec.stages": s("stages"),
        "exec.tasks": s("tasks"),
        "exec.task_cpu_s": s("task_cpu_s"),
        "exec.task_run_s": task_run,
        "exec.core_busy_frac": task_run / (cores * wall) if wall else 0.0,
        "exec.max_task_s": max([op.get("max_task_s", 0) for op in ops] or [0]),
        "exec.gc_s": s("gc_s"),
        "exec.shuffle_write_mb": s("shuffle_write_b") / 2**20,
        "exec.spill_mb": s("spill_b") / 2**20,
        "stream.batches": s("batches"),
        "stream.batch_s": s("batch_s"),
        "stream.input_rows": s("stream_input_rows"),
        "stream.state_rows": s("state_rows"),
        "sink.output_mb": s("output_b") / 2**20,
        "sink.output_files": s("output_files"),
        "sink.write_jobs": sum(1 for j in jobs if j["write"]),
        "driver.cpu_s": p["cpu_s"] - s("task_cpu_s"),
        "jvm.gc_s": p["jvm_gc_s"],
        "jvm.jit_s": p["jit_s"],
        "codegen.compile_s": p["codegen_compile_s"],
    }
    for layer in ("ops", "plan", "exec", "collect"):
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    m["trace.selftime_sum_frac"] = sum(selfs.values()) / wall if wall else 0.0
    return m


WRITE_LAYERS = ("stream.", "sink.")


def per_layer(result):
    """Per-layer metrics from a traced run: medians over the traced passes,
    plus the tracing overhead against the same run's untraced passes. The
    sink and streaming layers come from the traced publish probe when the
    workload itself does not write."""
    traced = [p for p in result["passes"] if p["traced"]]
    plain = [p for p in result["passes"] if not p["traced"]]
    rows = [pass_layers(p, result["cores"]) for p in traced]
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    for probe in result.get("probes", []):
        out.update({k: v for k, v in pass_layers(probe, result["cores"]).items()
                    if k.startswith(WRITE_LAYERS)})
    out["trace.overhead_frac"] = (median([p["wall_s"] for p in traced])
                                  / median([p["wall_s"] for p in plain]) - 1.0)
    for k in GEOM_KERNELS:
        out[f"geom.{k}_us"] = result["geom"][f"{k}_us"]
    return out

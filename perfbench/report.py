"""Turn the harness output into the benchmark's metrics."""
import math

from metrics import (Span, build_tree, core_util, failed_count, layer_self_times,
                     median, tail_percentile)

DEDUP_OPS = ("dedup_exact", "dedup_minhash", "dedup_simhash", "embed_lsh")
LSH_OPS = ("dedup_minhash", "dedup_simhash", "embed_lsh")
MB = 1048576.0


def _m(value, unit):
    return {"value": value, "unit": unit}


def latency_ms(op):
    """An op's latency: its span without the benchmark's own result check."""
    check = sum(s["end_us"] - s["start_us"] for s in op["spans"] if s["name"] == "check")
    return (op["end_us"] - op["start_us"] - check) / 1000.0


def per_pass_s(ops, ms=latency_ms):
    """One pass over the op list: the sum over op names of each name's
    median `ms(op)`, in seconds."""
    by = {}
    for op in ops:
        by.setdefault(op["name"], []).append(ms(op))
    return sum(median(v) for v in by.values()) / 1000.0


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs)) if xs else 0.0


def end_to_end(res):
    ops = res["ops"]
    return {
        "setup_s": _m(res["setup"]["setup_s"], "s"),
        "wall_s": _m(per_pass_s(ops), "s"),
        "latency_p50_ms": _m(median([latency_ms(o) for o in ops]), "ms"),
        "live_heap_mb": _m(res["live_heap_mb"], "MB"),
    }


def extra(res, outcomes, quality, traced):
    """Figures printed for the reader but not part of the JSON result."""
    ops = res["ops"]
    lat = [latency_ms(o) for o in ops]
    out = {"ops_attempted": _m(len(ops), "count"),
           "ops_failed_frac": _m(failed_count(outcomes) / max(1, len(ops)), "ratio")}
    out["cpu_s"] = _m(per_pass_s(ops, lambda o: o["cpu_ms"]), "s")
    out["latency_geomean_ms"] = _m(geomean(lat), "ms")
    out["cpu_geomean_ms"] = _m(geomean([o["cpu_ms"] for o in ops]), "ms")
    p90 = tail_percentile(lat)
    out["latency_p90_ms"] = _m(p90 if p90 is not None else
                               f"not reported ({len(lat)} samples, needs 10 beyond p90)", "ms")
    for k, v in sorted(quality.items()):
        out[k] = _m(v, "ratio")
    for op in ops:
        k = "op " + op["name"]
        out.setdefault(k, _m([], "ms by pass"))["value"].append(round(latency_ms(op)))
    if traced:
        for k, v in end_to_end(dict(res, ops=[o for o in ops if o["pass"] >= 2])).items():
            out["untraced_" + k] = v
    return out


# ---------------------------------------------------------------- traced

def _owner(ops, start_us, end_us):
    mid = (start_us + end_us) / 2
    for op in ops:
        if op["start_us"] <= mid <= op["end_us"]:
            return op
    return None


def per_layer(res, cores, delta_files):
    """Per-layer metrics from the traced passes (odd passes); the untraced
    passes after the first (even, >= 2) give the tracing overhead. Sums
    are per pass."""
    traced = [o for o in res["ops"] if o["traced"]]
    untraced = [o for o in res["ops"] if not o["traced"] and o["pass"] >= 2]
    n_pass = max(1, len({o["pass"] for o in traced}))
    lst = res["listener"] or {"jobs": [], "stages": [], "qes": []}

    def attach(records, start, end):
        out = {}
        for r in records:
            op = _owner(traced, r[start] * 1000, r[end] * 1000)
            if op is not None:
                out.setdefault(id(op), []).append(r)
        return out
    jobs = attach(lst["jobs"], "start_ms", "end_ms")
    stages = attach(lst["stages"], "start_ms", "end_ms")
    qes = {}
    for q in lst["qes"]:
        # planned_ms is a whole millisecond: take its middle
        op = _owner(traced, q["planned_ms"] * 1000, (q["planned_ms"] + 1) * 1000)
        if op is not None:
            qes.setdefault(id(op), []).append(q)

    def total(recs, key, ops=None):
        sel = traced if ops is None else [o for o in traced if o["name"] in ops]
        return sum(r[key] for o in sel for r in recs.get(id(o), []))

    # self time per layer, from each op's span tree
    layers = {"harness": 0.0, "ops": 0.0, "plans": 0.0, "engine": 0.0}
    worst_gap = 0.0
    for op in traced:
        root = Span("op:" + op["name"], "harness", op["start_us"], op["end_us"], 0)
        spans = [Span(s["name"], {"ops.construct": "ops", "ops.release": "ops",
                                  "engine.drain": "engine"}.get(s["name"], "harness"),
                      s["start_us"], s["end_us"], 1) for s in op["spans"]]
        for q in qes.get(id(op), []):
            spans += [Span("plans." + p["name"], "plans", p["start_ms"] * 1000,
                           p["end_ms"] * 1000, 2) for p in q["phases"]]
        spans += [Span("engine.job", "engine", j["start_ms"] * 1000, j["end_ms"] * 1000, 2)
                  for j in jobs.get(id(op), [])]
        spans += [Span("engine.stage", "engine", s["start_ms"] * 1000, s["end_ms"] * 1000, 3)
                  for s in stages.get(id(op), [])]
        st = layer_self_times(build_tree(root, spans))
        for k, v in st.items():
            layers[k] = layers.get(k, 0.0) + v
        worst_gap = max(worst_gap, abs(sum(st.values()) - (op["end_us"] - op["start_us"])))

    lat = {id(o): latency_ms(o) for o in traced}
    busy = total(stages, "busy_ms")
    wall = sum(lat.values())
    phase = {}
    for recs in qes.values():
        for q in recs:
            for p in q["phases"]:
                phase[p["name"]] = phase.get(p["name"], 0) + p["end_ms"] - p["start_ms"]
    n_qe = sum(len(v) for v in qes.values())
    calls, hits = total(qes, "graft_rule_calls"), total(qes, "graft_rule_hits")
    bloom_in, bloom_out = total(qes, "bloom_in"), total(qes, "bloom_out")
    part_in, part_out = total(qes, "partial_in"), total(qes, "partial_out")

    def op_ms(*names):
        return sum(lat[id(o)] for o in traced if o["name"] in names) / n_pass

    read_files = total(qes, "files_read", ("delta_read",))
    table_files = sum(delta_files.get(o["pass"], 0) for o in traced if o["name"] == "delta_read")
    verified = sum(len(o.get("result", {}).get("rows", [])) for o in traced if o["name"] in LSH_OPS)
    candidates = sum(max([q["join_rows_max"] for q in qes.get(id(o), [])] or [0])
                     for o in traced if o["name"] in LSH_OPS)
    kernel = sum(lat[id(o)] for o in traced if any(q["single_pass"] for q in qes.get(id(o), [])))
    overhead = (per_pass_s(traced) / per_pass_s(untraced) - 1.0) if untraced else 0.0

    def ratio(a, b):
        return a / b if b else 0.0
    p = n_pass
    m = {
        "engine.session_ms": _m(res["setup"]["session_ms"], "ms"),
        "engine.warmup_ms": _m(res["setup"]["warmup_ms"], "ms"),
        "engine.jobs": _m(sum(len(v) for v in jobs.values()) / p, "count"),
        "engine.stages": _m(sum(len(v) for v in stages.values()) / p, "count"),
        "engine.tasks": _m(total(stages, "tasks") / p, "count"),
        "engine.tasks_failed": _m(total(stages, "tasks_failed") / p, "count"),
        "engine.sched_wait_ms": _m(total(stages, "sched_delay_ms") / p, "ms"),
        "engine.codegen_compile_ms": _m(sum(o["compile_ms"] for o in traced) / p, "ms"),
        "engine.task_busy_ms": _m(busy / p, "ms"),
        "engine.task_cpu_ms": _m(total(stages, "cpu_ns") / 1e6 / p, "ms"),
        "engine.core_util": _m(core_util(busy, wall, cores), "ratio"),
        "engine.shuffle_write_mb": _m(total(stages, "shuffle_write_bytes") / MB / p, "MB"),
        "engine.shuffle_read_mb": _m(total(stages, "shuffle_read_bytes") / MB / p, "MB"),
        "engine.shuffle_fetch_wait_ms": _m(total(stages, "fetch_wait_ms") / p, "ms"),
        "engine.spill_mb": _m(total(stages, "spill_bytes") / MB / p, "MB"),
        "engine.gc_ms": _m(sum(o["gc_ms"] for o in traced) / p, "ms"),
        "plans.analysis_ms": _m(phase.get("analysis", 0) / p, "ms"),
        "plans.optimize_ms": _m(phase.get("optimization", 0) / p, "ms"),
        "plans.physical_ms": _m(phase.get("planning", 0) / p, "ms"),
        "plans.query_executions": _m(ratio(n_qe, len(traced)), "count"),
        "plans.graft_rule_ms": _m(total(qes, "graft_rule_ns") / 1e6 / p, "ms"),
        "plans.graft_rule_hit_ratio": _m(ratio(hits, calls), "ratio"),
        "sources.scan_mb": _m(total(stages, "input_bytes") / MB / p, "MB"),
        "sources.scan_rows": _m(total(stages, "input_records") / p, "count"),
        "sources.files_read": _m(total(qes, "files_read") / p, "count"),
        "sources.delta_write_ms": _m(op_ms("delta_write"), "ms"),
        "sources.delta_merge_ms": _m(op_ms("delta_merge"), "ms"),
        "sources.delta_read_ms": _m(op_ms("delta_read"), "ms"),
        "sources.write_mb": _m(total(stages, "output_bytes") / MB / p, "MB"),
        "sources.delta_skip_ratio": _m(ratio(read_files, table_files), "ratio"),
        "ops.construct_ms": _m(sum((s["end_us"] - s["start_us"]) / 1000.0 for o in traced
                                   for s in o["spans"] if s["name"] == "ops.construct") / p, "ms"),
        "ops.cache_mb": _m(max([o["cache_mb"] for o in traced] or [0.0]), "MB"),
        "ops.bloom_pass_ratio": _m(ratio(bloom_out, bloom_in), "ratio"),
        "ops.partial_agg_collapse": _m(ratio(part_in, part_out), "ratio"),
        "ops.kernel_query_ms": _m(kernel / p, "ms"),
        "ops.dedup_ms": _m(op_ms(*DEDUP_OPS), "ms"),
        "ops.cluster_ms": _m(op_ms("dedup_clusters"), "ms"),
        "ops.ann_ms": _m(op_ms("ann_brute", "ann_ivf"), "ms"),
        "ops.lsh_verified_ratio": _m(ratio(verified, candidates), "ratio"),
        "harness.self_ms": _m(layers["harness"] / 1000.0 / p, "ms"),
        "ops.self_ms": _m(layers["ops"] / 1000.0 / p, "ms"),
        "plans.self_ms": _m(layers["plans"] / 1000.0 / p, "ms"),
        "engine.self_ms": _m(layers["engine"] / 1000.0 / p, "ms"),
        "trace.self_time_gap_ms": _m(worst_gap / 1000.0, "ms"),
        "trace.overhead": _m(overhead, "ratio"),
    }
    return m

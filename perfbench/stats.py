"""Arithmetic over the measured JVM's raw records: percentiles,
fingerprint failures, span self time, and the end-to-end and per-layer
metrics. Pure functions; `selftest.py` covers them."""


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 100] (numpy's default
    'linear' method)."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def fingerprint_failures(ops):
    """Indices of ops whose fingerprint differs from the first
    successful fingerprint of the same (query, generation). Ops are
    taken in execution order (set-up warm-ups first)."""
    ref, bad = {}, []
    for i, o in enumerate(ops):
        if not o["ok"] or o["kind"] != "read":
            continue
        k = (o["query"], o["gen"])
        if k not in ref:
            ref[k] = o["fp"]
        elif o["fp"] != ref[k]:
            bad.append(i)
    return bad


def self_times(spans):
    """span id -> self time (duration minus the durations of its direct
    children)."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
    return {s["id"]: (s["end"] - s["start"]) - child.get(s["id"], 0.0) for s in spans}


def self_time_by_name(spans):
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def passes_of(ops):
    """Timed ops grouped by pass number, in pass order."""
    by = {}
    for o in ops:
        if o["setup"] == 0:
            by.setdefault(o["pass"], []).append(o)
    return [by[p] for p in sorted(by)]


def end_to_end(res):
    """The end-to-end metrics of an untraced run, plus failure counts.
    Every figure is a median or a ratio over the run's timed ops."""
    ops = res["ops"]
    timed = [o for o in ops if o["setup"] == 0]
    passes = passes_of(ops)
    reads = [o["wall"] for o in timed if o["kind"] == "read"]
    refreshes = [o["wall"] for o in timed if o["kind"] == "refresh"]
    busy = sum(o["wall"] for o in timed)
    m = {
        "setup_s": res["setup_s"],
        "pass_s": median([sum(o["wall"] for o in p) for p in passes]),
        "latency_p50_s": percentile(reads, 50),
        "latency_p90_s": percentile(reads, 90),
        "ops_per_s": len(timed) / busy,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    if refreshes:
        m["refresh_p50_s"] = median(refreshes)
    fp_bad = set(fingerprint_failures(ops))
    failed = [o for i, o in enumerate(ops)
              if o["setup"] == 0 and (not o["ok"] or i in fp_bad)]
    return m, len(timed), failed


def _mean_per_pass(passes, f):
    return sum(sum(f(o) for o in p) for p in passes) / len(passes)


def per_layer(res):
    """Per-layer metrics of a traced run: per-pass means over its traced
    passes, the microbenchmarks, and the serving write side."""
    ops = res["ops"]
    all_passes = passes_of(ops)
    traced = [p for p in all_passes if p[0]["traced"]]
    plain = [p for p in all_passes if not p[0]["traced"]]
    if not traced:
        raise ValueError("traced run has no traced pass")

    def lay(key):
        return lambda o: (o.get("layers") or {}).get(key, 0.0)

    wall = lambda o: o["wall"]
    cores = res["cores"]
    tot_wall = sum(sum(wall(o) for o in p) for p in traced)
    m = {
        "operators.construct_s": _mean_per_pass(traced, lambda o: o["construct"]),
        "operators.construct_jobs": _mean_per_pass(traced, lay("construct_jobs")),
        "operators.construct_share":
            sum(sum(o["construct"] for o in p) for p in traced) / tot_wall,
        "catalyst.plan_s": _mean_per_pass(traced, lambda o: o["plan"]),
        "scheduler.jobs": _mean_per_pass(traced, lay("jobs")),
        "scheduler.stages": _mean_per_pass(traced, lay("stages")),
        "scheduler.tasks": _mean_per_pass(traced, lay("tasks")),
        "scheduler.driver_gap_s":
            _mean_per_pass(traced, lambda o: max(0.0, o["wall"] - lay("busy_s")(o))),
        "scheduler.task_overhead_s":
            _mean_per_pass(traced, lambda o: lay("task_dur_s")(o) - lay("run_s")(o)),
        "scheduler.core_busy_ratio":
            sum(sum(lay("task_dur_s")(o) for o in p) for p in traced) / (tot_wall * cores),
        "tasks.run_s": _mean_per_pass(traced, lay("run_s")),
        "tasks.cpu_s": _mean_per_pass(traced, lay("cpu_s")),
        "tasks.gc_s": _mean_per_pass(traced, lay("gc_s")),
        "tasks.input_bytes": _mean_per_pass(traced, lay("input_bytes")),
        "tasks.spill_bytes": _mean_per_pass(traced, lay("spill_bytes")),
        "shuffle.write_bytes": _mean_per_pass(traced, lay("shuffle_write_bytes")),
        "shuffle.read_bytes": _mean_per_pass(traced, lay("shuffle_read_bytes")),
        "shuffle.records": _mean_per_pass(traced, lay("shuffle_records")),
        "storage.peak_mb": res["storage_peak_mb"],
    }
    m.update(res["micro"])
    timed = [o for o in ops if o["setup"] == 0]
    # the serving loop's refreshes, else the traced run's one cycle
    refresh = [dict(o["extra"], wall_s=o["wall"]) for o in timed
               if o["kind"] == "refresh" and o["ok"]] or res["materialize_refreshes"]
    reads = [o for o in timed if o["kind"] == "read"]
    ex = lambda k: [r[k] for r in refresh]
    compacting = [r["compact_s"] for r in refresh if r["compacted"]]
    m.update({
        "materialize.build_s": res["build_s"],
        "materialize.append_s": median(ex("append_s")),
        "materialize.compact_s": median(compacting),
        "materialize.bytes_written": sum(ex("bytes_written")) / len(refresh),
        "materialize.write_amp": sum(ex("bytes_written")) / sum(ex("batch_bytes")),
        "materialize.chain_len": sum(o["chain"] for o in reads) / len(reads),
        "materialize.refresh_p50_s": median(ex("wall_s")),
    })
    # compare like with like: in serving only the first refresh does not
    # compact, and it falls in an untraced pass
    kinds = {_compacts(p) for p in traced}
    plain = [p for p in plain if _compacts(p) in kinds]
    tp = median([sum(wall(o) for o in p) for p in traced])
    up = median([sum(wall(o) for o in p) for p in plain]) if plain else tp
    m["trace.overhead_ratio"] = tp / up
    return m


def _compacts(ops):
    """Whether a pass's refresh, if any, compacted."""
    return any(o["kind"] == "refresh" and o["extra"].get("compacted") for o in ops)


def count_spread(res, key):
    """(min, max) over traced passes of a per-pass layer count."""
    traced = [p for p in passes_of(res["ops"]) if p[0]["traced"]]
    vals = [sum((o.get("layers") or {}).get(key, 0.0) for o in p) for p in traced]
    return min(vals), max(vals)

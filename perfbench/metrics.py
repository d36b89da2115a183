"""End-to-end and per-layer metrics of one run.

Each metric is `{"value", "unit", "samples"}`; percentiles add the
percentile and statistic used, and the same percentile over all timed
operations with how many samples lie beyond it.
"""
import stats
from workloads import ETL_KINDS, FAMILIES

LAYERS = ("client", "queries", "plans", "exec", "functions")


def _m(value, unit, samples, **extra):
    out = {"value": float(value), "unit": unit, "samples": int(samples)}
    out.update(extra)
    return out


def _lat_ms(r):
    return (r["end_ns"] - r["start_ns"]) / 1e6


def _median_or_zero(xs):
    return stats.median(xs) if xs else 0.0


def kind_of(r):
    """An operation's kind: its query, or its statement kind."""
    return r["name"] if r["kind"] == "query" else r["kind"]


def kind_medians(ops):
    """Median latency of each kind of operation over the passes."""
    by = {}
    for r in ops:
        by.setdefault(kind_of(r), []).append(_lat_ms(r))
    return [stats.median(xs) for xs in by.values()]


def end_to_end(run):
    timed = [r for r in run["ops"] if r["phase"] == "timed"]
    if not timed:
        raise SystemExit("no operation completed in the timed window")
    lat = [_lat_ms(r) for r in timed]
    n = len(lat)
    per_kind = kind_medians(timed)
    setups = [s["total_s"] for s in run["setups"]]
    tail = stats.tail_percentile(n)

    def pct(p):
        # every timed pass runs each kind once: the percentile of a pass's
        # latencies, each kind at its median over the passes
        return _m(stats.harrell_davis(per_kind, p), "ms", n, percentile=p, kinds=len(per_kind),
                  statistic=f"Harrell-Davis p{p} over per-kind medians",
                  all_ops_value=stats.percentile(lat, p),
                  all_ops_beyond=stats.samples_beyond(n, p))

    return {
        "setup_s": _m(stats.median(setups), "s", len(setups), statistic="median"),
        "throughput_ops_s": _m(n / run["window_s"], "1/s", n),
        "latency_p50_ms": pct(50),
        "latency_p90_ms": dict(pct(90), rule_percentile=tail,
                               rule_value=stats.percentile(lat, tail) if tail else None),
        "live_heap_mb": _m(run["heap_mb"], "MB", 1),
    }


def per_layer(run, cores):
    spans = run["spans"]
    counts = {c["op"]: c for c in run["counts"]}
    traced = [r for r in run["ops"] if r["phase"] == "traced"]
    untraced = [r for r in run["ops"] if r["phase"] == "timed"]
    if not traced or not untraced:
        raise SystemExit("a traced run needs traced and untraced operations")
    n = len(traced)
    tag = {r["seq"]: f"traced:{r['seq']}" for r in traced}
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)

    # self time per layer, per operation (ms)
    layer_ms = {layer: [] for layer in LAYERS}
    coverage = []
    named = {}  # span name -> per-op summed duration (ms)
    for r in traced:
        ss = by_op.get(tag[r["seq"]], [])
        per = stats.layer_self_times(ss)
        for s in ss:
            named.setdefault(s["name"], {}).setdefault(r["seq"], 0.0)
            named[s["name"]][r["seq"]] += (s["end"] - s["start"]) / 1e6
        for layer in LAYERS:
            layer_ms[layer].append(per.get(layer, 0) / 1e6)
        wall = _lat_ms(r)
        coverage.append(sum(layer_ms[l][-1] for l in LAYERS if l != "client") / wall)

    def span_mean(name):
        # tracker phases carry whole milliseconds: a mean keeps the digits
        xs = list(named.get(name, {}).values())
        return sum(xs) / n if xs else 0.0

    def self_median(layer):
        return _median_or_zero(layer_ms[layer])

    c_ops = [counts.get(tag[r["seq"]], {}) for r in traced]
    c_stmt = [counts.get(tag[r["seq"]] + ":stmt", {}) for r in traced]

    def total(key, rows=c_ops + c_stmt):
        return sum(c.get(key, 0) for c in rows)

    def per_op(key):
        return total(key) / n

    exec_wall_ms = sum(named.get("exec.collect", {}).values()) + sum(
        v for k, d in named.items() if k.startswith("functions.") for v in d.values())
    setups = run["setups"]
    out = {
        "engine.session_s": _m(stats.median([s["session_s"] for s in setups]), "s", len(setups)),
        "engine.warm_s": _m(stats.median([s["warm_s"] for s in setups]), "s", len(setups)),
        "engine.cached_mb": _m(run["cached_mb"], "MB", 1),
        "engine.cache_scan_share": _m(total("mem_leaves", c_ops) / max(1, total("leaves", c_ops)),
                                      "ratio", n),
        "queries.build_ms": _m(self_median("queries"), "ms", n),
        "plans.analysis_ms": _m(span_mean("plans.analysis"), "ms", n),
        "plans.optimization_ms": _m(span_mean("plans.optimization"), "ms", n),
        "plans.planning_ms": _m(span_mean("plans.planning"), "ms", n),
        "plans.graft_rules_ms": _m(_median_or_zero(
            [c.get("graft_rule_ns", 0) / 1e6 for c in c_ops]), "ms", n),
        "plans.physical_nodes": _m(_median_or_zero([c.get("nodes", 0) for c in c_ops]), "count", n),
        "exec.jobs": _m(per_op("jobs"), "count", n),
        "exec.stages": _m(per_op("stages"), "count", n),
        "exec.tasks": _m(per_op("tasks"), "count", n),
        "exec.sched_wait_ms": _m(_median_or_zero(
            [a.get("sched_wait_ms", 0) + b.get("sched_wait_ms", 0) for a, b in zip(c_ops, c_stmt)]),
            "ms", n),
        "exec.core_util": _m(total("run_ms") / (exec_wall_ms * cores) if exec_wall_ms else 0.0,
                             "ratio", n),
        "exec.ms": _m(self_median("exec"), "ms", n),
        "exec.task_run_s": _m(per_op("run_ms") / 1e3, "s", n),
        "exec.task_cpu_s": _m(per_op("cpu_ns") / 1e9, "s", n),
        "exec.gc_s": _m(per_op("gc_ms") / 1e3, "s", n),
        "exec.shuffle_mb": _m(per_op("shuffle_bytes") / 1048576.0, "MB", n),
        "exec.spill_mb": _m(per_op("spill_bytes") / 1048576.0, "MB", n),
        "exec.rows_read_per_row_out": _m(total("leaf_rows", c_ops) / max(1, total("rows_out", c_ops)),
                                         "ratio", n),
    }
    for key, names in FAMILIES.items():
        xs = [_lat_ms(r) for r in traced if r["name"] in names]
        out[key] = _m(_median_or_zero(xs), "ms", len(xs))
    for kind in ETL_KINDS:
        xs = [r["stmt_ms"] for r in traced if r["kind"] == kind]
        out[f"functions.{kind}_ms"] = _m(_median_or_zero(xs), "ms", len(xs))
    stmts = [r for r in traced if r["kind"] != "query"]
    out["functions.jobs_per_stmt"] = _m(
        total("jobs", c_stmt) / len(stmts) if stmts else 0.0, "count", len(stmts))
    dml = [(r, c) for r, c in zip(traced, c_stmt)
           if r["kind"] in ("update", "delete", "upsert", "merge", "constraint")]
    changed = sum(r.get("changed_bytes", 0) for r, _ in dml)
    out["functions.write_amp"] = _m(
        sum(c.get("bytes_written", 0) for _, c in dml) / changed if changed else 0.0,
        "ratio", len(dml))
    # the queries and exec layers' self times are queries.build_ms and exec.ms
    for layer in ("client", "plans", "functions"):
        out[f"self.{layer}_ms"] = _m(self_median(layer), "ms", n)
    out["trace.coverage"] = _m(_median_or_zero(coverage), "ratio", n)
    out["trace.overhead_pct"] = _m(overhead_pct(traced, untraced), "%", n,
                                   untraced_samples=len(untraced))
    return out


def overhead_pct(traced, untraced):
    """Median over operation kinds (query name, or statement kind) of the
    traced-to-untraced ratio of median latencies, as a percentage. Each
    kind is traced in alternate passes, half of them in the first, so pass
    to pass drift cancels in the median; an untraced operation runs without
    spans and without the listener."""
    def by_kind(rs):
        out = {}
        for r in rs:
            out.setdefault(kind_of(r), []).append(_lat_ms(r))
        return out
    t, u = by_kind(traced), by_kind(untraced)
    ratios = [stats.median(t[k]) / stats.median(u[k]) for k in t if k in u]
    return 100.0 * (stats.median(ratios) - 1) if ratios else 0.0

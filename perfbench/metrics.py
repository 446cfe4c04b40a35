"""Metric arithmetic over the harness's raw samples (result.json, spans.jsonl).

Everything here is a pure function of its inputs, so the rules are testable
without a JVM: the tail percentile rule, span self time, and the end-to-end
and per-layer metric definitions.
"""
import statistics
from collections import defaultdict

MB = 1048576.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values, beyond=10):
    """The highest percentile of `values` that still has at least `beyond`
    samples above it. Returns (value, percentile, n); the percentile is
    nearest-rank, in whole percent. With n <= `beyond` no percentile
    qualifies and the slowest sample is returned as p100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    if n <= beyond:
        return xs[-1], 100, n
    pct = (100 * (n - beyond)) // n
    # nearest rank: the smallest sample with at least pct% of samples <= it
    rank = max(1, -(-pct * n // 100))
    return xs[rank - 1], pct, n


def union_length(intervals, lo, hi):
    """Total length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> self time in seconds: the span's duration minus the part of
    it covered by any of its children (children may overlap one another, as
    concurrent stages of one job do)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"]
                      - union_length(kids[s["id"]], s["start_us"], s["end_us"])) / 1e6
            for s in spans}


def descendants(spans):
    """span id -> list of all spans below it."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}

    def walk(i):
        if i not in out:
            acc = []
            for k in kids.get(i, []):
                acc.append(k)
                acc.extend(walk(k["id"]))
            out[i] = acc
        return out[i]

    for s in spans:
        walk(s["id"])
    return out


# ---------------------------------------------------------------- end to end

def end_to_end(result, setup_start_ms):
    """End-to-end metrics of an untraced run. Returns (metrics, notes):
    metrics maps name -> (value, unit); notes carries sample counts and the
    tail percentile."""
    ops = result["ops"]
    setup_s = (result["setup_end_ms"] - setup_start_ms) / 1e3
    if result["workload"] == "medallion_incremental":
        lat = [o["wall_s"] for o in ops]
        wall = sum(lat)
        rows = sum(o["landed"] for o in ops)
        mem = result["heap_after_gc_mb"]
        passes = 1
        executions = lat
    else:
        by_q = defaultdict(list)
        for o in ops:
            by_q[o["name"]].append(o["wall_s"])
        lat = [median(v) for v in by_q.values()]
        # the tail is taken over every execution the loop issued
        executions = [o["wall_s"] for o in ops]
        walls = [p["wall_s"] for p in result["passes"]]
        wall = median(walls)
        rows = sum(o["rows"] for o in ops if o["pass"] == 1 and o["rows"] > 0)
        mem = max(p["heap_after_gc_mb"] for p in result["passes"])
        passes = len(walls)
    t, pct, n = tail(executions)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "p50_s": (median(lat), "s"),
        "tail_s": (t, "s"),
        "rows_per_s": (rows / wall if wall > 0 else 0.0, "1/s"),
        "mem_peak_mb": (mem, "MB"),
    }
    notes = {"p50_s": {"n": len(lat)}, "tail_s": {"percentile": f"p{pct}", "n": n},
             "wall_s": {"passes": passes}}
    return metrics, notes


# ----------------------------------------------------------------- per layer

CATALOG_LAYERS = ["queries.build_s", "queries.build_jobs", "queries.plan_s",
                  "queries.exec_s", "queries.count_s"]
EXEC_LAYERS = ["exec.jobs", "exec.stages", "exec.tasks", "exec.single_task_stages",
               "exec.single_task_stage_s", "exec.task_s", "exec.cpu_util", "exec.gap_s",
               "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb", "exec.gc_s",
               "ops.task_s", "text.task_s", "sim.task_s"]
MEDALLION_LAYERS = ["pipeline.bronze_s", "meta.audit_read_s", "meta.audit_files",
                    "pipeline.silver_s", "sources.snapshot_s", "sources.log_versions",
                    "sources.live_files", "sources.files_rewritten",
                    "sources.bytes_written_mb", "sources.write_amp",
                    "pipeline.gold_dim_s", "pipeline.gold_fact_s",
                    "rows.landed", "rows.quarantined", "rows.deduped", "rows.expired",
                    "rows.inserted", "rows.fk_unmatched"]
SELF_KINDS = ["build", "plan", "exec", "bronze", "silver", "gold_dim", "gold_fact",
              "job", "stage"]
OTHER_LAYERS = ["cache.peak_mb", "host.probe_ms", "host.pprobe_ms", "trace.overhead"]
PER_LAYER = (CATALOG_LAYERS + EXEC_LAYERS + MEDALLION_LAYERS + OTHER_LAYERS +
             [f"self.{k}_s" for k in SELF_KINDS])
UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "cpu_util": "ratio", "write_amp": "ratio",
         "trace.overhead": "ratio"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _exec_stats(op_span, desc, by_id):
    """Spark-side totals under one operation span."""
    below = desc.get(op_span["id"], [])
    jobs = [s for s in below if s["kind"] == "job"]
    stages = [s for s in below if s["kind"] == "stage"]
    one = [s for s in stages if s.get("tasks") == 1]
    gap = 0.0
    stage_iv = [(s["start_us"], s["end_us"]) for s in stages]
    for e in [s for s in below if s["kind"] == "exec"] or [op_span]:
        gap += (e["end_us"] - e["start_us"]
                - union_length(stage_iv, e["start_us"], e["end_us"])) / 1e6
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.single_task_stages": len(one),
        "exec.single_task_stage_s": sum((s["end_us"] - s["start_us"]) / 1e6 for s in one),
        "exec.task_s": sum(s["task_s"] for s in stages),
        "exec.gap_s": gap,
        "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / MB,
        "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / MB,
        "exec.spill_mb": sum(s["spill_b"] for s in stages) / MB,
        "exec.gc_s": sum(s["gc_s"] for s in stages),
        "build_jobs": sum(1 for s in jobs
                          if by_id.get(s["parent"], {}).get("kind") == "build"),
    }


def per_layer(result, spans):
    """Per-layer metrics of a traced run: per-pass sums (catalogs) or
    per-batch values (medallion), each the median over the traced passes or
    batches. Metrics of layers a workload does not touch are 0."""
    out = {name: 0.0 for name in PER_LAYER}
    cpus = result["cpus"]
    desc = descendants(spans)
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    ops = result["ops"]
    traced = [o for o in ops if o["traced_pass"]]
    untraced = [o for o in ops if not o["traced_pass"]]
    medallion = result["workload"] == "medallion_incremental"
    groups = defaultdict(list)  # pass -> traced ops
    for o in traced:
        groups[o["pass"]].append(o)

    per_group = []
    for p, group in sorted(groups.items()):
        g = defaultdict(float)
        for o in group:
            span = by_id.get(o["span"])
            if span is None:
                continue
            st = _exec_stats(span, desc, by_id)
            for k, v in st.items():
                if k.startswith("exec."):
                    g[k] += v
            if not medallion:
                g["queries.build_jobs"] += st["build_jobs"]
            mod = o.get("module")
            if mod:
                g[f"{mod}.task_s"] += st["exec.task_s"]
            g["_wall"] += o["wall_s"]
            if medallion:
                for k in ("bronze", "silver", "gold_dim", "gold_fact"):
                    g[f"pipeline.{k}_s"] += o.get(f"{k}_s", 0.0)
            else:
                for k in ("build", "plan", "exec", "count"):
                    g[f"queries.{k}_s"] += o.get(f"{k}_s", 0.0)
            for s in [span] + desc.get(span["id"], []):
                if s["kind"] in SELF_KINDS:
                    g[f"self.{s['kind']}_s"] += selfs[s["id"]]
        g["exec.cpu_util"] = g["exec.task_s"] / (g["_wall"] * cpus) if g["_wall"] else 0.0
        per_group.append(g)
    for name in PER_LAYER:
        vals = [g[name] for g in per_group if name in g]
        if vals:
            out[name] = median(vals)

    if medallion:
        counters = {"meta.audit_read_s": "audit_read_s", "meta.audit_files": "audit_files",
                    "sources.snapshot_s": "snapshot_s", "sources.log_versions": "log_versions",
                    "sources.live_files": "live_files",
                    "sources.files_rewritten": "files_rewritten",
                    "sources.bytes_written_mb": "bytes_written_mb",
                    "sources.write_amp": "write_amp", "rows.landed": "landed",
                    "rows.quarantined": "quarantined", "rows.deduped": "deduped",
                    "rows.expired": "expired", "rows.inserted": "inserted",
                    "rows.fk_unmatched": "fk_unmatched"}
        for name, key in counters.items():
            vals = [o[key] for o in ops if key in o]
            if vals:
                out[name] = median(vals)
        probes = [o["probe_ms"] for o in ops]
        pprobes = [o["pprobe_ms"] for o in ops]
        first = min(o["batch"] for o in ops)
        tw = [o["wall_s"] for o in traced]
        uw = [o["wall_s"] for o in untraced if o["batch"] != first]
    else:
        passes = result["passes"]
        probes = [p["probe_ms"] for p in passes]
        pprobes = [p["pprobe_ms"] for p in passes]
        out["cache.peak_mb"] = median([p["cache_peak_mb"] for p in passes if p["traced_pass"]])
        tw = [p["wall_s"] for p in passes if p["traced_pass"]]
        uw = [p["wall_s"] for p in passes if not p["traced_pass"] and p["pass"] != 1]
    out["host.probe_ms"] = median(probes)
    out["host.pprobe_ms"] = median(pprobes)
    # traced / untraced wall - 1 within the run, leaving out the first
    # measured pass (batch), which is still warming up
    out["trace.overhead"] = median(tw) / median(uw) - 1.0 if tw and uw else 0.0
    return {name: (out[name], unit_of(name)) for name in PER_LAYER}

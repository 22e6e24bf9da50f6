"""Metrics from one run's raw record: percentiles, span self times, the
end-to-end and per-layer tables and the report printed before the JSON line.

End-to-end metrics come from the untraced timed passes only; the
per-layer metrics come from the traced passes of a ``--trace 1`` run, which
alternates untraced and traced passes so that ``trace.overhead_ratio`` is
measured on one warm JVM.

The end-to-end metrics are CPU time, not wall time: on a few cores shared
with other tenants, a pass's wall time swings by a quarter or more from one
minute to the next, while the CPU time the engine spends on it moves much
less. Wall times are printed in the report and are per-layer metrics
(``bench.*``).
"""
import statistics
from collections import defaultdict

# name -> unit. The JSON line of a --trace 0 run carries exactly these.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}

RELATIONAL_VERBS = ["join", "subtract", "sample", "take", "select"]
GRAPH_OPS = ["page_rank", "k_core"]
SELF_LAYERS = ["bench", "warehouse", "relational", "dedup", "graph", "merge",
               "spark.action", "spark.plan", "spark.sched", "spark.exec"]


def _per_layer():
    m = {
        "bench.wall_s": "s", "bench.op_p50_s": "s", "bench.throughput_per_s": "1/s",
        "jvm.process_cpu_s": "s", "jvm.jit_s": "s", "jvm.gc_s": "s",
        "spark.plan.analysis_s": "s", "spark.plan.optimization_s": "s",
        "spark.plan.physical_s": "s",
        "spark.sched.jobs": "count", "spark.sched.stages": "count",
        "spark.sched.tasks": "count", "spark.sched.task_overhead_s": "s",
        "spark.sched.result_mib": "MiB",
        "spark.exec.run_s": "s", "spark.exec.cpu_s": "s", "spark.exec.gc_s": "s",
        "spark.exec.shuffle_read_mib": "MiB", "spark.exec.shuffle_write_mib": "MiB",
        "spark.exec.spill_mib": "MiB", "spark.exec.input_mib": "MiB",
        "spark.exec.input_rows": "count", "spark.exec.busy_ratio": "ratio",
        "warehouse.load.call_s": "s", "warehouse.rows_scanned_per_row_returned": "ratio",
        "warehouse.append.call_s": "s", "warehouse.save_versioned.call_s": "s",
        "warehouse.compact.call_s": "s", "warehouse.vacuum.call_s": "s",
        "warehouse.files_written": "count", "warehouse.output_mib": "MiB",
        "warehouse.read_after_write_p50_s": "s", "warehouse.write_rows_per_s": "1/s",
        "warehouse.stored_bytes_per_user_byte": "ratio",
    }
    for v in RELATIONAL_VERBS:
        m[f"relational.{v}.call_s"] = "s"
        m[f"relational.{v}.action_s"] = "s"
    for v in ["minhash_lsh", "ngram_jaccard"]:
        m[f"dedup.{v}.action_s"] = "s"
    m["dedup.pairs_out"] = "count"
    m["dedup.pairs_per_cpu_s"] = "1/s"
    m["dedup.docs_per_s"] = "1/s"
    for v in GRAPH_OPS:
        m[f"graph.{v}.call_s"] = "s"
        m[f"graph.{v}.action_s"] = "s"
    m.update({"graph.edge_rounds_per_s": "1/s", "graph.round_s": "s",
              "graph.jobs_per_round": "count",
              "graph.tasks_per_round": "count", "merge.upsert.action_s": "s",
              "session.build_s": "s", "session.warmup_s": "s", "session.prime_s": "s",
              "session.peak_heap_mib": "MiB", "input.generate_s": "s"})
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = "s"
    m["trace.overhead_ratio"] = "ratio"
    return m


# name -> unit. The JSON line of a --trace 1 run carries exactly these.
PER_LAYER = _per_layer()
MIB = 1024 * 1024


# --------------------------------------------------------------- percentiles

def tail_percentile(n, beyond=10):
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples above it, or None when there are too few samples."""
    for p in range(99, 0, -1):
        if n - (n * p + 99) // 100 >= beyond:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    k = max(1, -(-len(xs) * p // 100))
    return xs[k - 1]


# ----------------------------------------------------------------- self time

def covered(start, end, intervals):
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
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


def self_times(spans, slack=0.0):
    """Self time of every span: its duration minus the part of it that its
    child spans cover. A span's parent is the shortest span of a lower level
    that contains its start (within ``slack``, for clocks with millisecond
    resolution). Spans are dicts with ``start``, ``end`` and ``level``;
    returns a list of self times in the same order."""
    order = sorted(range(len(spans)), key=lambda i: (spans[i]["end"] - spans[i]["start"]))
    children = defaultdict(list)
    for i, c in enumerate(spans):
        parent = None
        for j in order:
            p = spans[j]
            if j != i and p["level"] < c["level"] and \
                    p["start"] - slack <= c["start"] <= p["end"] + slack:
                parent = j
                break
        if parent is not None:
            children[parent].append((c["start"], c["end"]))
    return [s["end"] - s["start"] - covered(s["start"], s["end"], children[i])
            for i, s in enumerate(spans)]


def span_layer(name):
    if name == "op":
        return "bench", 0
    if name == "sink":
        return "spark.action", 1
    return name.split(".")[0], 1


# ----------------------------------------------------------------- summarise

def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _passes(ops, field="latency_s"):
    by = defaultdict(float)
    for o in ops:
        by[o["pass"]] += o[field]
    return list(by.values())


def summarize(workload, manifest, result, verdicts, gen_s):
    """Everything a run reports: the metric tables, checks, host context."""
    facts = verdicts["facts"]
    ops = result["ops"]
    timed = [o for o in ops if not o["prime"]]
    untraced = [o for o in timed if not o["traced"]]
    traced = [o for o in timed if o["traced"]]

    # a failed check fails every execution of that op; every execution of
    # an ingest op ("b<batch>.<kind>") is checked on its own
    def key(o):
        return f"{o['op']}@{o['pass']}" if "." in o["op"] else o["op"]

    bad = {k for k, v in verdicts["ops"].items() if not v["ok"]}
    failed = [o for o in ops if o["error"] or key(o) in bad]
    problems = sorted({f"{key(o)}: {o['error'] or verdicts['ops'][key(o)]['why']}"
                       for o in failed})

    # set-up CPU: input generation in this process plus the JVM's round
    setups = [g["cpu_s"] + s["cpu_s"] for g, s in zip(gen_s, result["setups"])]
    walls = _passes(untraced)
    lat = [o["latency_s"] for o in untraced]
    m = _layers(workload, result, traced, untraced, facts, gen_s)
    m.update({
        "setup_s": _median(setups),
        "cpu_s": _median(_passes(untraced, "thread_cpu_s")),
        "bench.wall_s": _median(walls),
        "bench.op_p50_s": _median(lat),
        "bench.throughput_per_s": _throughput(untraced),
        "jvm.process_cpu_s": _median(_passes(untraced, "process_cpu_s")),
        "jvm.jit_s": _median(_passes(untraced, "jit_s")),
        "jvm.gc_s": _median(_passes(untraced, "gc_s")),
    })
    if workload == "operators":
        m.update(_rates(manifest, untraced, facts))

    loads = [x for o in timed for x in (o["load1m_start"], o["load1m_end"])]
    tail_p = tail_percentile(len(lat))
    return {
        "workload": workload, "seed": manifest["seed"], "nproc": result["nproc"],
        "metrics": m,
        "attempted": len(ops), "failed": len(failed), "problems": problems,
        "op_fail_ratio": len(failed) / len(ops),
        "timed_passes": len(walls), "timed_ops": len(lat),
        "op_tail": None if tail_p is None else (tail_p, percentile(lat, tail_p)),
        "read_after_write_p50_s": m["warehouse.read_after_write_p50_s"],
        "stored_bytes_per_user_byte": m["warehouse.stored_bytes_per_user_byte"],
        "load1m": {"min": min(loads), "median": _median(loads), "max": max(loads)},
        "setup_rounds_cpu_s": setups, "prime_s": result["prime_s"],
        "setup_rounds_s": [g["wall_s"] + s["session_s"] + s["prepare_s"] + s["warmup_s"]
                           for g, s in zip(gen_s, result["setups"])],
        "digests": facts.get("digests", {}),
        # the analytics reads of the warehouse workload (ingest ids have a dot)
        "queries_per_s": _throughput([o for o in untraced if "." not in o["op"]]),
    }


def _write_rows(ops, facts):
    rows = facts.get("rows_written", {})
    return sum(rows.get(f"{o['op']}@{o['pass']}", 0) for o in ops)


def _throughput(ops):
    """Ops per second of op time."""
    busy = sum(o["latency_s"] for o in ops)
    return len(ops) / busy if busy else 0.0


def _write_rows_per_s(ops, facts):
    """Rows written per second of write-op time: the batch for an append,
    the whole new version for an upsert, the log for a compaction."""
    writes = [o for o in ops if o["kind"] == "write"]
    busy = sum(o["latency_s"] for o in writes)
    return _write_rows(writes, facts) / busy if busy else 0.0


def _rates(manifest, ops, facts):
    """docs_per_s and edge_rounds_per_s of the operators workload."""
    dedup = [o for o in ops if o["verb"].startswith("dedup.")]
    graph = [o for o in ops if o["verb"].startswith("graph.")]
    d_busy = sum(o["latency_s"] for o in dedup)
    g_busy = sum(o["latency_s"] for o in graph)
    return {
        "dedup.docs_per_s": manifest["docs"] * len(dedup) / d_busy if d_busy else 0.0,
        "graph.edge_rounds_per_s": sum(facts["edges"] * facts["rounds"][o["op"]]
                                       for o in graph) / g_busy if g_busy else 0.0,
    }


def _layers(workload, result, traced, untraced, facts, gen_s):
    m = dict.fromkeys(PER_LAYER, 0.0)
    setups = result["setups"]
    m["session.build_s"] = _median(s["session_s"] for s in setups)
    m["session.warmup_s"] = _median(s["warmup_s"] for s in setups)
    m["session.prime_s"] = result["prime_s"]
    m["session.peak_heap_mib"] = result["heap_peak_mib"]
    m["input.generate_s"] = _median(g["wall_s"] for g in gen_s)
    m["warehouse.write_rows_per_s"] = _write_rows_per_s(untraced, facts)
    raw = [o for o in untraced if o["kind"] == "read_after_write"]
    m["warehouse.read_after_write_p50_s"] = _median(o["latency_s"] for o in raw)
    fin = result.get("finish") or {}
    if fin.get("fresh_bytes"):
        m["warehouse.stored_bytes_per_user_byte"] = fin["stored_bytes"] / fin["fresh_bytes"]
    if not traced:
        return m

    trace = result["trace"]
    n_pass = len(_passes(traced))
    groups = {f"p{o['pass']}/{o['op']}": o for o in traced}
    stages = [s for s in trace["stages"] if s.get("group") in groups]
    jobs = [j for j in trace["jobs"] if j.get("group") in groups]

    def ssum(k, sel=stages):
        return sum(s.get(k, 0) for s in sel)

    m["spark.sched.jobs"] = len(jobs) / n_pass
    m["spark.sched.stages"] = len(stages) / n_pass
    m["spark.sched.tasks"] = ssum("tasks") / n_pass
    m["spark.sched.task_overhead_s"] = (ssum("duration_ms") - ssum("run_ms")) / 1e3 / n_pass
    m["spark.sched.result_mib"] = ssum("result_bytes") / MIB / n_pass
    m["spark.exec.run_s"] = ssum("run_ms") / 1e3 / n_pass
    m["spark.exec.cpu_s"] = ssum("cpu_ns") / 1e9 / n_pass
    m["spark.exec.gc_s"] = ssum("gc_ms") / 1e3 / n_pass
    m["spark.exec.shuffle_read_mib"] = ssum("shuffle_read_bytes") / MIB / n_pass
    m["spark.exec.shuffle_write_mib"] = ssum("shuffle_write_bytes") / MIB / n_pass
    m["spark.exec.spill_mib"] = ssum("spill_bytes") / MIB / n_pass
    m["spark.exec.input_mib"] = ssum("input_bytes") / MIB / n_pass
    m["spark.exec.input_rows"] = ssum("input_rows") / n_pass
    busy = sum(o["latency_s"] for o in traced) * result["nproc"]
    m["spark.exec.busy_ratio"] = m["spark.exec.run_s"] * n_pass / busy if busy else 0.0
    m["warehouse.files_written"] = sum(
        (o.get("observed") or {}).get("files_written", 0) for o in traced) / n_pass
    m["warehouse.output_mib"] = sum(
        s.get("output_bytes", 0) for s in stages
        if groups[s["group"]]["kind"] == "write") / MIB / n_pass

    # planning phases: every executed query's tracker, attributed to the op
    # whose time window holds the phase
    windows = sorted((o["start_ns"], o["start_ns"] + o["latency_s"] * 1e9, f"p{o['pass']}/{o['op']}")
                     for o in traced)
    phase_spans = []
    for p in trace["phases"]:
        g = p["group"] if p["group"] in groups else next(
            (w[2] for w in windows if w[0] - 1e6 <= p["start_ns"] <= w[1] + 1e6), None)
        if g is None:
            continue
        phase_spans.append((g, p))
    name = {"analysis": "analysis_s", "optimization": "optimization_s", "planning": "physical_s"}
    for _, p in phase_spans:
        if p["phase"] in name:
            m[f"spark.plan.{name[p['phase']]}"] += (p["end_ns"] - p["start_ns"]) / 1e9 / n_pass

    # per-verb call and action times (medians over traced executions)
    spans = [s for s in trace["spans"] if s["op"] in groups]
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append((s["end_ns"] - s["start_ns"]) / 1e9)
    actions = defaultdict(list)
    for o in traced:
        actions[o["verb"]].append(o["action_s"])
    for key in PER_LAYER:
        for suffix, source in ((".call_s", by_name), (".action_s", actions)):
            if key.endswith(suffix):
                verb = key[: -len(suffix)]
                if verb in source:
                    m[key] = _median(source[verb])

    # rows a load scanned per row it returned
    loads = [o for o in traced if o["verb"] in ("warehouse.load", "warehouse.load_version")]
    returned = 0
    for o in loads:
        returned += (o.get("observed") or {}).get("rows",
                                                  facts.get("rows_returned", {}).get(o["op"], 0))
    scanned = sum(s.get("input_rows", 0) for s in stages
                  if groups[s["group"]]["verb"] in ("warehouse.load", "warehouse.load_version"))
    if returned:
        m["warehouse.rows_scanned_per_row_returned"] = scanned / returned

    if workload == "operators":
        m["dedup.pairs_out"] = facts.get("pairs_out", 0)
        cpu = sum(s.get("cpu_ns", 0) for s in stages
                  if groups[s["group"]]["verb"].startswith("dedup.")) / 1e9 / n_pass
        if cpu:
            m["dedup.pairs_per_cpu_s"] = facts.get("pairs_out", 0) / cpu
    graph = [o for o in traced if o["verb"].startswith("graph.")]
    if graph:
        rounds = sum(facts["rounds"][o["op"]] for o in graph)
        gset = {f"p{o['pass']}/{o['op']}" for o in graph}
        m["graph.round_s"] = sum(o["latency_s"] for o in graph) / rounds
        m["graph.jobs_per_round"] = sum(1 for j in jobs if j["group"] in gset) / rounds
        m["graph.tasks_per_round"] = ssum(
            "tasks", [s for s in stages if s["group"] in gset]) / rounds

    # self time per layer over the span tree of every traced op
    self_by = defaultdict(float)
    by_op = defaultdict(list)
    for s in spans:
        lay, lvl = span_layer(s["name"])
        by_op[s["op"]].append({"start": s["start_ns"], "end": s["end_ns"],
                               "level": lvl, "layer": lay})
    for g, p in phase_spans:
        by_op[g].append({"start": p["start_ns"], "end": p["end_ns"], "level": 2,
                         "layer": "spark.plan"})
    for j in jobs:
        if "end_ns" in j:
            by_op[j["group"]].append({"start": j["start_ns"], "end": j["end_ns"], "level": 2,
                                      "layer": "spark.sched"})
    for s in stages:
        if "start_ns" in s and "end_ns" in s:
            by_op[s["group"]].append({"start": s["start_ns"], "end": s["end_ns"], "level": 3,
                                      "layer": "spark.exec"})
    for tree in by_op.values():
        for s, t in zip(tree, self_times(tree, slack=1e6)):
            self_by[s["layer"]] += max(t, 0.0) / 1e9
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = self_by[layer] / n_pass

    walls_t = _passes(traced)
    walls_u = _passes(untraced)
    if walls_u:
        m["trace.overhead_ratio"] = _median(walls_t) / _median(walls_u)
    return m


# -------------------------------------------------------------------- report

def report_lines(workload, seed, r, trace):
    """Human-readable lines printed before the JSON result line."""
    m = r["metrics"]
    lines = [
        f"perfbench workload={workload} seed={seed} trace={trace} nproc={r['nproc']} "
        f"load1m min/median/max={r['load1m']['min']:.2f}/{r['load1m']['median']:.2f}/"
        f"{r['load1m']['max']:.2f}",
        f"  setup_s={m['setup_s']:.4f} s CPU (rounds: "
        + ", ".join(f"{x:.3f}" for x in r["setup_rounds_cpu_s"])
        + "; wall: " + ", ".join(f"{x:.3f}" for x in r["setup_rounds_s"])
        + f"; priming pass {r['prime_s']:.2f} s wall)",
        f"  cpu_s={m['cpu_s']:.4f} s CPU per pass in Java threads (whole JVM "
        f"{m['jvm.process_cpu_s']:.2f} s, JIT {m['jvm.jit_s']:.2f} s, GC {m['jvm.gc_s']:.2f} s)",
        f"  wall_s={m['bench.wall_s']:.4f} s  op_p50_s={m['bench.op_p50_s']:.4f} s  "
        f"ops_per_s={m['bench.throughput_per_s']:.4f} 1/s  "
        f"peak_heap_mib={m['session.peak_heap_mib']:.1f} MiB",
    ]
    tail = r["op_tail"]
    lines.append(
        f"  untraced ops timed={r['timed_ops']} in {r['timed_passes']} passes; "
        + (f"highest percentile with 10 beyond: p{tail[0]}={tail[1]:.4f} s" if tail else
           "too few ops for a percentile with 10 samples beyond it"))
    if workload == "operators":
        lines.append(f"  docs_per_s={m['dedup.docs_per_s']:.4f} 1/s  "
                     f"edge_rounds_per_s={m['graph.edge_rounds_per_s']:.4f} 1/s")
    if workload == "warehouse":
        lines.append(f"  queries_per_s={r['queries_per_s']:.4f} 1/s  "
                     f"write_rows_per_s={m['warehouse.write_rows_per_s']:.4f} 1/s  "
                     f"read_after_write_p50_s={r['read_after_write_p50_s']:.4f} s  "
                     f"stored_bytes_per_user_byte={r['stored_bytes_per_user_byte']:.4f} ratio")
    if trace:
        for k, unit in PER_LAYER.items():
            lines.append(f"  {k}={m[k]:.6g} {unit}")
    lines.append(f"  checks: op_fail_ratio={r['failed']}/{r['attempted']}="
                 f"{r['op_fail_ratio']:.4f} ratio")
    lines += [f"  FAILED {p}" for p in r["problems"]]
    return lines

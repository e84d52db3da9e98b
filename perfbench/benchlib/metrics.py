"""Metrics from one run's raw samples (the JVM harness's result file)."""
import statistics

MB = 1048576.0
TAIL_PERCENTILES = (99.9, 99, 95, 90, 75, 50)
MR_PROGRAMS = ("wc", "grep", "vertex_degree", "matrix_multiply_1", "matrix_multiply_2")
SELF_LAYERS = {
    "op": "self.op_s",
    "queries.build": "self.queries_build_s",
    "queries.action": "self.queries_action_s",
    "core.run": "self.core_run_s",
    "streaming.process_batch": "self.streaming_process_batch_s",
    "streaming.compact": "self.streaming_compact_s",
}

END_TO_END = [
    ("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
    ("op_p50_s", "s"), ("op_tail_s", "s"), ("retained_heap_mb", "MB"),
]

PER_LAYER = (
    [(f"core.run_s.{p}", "s") for p in MR_PROGRAMS]
    + [("core.combine_ratio", "ratio"),
       ("queries.build_s", "s"), ("queries.action_s", "s"),
       ("planning.analysis_ms", "ms"), ("planning.optimization_ms", "ms"),
       ("planning.planning_ms", "ms"),
       ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
       ("sched.driver_gap_s", "s"), ("exec.task_busy_s", "s"), ("exec.core_util", "ratio"),
       ("exchange.shuffle_write_mb", "MB"), ("exchange.shuffle_read_mb", "MB"),
       ("exchange.spill_mb", "MB"), ("exchange.skew", "ratio"),
       ("ops.pagerank_s", "s"), ("ops.hits_s", "s"), ("ops.trustrank_s", "s"),
       ("ops.jobs_per_round", "count"), ("ops.shuffle_mb_per_round", "MB"),
       ("ops.edge_rows", "count"),
       ("streaming.process_batch_s", "s"), ("streaming.compact_s", "s"),
       ("streaming.state_files", "count"), ("streaming.write_amp", "ratio"),
       ("storage.ckpt_left", "count"),
       ("jvm.gc_ms", "ms"), ("jvm.jit_ms", "ms"), ("codegen.compile_ms", "ms")]
    + [(name, "s") for name in SELF_LAYERS.values()]
    + [("self.spark_jobs_s", "s"), ("trace.overhead_s", "s")]
)


def tail(samples):
    """The highest of TAIL_PERCENTILES that has at least ten samples
    beyond it: (percentile, value, n).  With fewer than 20 samples no
    listed percentile qualifies and the percentile is None."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        # nearest rank ceil(p/100 * n), in integer tenths of a percent
        rank = max(1, -(-round(p * 10) * n // 1000))
        if n - rank >= 10:
            return p, xs[rank - 1], n
    return None, (statistics.median(xs) if xs else 0.0), n


def check_ops(ops, expected):
    """Mark each op ok or failed against the expected digests; return
    (attempted, failed, first failures)."""
    failed, notes = 0, []
    for op in ops:
        want = expected.get(op["name"])
        ok = (op["error"] is None and want is not None
              and op["sha"] == want["sha"] and op["rows"] == want["rows"])
        op["ok"] = ok
        if not ok:
            failed += 1
            if len(notes) < 5:
                got = op["error"] or f"rows={op['rows']} sha={str(op['sha'])[:12]}"
                exp = f"rows={want['rows']} sha={want['sha'][:12]}" if want else "no expected result"
                notes.append(f"{op['name']} pass {op['pass']}: got {got}, expected {exp}")
    return len(ops), failed, notes


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def end_to_end(result):
    ops = [o for o in result["ops"] if o["pass"] >= 0]
    passes = result["passes"]
    cold = [p["wall_s"] for p in passes if p["pass"] == 0]
    warm = [p["wall_s"] for p in passes if p["pass"] > 0]
    warm_ops = [o["wall_s"] for o in ops if o["pass"] > 0]
    pct, tail_v, n = tail(warm_ops)
    values = {
        "setup_s": result["setup_s"],
        "cold_pass_s": cold[0],
        "warm_pass_s": _median(warm),
        "op_p50_s": _median(warm_ops),
        "op_tail_s": tail_v,
        "retained_heap_mb": max(o["heap_mb"] for o in result["ops"]),
    }
    return values, {"tail_percentile": pct, "tail_n": n}


def _union(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def per_layer(result):
    """Per-layer metrics of a traced run: per-pass totals over the traced
    warm passes (median across them); JVM counters over the cold pass;
    rank-loop figures from the direct calls."""
    ops = result["ops"]
    cores = result["cores"]
    spans = [dict(zip(("id", "parent", "name", "op", "start", "end"), s)) for s in result["spans"]]
    jobs = [dict(zip(("id", "op", "span", "start", "end"), j)) for j in result["jobs"]]
    stages_by_op = {}
    for st in result["stages"]:
        stages_by_op.setdefault(st["op"], []).append(st)
    spans_by_op, children = {}, {}
    for s in spans:
        spans_by_op.setdefault(s["op"], []).append(s)
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    jobs_by_op = {}
    for j in jobs:
        if j["end"] < 0:
            continue
        jobs_by_op.setdefault(j["op"], []).append(j)
        children.setdefault(j["span"], []).append((j["start"], j["end"]))

    traced_warm = sorted({o["pass"] for o in ops if o["traced"] and o["pass"] > 0})
    pass_walls = {p["pass"]: p for p in result["passes"]}

    def per_pass(fn):
        return _median([fn(p, [o for o in ops if o["pass"] == p]) for p in traced_warm])

    def stage_sum(pops, key):
        return sum(st[key] for o in pops for st in stages_by_op.get(o["id"], []))

    def span_total(pops, name):
        return sum((s["end"] - s["start"]) / 1000.0
                   for o in pops for s in spans_by_op.get(o["id"], []) if s["name"] == name)

    def self_time(pops, name):
        total = 0.0
        for o in pops:
            for s in spans_by_op.get(o["id"], []):
                if s["name"] == name:
                    covered = _union(children.get(s["id"], []), s["start"], s["end"])
                    total += (s["end"] - s["start"] - covered) / 1000.0
        return total

    def driver_gap(pops):
        gap = 0.0
        for o in pops:
            roots = [s for s in spans_by_op.get(o["id"], []) if s["name"] == "op"]
            for r in roots:
                iv = [(j["start"], j["end"]) for j in jobs_by_op.get(o["id"], [])]
                gap += (r["end"] - r["start"] - _union(iv, r["start"], r["end"])) / 1000.0
        return gap

    def skew(pops):
        worst = 0.0
        for o in pops:
            for st in stages_by_op.get(o["id"], []):
                reads = sorted(st["task_reads"])
                if len(reads) >= 2 and statistics.median(reads) > 0:
                    worst = max(worst, reads[-1] / statistics.median(reads))
        return worst

    def counter(pops, key):
        return sum(o["counters"].get(key, 0.0) for o in pops)

    def op_wall(pops, name):
        return sum(o["wall_s"] for o in pops if o["name"] == name)

    m = {}
    for prog in MR_PROGRAMS:
        m[f"core.run_s.{prog}"] = per_pass(lambda p, pops, prog=prog: op_wall(pops, prog))
    mr_ops = [o for o in ops if o["name"] in MR_PROGRAMS and o["pass"] in traced_warm]
    shuffled = stage_sum(mr_ops, "shuffle_records")
    m["core.combine_ratio"] = stage_sum(mr_ops, "output_records") / shuffled if shuffled else 0.0
    m["queries.build_s"] = per_pass(lambda p, pops: span_total(pops, "queries.build"))
    m["queries.action_s"] = per_pass(lambda p, pops: span_total(pops, "queries.action"))
    for phase in ("analysis", "optimization", "planning"):
        m[f"planning.{phase}_ms"] = per_pass(
            lambda p, pops, k=f"planning_{phase}_ms": counter(pops, k))
    m["sched.jobs"] = per_pass(lambda p, pops: sum(len(jobs_by_op.get(o["id"], [])) for o in pops))
    m["sched.stages"] = per_pass(lambda p, pops: sum(
        1 for o in pops for st in stages_by_op.get(o["id"], []) if st["tasks"] > 0))
    m["sched.tasks"] = per_pass(lambda p, pops: stage_sum(pops, "tasks"))
    m["sched.driver_gap_s"] = per_pass(lambda p, pops: driver_gap(pops))
    m["exec.task_busy_s"] = per_pass(lambda p, pops: stage_sum(pops, "busy_ms") / 1000.0)
    m["exec.core_util"] = per_pass(lambda p, pops: stage_sum(pops, "busy_ms") / 1000.0
                                   / (pass_walls[p]["wall_s"] * cores))
    m["exchange.shuffle_write_mb"] = per_pass(lambda p, pops: stage_sum(pops, "shuffle_write") / MB)
    m["exchange.shuffle_read_mb"] = per_pass(lambda p, pops: stage_sum(pops, "shuffle_read") / MB)
    m["exchange.spill_mb"] = per_pass(lambda p, pops: stage_sum(pops, "spill") / MB)
    m["exchange.skew"] = per_pass(lambda p, pops: skew(pops))

    probe = [o for o in ops if o["pass"] == -1]
    rounds = result["probe"].get("rounds", 0)
    for name, key in (("ops.pagerank", "ops.pagerank_s"), ("ops.hits", "ops.hits_s"),
                      ("ops.trustrank", "ops.trustrank_s")):
        m[key] = op_wall(probe, name)
    m["ops.jobs_per_round"] = (sum(len(jobs_by_op.get(o["id"], [])) for o in probe) / rounds
                               if rounds else 0.0)
    m["ops.shuffle_mb_per_round"] = stage_sum(probe, "shuffle_write") / MB / rounds if rounds else 0.0
    m["ops.edge_rows"] = float(result["probe"].get("edge_rows", 0))

    m["streaming.process_batch_s"] = _median(
        [(s["end"] - s["start"]) / 1000.0 for o in ops if o["pass"] in traced_warm
         for s in spans_by_op.get(o["id"], []) if s["name"] == "streaming.process_batch"])
    m["streaming.compact_s"] = _median(
        [(s["end"] - s["start"]) / 1000.0 for o in ops if o["pass"] in traced_warm
         for s in spans_by_op.get(o["id"], []) if s["name"] == "streaming.compact"])
    m["streaming.state_files"] = _median(
        [pass_walls[p].get("state_files", 0.0) for p in traced_warm])
    m["streaming.write_amp"] = _median([pass_walls[p].get("write_amp", 0.0) for p in traced_warm])
    m["storage.ckpt_left"] = per_pass(lambda p, pops: sum(o["ckpt_left"] for o in pops))

    cold_ops = [o for o in ops if o["pass"] == 0]
    m["jvm.gc_ms"] = counter(cold_ops, "gc_ms")
    m["jvm.jit_ms"] = counter(cold_ops, "jit_ms")
    m["codegen.compile_ms"] = counter(cold_ops, "codegen_ms")

    for layer, key in SELF_LAYERS.items():
        m[key] = per_pass(lambda p, pops, layer=layer: self_time(pops, layer))
    m["self.spark_jobs_s"] = per_pass(lambda p, pops: sum(
        _union([(j["start"], j["end"]) for j in jobs_by_op.get(o["id"], [])],
               float("-inf"), float("inf"))
        for o in pops) / 1000.0)

    traced_walls = [pass_walls[p]["wall_s"] for p in traced_warm]
    untraced_walls = [p["wall_s"] for p in result["passes"] if p["pass"] > 0 and not p["traced"]]
    m["trace.overhead_s"] = _median(traced_walls) - _median(untraced_walls)
    return m

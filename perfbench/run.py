#!/usr/bin/env python3
"""The repo benchmark: one workload, one fresh JVM, a closed loop with one
client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  It builds the engine plus the harness
(cached by source hash), generates the seed's inputs and their expected
results (cached per seed), runs the workload and checks every operation's
output.  The last stdout line is one JSON object: correct, attempted,
failed and metrics (end-to-end metrics with --trace 0, per-layer metrics
with --trace 1).  See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from benchlib import build, expect, gen, metrics  # noqa: E402
from benchlib.workloads import (  # noqa: E402
    GRAPH_QUERIES, MID_QUERIES, ORACLE_NAMES, QUERY_MIX, WORKLOADS)

HEAP = "3g"
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def oracle_sql(build_dir, stamp):
    path = os.path.join(build_dir, "oracle_sql.json")
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp and set(ORACLE_NAMES) <= set(cached["sql"]):
            return cached["sql"]
    tmp = path + ".raw"
    cmd = ["java", "-XX:-UsePerfData", "-cp", build.classpath(build_dir), "graft.bench.Harness",
           "--oracle-sql", ",".join(ORACLE_NAMES), "--out", tmp]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    with open(tmp) as f:
        sql = json.load(f)
    os.remove(tmp)
    with open(path, "w") as f:
        json.dump({"stamp": stamp, "sql": sql}, f)
    return sql


def sql_key(sql, names):
    """Cache key of expected results: they change only with the oracle SQL."""
    return hashlib.sha256(json.dumps([sql[n] for n in names]).encode()).hexdigest()[:16]


def cached(path, fn):
    """fn() once, pickled at path."""
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    value = fn()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


def mid_graph_dir(data_root):
    return os.path.join(data_root, "inputs", "query_mix", f"mid-{gen.GRAPH_SEED}-{gen.VERSION}")


def fixed_inputs(data_root, sql):
    """Inputs that do not vary with the seed, with their expected digests:
    the sf0.01 test tables and a mid-size link graph for query_mix, and
    graph_rank's 60k-page corpus, whose DuckDB oracles take minutes (so
    they are computed once, on the first run in a checkout)."""
    tmp = os.path.join(data_root, "duckdb-tmp")
    exp_dir = os.path.join(data_root, "expected")
    graph_dir = os.path.join(data_root, "inputs", "graph_rank", f"{gen.GRAPH_SEED}-{gen.VERSION}")
    mid_dir = mid_graph_dir(data_root)
    for d, size in ((graph_dir, {}),
                    (mid_dir, {"docs": gen.GRAPH_MID_DOCS, "id_space": gen.GRAPH_MID_ID_SPACE})):
        if not os.path.exists(os.path.join(d, "DONE")):
            shutil.rmtree(d, ignore_errors=True)
            gen.gen_graph(gen.GRAPH_SEED, d, **size)
            open(os.path.join(d, "DONE"), "w").close()
    qm = cached(os.path.join(exp_dir, f"query_mix-{sql_key(sql, QUERY_MIX)}.pkl"),
                lambda: expect.oracle_expected(gen.TABLES_DIR, sql, QUERY_MIX, tmp))
    mid = cached(os.path.join(exp_dir, f"query_mix-mid-{gen.VERSION}-{sql_key(sql, MID_QUERIES)}.pkl"),
                 lambda: expect.oracle_expected(mid_dir, sql, MID_QUERIES, tmp))
    qm = dict(qm, **{f"{q}@mid": mid[q] for q in MID_QUERIES})
    gr = cached(os.path.join(exp_dir, f"graph_rank-{gen.VERSION}-{sql_key(sql, GRAPH_QUERIES)}.pkl"),
                lambda: expect.oracle_expected(graph_dir, sql, GRAPH_QUERIES, tmp))
    return {"query_mix": (gen.TABLES_DIR, qm), "graph_rank": (graph_dir, gr)}


def seeded_inputs(name, seed, data_root, sql):
    """Inputs generated from the seed, with their expected digests."""
    in_dir = os.path.join(data_root, "inputs", name, f"{seed}-{gen.VERSION}")
    facts_path = os.path.join(in_dir, "facts.pkl")
    if not os.path.exists(os.path.join(in_dir, "DONE")):
        shutil.rmtree(in_dir, ignore_errors=True)
        facts = gen.GENERATORS[name](seed, in_dir)
        with open(facts_path, "wb") as f:
            pickle.dump(facts, f)
        open(os.path.join(in_dir, "DONE"), "w").close()

    def compute():
        if name == "mr_reference":
            with open(facts_path, "rb") as f:
                return expect.mr_expected(pickle.load(f))
        files = [os.path.join(in_dir, f"b{b:03d}.parquet") for b in range(gen.STREAM_BATCHES)]
        return expect.stream_expected(files, gen.STREAM_BATCH_DOCS,
                                      sql["q100_curation_pipeline"],
                                      os.path.join(data_root, "duckdb-tmp"))
    sql_part = "" if name == "mr_reference" else "-" + sql_key(sql, ["q100_curation_pipeline"])
    key = os.path.join(data_root, "expected", f"{name}-{seed}-{gen.VERSION}{sql_part}.pkl")
    return in_dir, cached(key, compute)


def prepare(name, seed, data_root, sql):
    fixed = fixed_inputs(data_root, sql)
    if name in fixed:
        in_dir, exp = fixed[name]
    else:
        in_dir, exp = seeded_inputs(name, seed, data_root, sql)
    exp = dict(exp)
    for op, q in expect.RANK_OPS.items():
        if q in exp:
            exp[op] = exp[q]
    return in_dir, exp


def run_jvm(name, in_dir, mid_dir, work, build_dir, seconds, trace, deadline):
    w = WORKLOADS[name]
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    args = {
        "workload": name, "data": in_dir, "work": work, "out": out,
        "cores": str(cores()), "seconds": str(seconds), "trace": str(trace),
        "min-warm": str(w["min_warm"]),
        "queries": ",".join(w.get("queries", [])),
        "mid-data": mid_dir, "mid-queries": ",".join(w.get("mid_queries", [])),
        "rank-ops": ",".join(w.get("rank_ops", [])),
        "batches": str(gen.STREAM_BATCHES), "compact-every": str(w.get("compact_every", 1)),
    }
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"]
           + build.java_opts()
           + ["-cp", build.classpath(build_dir), "graft.bench.Harness"])
    args["launch-ms"] = str(int(time.time() * 1000))
    for k, v in args.items():
        cmd += [f"--{k}", v]
    proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    try:
        _, err = proc.communicate(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("workload run timed out")
    if proc.returncode != 0:
        raise RuntimeError(f"harness exited {proc.returncode}:\n{err[-4000:]}")
    for line in err.splitlines():
        if line.startswith("[perfbench]"):
            log(line[len("[perfbench] "):])
    with open(out) as f:
        return json.load(f)


def report(name, result, expected, trace):
    attempted, failed, notes = metrics.check_ops(result["ops"], expected)
    for n in notes:
        log(f"WRONG: {n}")
    defs = metrics.PER_LAYER if trace else metrics.END_TO_END
    if trace:
        values = metrics.per_layer(result)
    else:
        values, extra = metrics.end_to_end(result)
    for key, unit in defs:
        print(f"{name} {key} {values[key]:.6g} {unit}")
    print(f"{name} fail_ratio {failed / attempted:.6g} ratio (failed {failed} of {attempted})")
    if not trace:
        pct = extra["tail_percentile"]
        print(f"{name} op_tail_s at " + (f"p{pct:g}" if pct else "p50 (fewer than 20 warm ops)")
              + f" of n={extra['tail_n']} warm ops")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in defs}}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.time()
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    data_root = os.path.join(root, ".bench_data")
    try:
        os.makedirs(build_dir, exist_ok=True)
        stamp = build.build(root, build_dir, log)
        sql = oracle_sql(build_dir, stamp)
        in_dir, expected = prepare(a.workload, a.seed, data_root, sql)
        work = os.path.join(data_root, "work", a.workload)
        # the first run in a checkout also builds and computes the fixed
        # inputs' oracles, so the limit counts from here
        result = run_jvm(a.workload, in_dir, mid_graph_dir(data_root), work, build_dir,
                         a.seconds, a.trace,
                         time.time() + RUN_LIMIT_S - min(60.0, time.time() - started))
    except (build.BuildError, RuntimeError, subprocess.CalledProcessError) as e:
        log(f"error: {e}")
        return 2
    out = report(a.workload, result, expected, a.trace)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

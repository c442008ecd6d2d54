#!/usr/bin/env python3
"""Benchmark of the graft engine as a Warp 10 user meets it.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the SUT from source (once per source state),
generates the workload's inputs from the seed, starts the SUT JVM,
drives it from this process for S seconds, checks every answer, and
prints one JSON object as the last line of standard output. See
perfbench/README.md for the workloads, metrics and layers.
"""
import argparse
import json
import os
import re
import resource
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from pb import gen, loads, stats  # noqa: E402
from pb import sut as sutmod  # noqa: E402

WORKLOADS = ("exec-dashboard", "ingest-fetch")

END_TO_END = {
    "op_p50_ms": "ms", "op_p75_ms": "ms", "ops_per_s": "1/s",
    "setup_s": "s", "rss_peak_mb": "MB", "ok_share": "ratio",
}

PER_LAYER = {
    "surface.overhead_ms": "ms", "surface.resp_bytes": "bytes",
    "script.tokenize_us": "us", "script.run_ms": "ms",
    "script.self_ms": "ms", "script.tokens": "count",
    "sources.parse_ns_per_line": "ns",
    "operators.plan_nodes": "count", "operators.exchanges": "count",
    "operators.scans": "count",
    "kernels.stl_us_per_series": "us", "kernels.lowess_us_per_series": "us",
    "kernels.lttb_us_per_series": "us", "kernels.esd_us_per_series": "us",
    "text.lsh_candidates": "count", "text.dup_pairs": "count",
    "text.lsh_precision": "ratio",
    "model.sink_files": "count", "model.scan_bytes": "bytes",
    "model.scan_records": "count",
    "streaming.batches": "count", "streaming.trigger_p50_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_commit_ms": "ms",
    "streaming.input_rows_per_s": "1/s",
    "spark.plan.analysis_ms": "ms", "spark.plan.optimization_ms": "ms",
    "spark.plan.planning_ms": "ms", "spark.codegen.compiles": "count",
    "spark.codegen.compile_ms": "ms", "spark.sched.actions": "count",
    "spark.sched.jobs": "count", "spark.sched.stages": "count",
    "spark.sched.tasks": "count", "spark.sched.task_overhead_ms": "ms",
    "spark.exec.run_ms": "ms", "spark.exec.cpu_ms": "ms",
    "spark.exec.gc_ms": "ms", "spark.exec.spill_bytes": "bytes",
    "spark.exec.busy_share": "ratio", "spark.shuffle.write_bytes": "bytes",
    "spark.shuffle.read_bytes": "bytes", "spark.shuffle.fetch_wait_ms": "ms",
    "loadgen.late_ms_max": "ms", "loadgen.cpu_s": "s",
    "trace.overhead_ms": "ms",
}

INGEST_PERIOD_S = 0.125     # one file per period, one point per series
INGEST_TRIGGER_MS = 500
# a written point must reach a reader this fast: ~1.8x the slowest
# visibility seen at the offered rate on a 4-core box (3.3 s)
INGEST_VISIBLE_LIMIT_S = 6.0
INGEST_WARM_FILES = 8
INGEST_READERS = 3
INGEST_ROLLUP_US = 60_000_000


def log(*a):
    print(*a, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def cpu_s():
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def du(path):
    total, files = 0, 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
            files += 1
    return total, files


# ------------------------------------------------------------ inputs

def generate(workload, seed, d):
    """Write the workload's inputs; returns (dataset sizes, state)."""
    os.makedirs(d, exist_ok=True)
    gen.write_common(seed, d)
    if workload == "exec-dashboard":
        data = gen.ExecData(seed)
        points = data.write(d)
        sizes = {"series": len(gen.EXEC_CLASSES) * gen.EXEC_HOSTS,
                 "points": points, "documents": 0}
        state = loads.ExecLoad(data)
    else:
        gen.write_meta(d, {"trigger_ms": INGEST_TRIGGER_MS,
                           "rollup_span_us": INGEST_ROLLUP_US})
        state = loads.IngestLoad(seed, os.path.join(d, "in"), INGEST_PERIOD_S,
                                 INGEST_WARM_FILES, INGEST_VISIBLE_LIMIT_S)
        state.write_warm()
        sizes = {"series": gen.INGEST_SERIES,
                 "points": INGEST_WARM_FILES * gen.INGEST_SERIES,
                 "documents": 0}
    sizes["bytes_on_disk"] = du(d)[0]
    return sizes, state


# ------------------------------------------------------ session parity

def bench_confs(cores):
    """The .config(...) pairs graft.Bench.runInProcess sets, with env
    defaults and `cpus` resolved as Bench would resolve them here."""
    path = os.path.join(ROOT, "src/main/scala/graft/Bench.scala")
    try:
        with open(path) as f:
            src = f.read()
        body = src[src.index("def runInProcess"):]
        body = body[:body.index(".getOrCreate()")]
    except (OSError, ValueError):
        return None
    out = {}
    for m in re.finditer(r'\.config\("([^"]+)",\s*(.*?)\)\s*(?=\n|//)', body, re.S):
        key, expr = m.group(1), " ".join(m.group(2).split())
        env = re.match(r'sys\.env\.getOrElse\("([^"]+)",\s*"([^"]*)"\)?', expr)
        if expr.startswith('"'):
            out[key] = expr.strip('"')
        elif env:
            out[key] = os.environ.get(env.group(1), env.group(2))
        elif expr == "cpus":
            out[key] = str(cores)
        else:
            out[key] = "<" + expr + ">"
    master = re.search(r'\.master\(s"local\[\$cpus\]"\)', body)
    if master:
        out["spark.master"] = "local[%d]" % cores
    return out


def parity(confs, cores):
    want = bench_confs(cores)
    if want is None:
        return "unknown (graft.Bench.runInProcess not found)", {}
    diff = {k: {"bench": v, "sut": confs.get(k)} for k, v in want.items()
            if confs.get(k) != v}
    return ("ok" if not diff else "DIFF"), diff


# ---------------------------------------------------------- workloads
#
# A runner fills `res` with: lat_ms (latency of every op that succeeded),
# attempted, bad ([(name, kind, reason)] of the failed ops), ok_requests
# (closed-loop requests that succeeded) and elapsed (their measuring time).

def ok_ms(ops, bad, name):
    failed = {b[0] for b in bad}
    return [o.ms for o in ops if name(o) not in failed]


def run_exec(sut, state, seconds, cores, trace, res):
    t = time.perf_counter()
    state.warm(sut.port, cores)
    res["warm_s"] = time.perf_counter() - t
    if not trace:
        ops, start = loads.closed_loop(sut.port, seconds, cores, state.request(0),
                                       state.block)
        res["bad"] = state.check(ops)
        res["lat_ms"] = ok_ms(ops, res["bad"], lambda o: "req-%d" % o.key)
        res["attempted"] = len(ops)
        res["ok_requests"] = len(res["lat_ms"])
        res["elapsed"] = max(o.t1 for o in ops) - start
        res["info"]["repeat_share"] = state.repeat_share(ops)
        res["info"]["clients"] = cores
        return
    # traced: one client, first half untraced, second half traced, then
    # the same programs called in-process for the surface overhead
    half = seconds / 2.0
    ops_a, _ = loads.closed_loop(sut.port, half, 1, state.request(0), state.block)
    sut.call("/trace/start")
    off = len(ops_a)
    ops_b, start_b = loads.closed_loop(sut.port, half, 1, state.request(off),
                                       state.block)
    tr = sut.call("/trace/stop")
    wall_b = max(o.t1 for o in ops_b) - start_b
    bad_a, bad_b = state.check(ops_a), state.check(ops_b, off)
    failed_b = {b[0] for b in bad_b}
    ok_b = [o for o in ops_b if "req-%d" % (off + o.key) not in failed_b]
    distinct = {}
    for o in ok_b:
        distinct.setdefault(state.program(off + o.key), o)
    sut.call("/trace/start")
    direct = [(sut.call("/direct", p), o) for p, o in list(distinct.items())[:20]]
    tr_direct = sut.call("/trace/stop")
    lat_a = ok_ms(ops_a, bad_a, lambda o: "req-%d" % o.key)
    lat_b = [o.ms for o in ok_b]
    res.update(bad=bad_a + bad_b, lat_ms=lat_a + lat_b,
               attempted=len(ops_a) + len(ops_b),
               ok_requests=len(lat_a) + len(lat_b), elapsed=seconds,
               trace=(tr, wall_b, "req-"), overhead=(lat_a, lat_b))
    sql_by_op = {}
    for s in tr_direct["spans"]:
        if s["name"].startswith("sql."):
            sql_by_op[s["op"]] = sql_by_op.get(s["op"], 0) + (s["end_us"] - s["start_us"]) / 1e3
    res["layers"].update({
        "surface.overhead_ms": stats.median(
            [o.ms - d["run_ms"] - d["render_ms"] for d, o in direct]),
        "surface.resp_bytes": stats.median([len(o.body) for o in ok_b]),
        "script.tokenize_us": stats.median([d["tokenize_us"] for d, _ in direct]),
        "script.tokens": stats.median([d["tokens"] for d, _ in direct]),
        "script.run_ms": stats.median([d["run_ms"] for d, _ in direct]),
        "script.self_ms": stats.median(
            [d["run_ms"] - sql_by_op.get(d["op"] + ".run", 0.0) for d, _ in direct]),
    })


def run_ingest(sut, state, seconds, cores, trace, res):
    """Ops are the fetches and the timed writes (see loads.IngestLoad)."""
    t = time.perf_counter()
    state.warm(sut.port)
    res["warm_s"] = time.perf_counter() - t
    if trace:
        ops_a, _ = state.run(sut.port, seconds / 2.0, INGEST_READERS)
        sut.call("/trace/start")
        ops_b, start_b = state.run(sut.port, seconds / 2.0, INGEST_READERS)
        tr = sut.call("/trace/stop")
        op_sets = [ops_a, ops_b]
        res["trace"] = (tr, max(o.t1 for o in ops_b) - start_b, "fetch-")
        res["elapsed"] = seconds
    else:
        ops, start = state.run(sut.port, seconds, INGEST_READERS)
        op_sets = [ops]
        res["elapsed"] = max(o.t1 for o in ops) - start
    drained = sut.call("/drain")
    bad, fetch_ms, lags, seen = [], [], [], {}
    for ops in op_sets:
        b, ms, lg, sn = state.check(ops)
        bad += b
        fetch_ms.append(ms)
        lags += lg
        for k, t1 in sn.items():
            seen[k] = min(seen.get(k, t1), t1)
    write_ms, bad_w = state.visibility(seen)
    problems, offered = state.check_sink(drained["sink"])
    if problems:  # a sink that lost or altered points fails every write
        write_ms = []
        bad_w = [("write-%d" % k, "write", "; ".join(problems))
                 for k, _ in state.timed_writes]
    if trace:
        res["overhead"] = tuple(fetch_ms)
    fetch_ms = sum(fetch_ms, [])
    res.update(bad=bad + bad_w, lat_ms=fetch_ms + write_ms,
               attempted=sum(map(len, op_sets)) + len(state.timed_writes),
               ok_requests=len(fetch_ms))
    res["info"].update({
        "offered_points_per_s": gen.INGEST_SERIES / INGEST_PERIOD_S,
        "files_written": state.written, "points_offered": offered,
        "fetches": sum(map(len, op_sets)), "timed_writes": len(state.timed_writes),
        "fetch_p50_ms": stats.median(fetch_ms) if fetch_ms else None,
        "write_visible_p50_ms": stats.median(write_ms) if write_ms else None,
        "write_visible_p90_ms": stats.percentile(write_ms, 90) if write_ms else None,
        "write_visible_max_ms": max(write_ms, default=None),
        "visible_lag_p50_ms": stats.median(lags) if lags else None,
        "visible_lag_p90_ms": stats.percentile(lags, 90) if lags else None,
        "writer_late_ms_max": max(state.late_ms, default=0.0),
        "sink_files": drained["sink_parquet_files"]})
    res["layers"].update({
        "model.sink_files": drained["sink_parquet_files"],
        "loadgen.late_ms_max": max(state.late_ms, default=0.0)})


# ------------------------------------------------------------ layers

def check_text_probe(text, seed):
    """The text probe's counts and clusters against the Python replay."""
    cand, pairs, clusters = gen.expected_dedup(gen.probe_docs(seed))
    got = {int(a): int(b) for a, b in text["clusters"]}
    if (text["candidates"], text["pairs"], got) == (cand, pairs, clusters):
        return []
    return [("text-probe", "probe", "candidates/pairs/clusters %d/%d/%d, oracle %d/%d/%d"
             % (text["candidates"], text["pairs"], len(set(got.values())),
                cand, pairs, len(set(clusters.values()))))]


def layer_metrics(res, probes, cores):
    """Every per-layer metric; a layer the workload does not exercise
    reads 0 and is named in `absent`."""
    out = {k: 0.0 for k in PER_LAYER}
    absent = set(PER_LAYER)
    k = probes["kernels"]
    for name in ("stl", "lowess", "lttb", "esd"):
        out["kernels.%s_us_per_series" % name] = k["%s_us_per_series" % name]
    out["sources.parse_ns_per_line"] = probes["parse_ns_per_line"]
    t = probes["text"]
    out["text.lsh_candidates"] = t["candidates"]
    out["text.dup_pairs"] = t["pairs"]
    out["text.lsh_precision"] = t["pairs"] / max(t["candidates"], 1)
    if probes["tokens"]:
        out["script.tokenize_us"] = probes["tokenize_us"]
        out["script.tokens"] = probes["tokens"]
    tr, wall, prefix = res["trace"]
    # ops that ran Spark work (a request that failed before its first
    # action has none)
    per_op = [v for op, v in tr["ops"].items()
              if op.startswith(prefix) and v["actions"] > 0]
    if per_op:
        def med(f):
            return stats.median([f(v) for v in per_op])
        actions = max(sum(v["actions"] for v in per_op), 1)
        out.update({
            "operators.plan_nodes": sum(v["plan_nodes"] for v in per_op) / actions,
            "operators.exchanges": sum(v["exchanges"] for v in per_op) / actions,
            "operators.scans": sum(v["scans"] for v in per_op) / actions,
            "model.scan_bytes": med(lambda v: v["scan_bytes"]),
            "model.scan_records": med(lambda v: v["scan_records"]),
            "spark.plan.analysis_ms": med(lambda v: v["analysis_ms"]),
            "spark.plan.optimization_ms": med(lambda v: v["optimization_ms"]),
            "spark.plan.planning_ms": med(lambda v: v["planning_ms"]),
            "spark.codegen.compiles": tr["codegen"]["compiles"] / len(per_op),
            "spark.codegen.compile_ms": tr["codegen"]["compile_ms"] / len(per_op),
            "spark.sched.actions": med(lambda v: v["actions"]),
            "spark.sched.jobs": med(lambda v: v["jobs"]),
            "spark.sched.stages": med(lambda v: v["stages"]),
            "spark.sched.tasks": med(lambda v: v["tasks"]),
            "spark.sched.task_overhead_ms": med(lambda v: v["task_ms"] - v["run_ms"]),
            "spark.exec.run_ms": med(lambda v: v["run_ms"]),
            "spark.exec.cpu_ms": med(lambda v: v["cpu_ms"]),
            "spark.exec.gc_ms": med(lambda v: v["gc_ms"]),
            "spark.exec.spill_bytes": med(lambda v: v["spill_bytes"]),
            "spark.shuffle.write_bytes": med(lambda v: v["shuffle_write_bytes"]),
            "spark.shuffle.read_bytes": med(lambda v: v["shuffle_read_bytes"]),
            "spark.shuffle.fetch_wait_ms": med(lambda v: v["fetch_wait_ms"]),
        })
        busy = sum(v["run_ms"] for v in tr["ops"].values()) / 1e3
        out["spark.exec.busy_share"] = busy / (wall * cores)
    prog = [p for p in tr["progress"] if p["name"] == "ingest"]
    roll = [p for p in tr["progress"] if p["name"] == "rollup"]
    if prog:
        out.update({
            "streaming.batches": float(len(prog)),
            "streaming.trigger_p50_ms": stats.median([p["trigger_ms"] for p in prog]),
            "streaming.add_batch_ms": stats.median([p["add_batch_ms"] for p in prog]),
            "streaming.wal_commit_ms": stats.median([p["wal_commit_ms"] for p in prog]),
            "streaming.input_rows_per_s": stats.median(
                [p["input_rows_per_s"] for p in prog]),
        })
    if roll:
        out["streaming.state_rows"] = stats.median([p["state_rows"] for p in roll])
        out["streaming.state_commit_ms"] = stats.median(
            [p["state_commit_ms"] for p in roll])
    out.update(res["layers"])
    a, b = res["overhead"]
    if a and b:
        out["trace.overhead_ms"] = stats.median(b) - stats.median(a)
    out["loadgen.cpu_s"] = res["loadgen_cpu_s"]
    for name, v in out.items():
        if v:
            absent.discard(name)
    return out, sorted(absent)


# --------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a TERM unwinds like an error, so the SUT JVM is stopped and awaited
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        print("perfbench: no engine sources next to the benchmark "
              "(expected build.sbt and src/main at %s)" % ROOT, file=sys.stderr)
        return 2
    cores = nproc()
    out_dir = os.path.join(HERE, "out")
    run_dir = os.path.join(out_dir, "run-%s-%d" % (args.workload, args.seed))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t_build = time.perf_counter()
        cp = sutmod.build(ROOT, os.path.join(out_dir, "build"))
        log("perfbench: build %.1fs" % (time.perf_counter() - t_build))

        t_gen = time.perf_counter()
        sizes, state = generate(args.workload, args.seed, os.path.join(run_dir, "input"))
        gen_s = time.perf_counter() - t_gen
        res = {"info": {}, "layers": {}}
        runner = {"exec-dashboard": run_exec,
                  "ingest-fetch": run_ingest}[args.workload]
        with sutmod.Sut(cp, args.workload, os.path.join(run_dir, "input"),
                        os.path.join(run_dir, "work"), cores, args.trace) as sut:
            ready = sut.ready
            cpu0 = cpu_s()
            runner(sut, state, args.seconds, cores, args.trace, res)
            res["loadgen_cpu_s"] = cpu_s() - cpu0
            probes = sut.call("/probes") if args.trace else None
            if probes:
                res["attempted"] += 1
                res["bad"] += check_text_probe(probes["text"], args.seed)
            rss = sut.call("/stats")["rss_peak_mb"]
            if args.workload == "exec-dashboard":
                res["info"]["excluded_templates"] = state.probe_excluded(sut.port)

        setup_s = (gen_s + ready["boot_s"] + stats.median(ready["load_s"])
                   + ready["warm_s"] + res["warm_s"])
        lat, attempted, failed = res["lat_ms"], res["attempted"], len(res["bad"])
        if not lat:
            raise RuntimeError("no op succeeded: %s" % (res["bad"][:3],))
        status, diff = parity(ready["confs"], cores)

        log("perfbench: workload=%s seed=%d trace=%d seconds=%g nproc=%d"
            % (args.workload, args.seed, args.trace, args.seconds, cores))
        log("dataset: " + json.dumps(dict(sizes, **ready["info"]), sort_keys=True))
        log("setup: setup_s=%.3f = gen_s %.3f + boot_s %.3f + median load_s %s"
            " + sut warm_s %.3f + client warm_s %.3f"
            % (setup_s, gen_s, ready["boot_s"], ["%.3f" % x for x in ready["load_s"]],
               ready["warm_s"], res["warm_s"]))
        log("workload: " + json.dumps(res["info"], sort_keys=True))
        log("session: nproc=%d conf_parity=%s %s" % (cores, status, json.dumps(diff)))
        log("sql_confs: " + json.dumps({k: v for k, v in sorted(ready["confs"].items())
                                        if k.startswith("spark.sql.")}))
        log("ops: attempted=%d failed=%d failed_share=%.6f latency n=%d p50=%.3fms"
            " p75=%.3fms p90=%.3fms"
            % (attempted, failed, stats.failed_share(attempted, failed), len(lat),
               stats.median(lat), stats.percentile(lat, 75), stats.percentile(lat, 90)))
        by_kind = {}
        for name, kind, why in res["bad"]:
            by_kind.setdefault(kind, [0, why])[0] += 1
        for kind, (n, why) in sorted(by_kind.items()):
            log("failed ops: %s x%d, first: %s" % (kind, n, why))
        for name, kind, why in res["bad"][:20]:
            log("failed op: %s %s: %s" % (name, kind, why))

        if args.trace:
            layers, absent = layer_metrics(res, probes, cores)
            log("layers absent on this workload (read 0): " + ", ".join(absent))
            tr = res["trace"][0]
            with open(os.path.join(out_dir, "trace-%s-%d.json" % (args.workload, args.seed)),
                      "w") as f:
                json.dump({"spans": tr["spans"], "ops": tr["ops"],
                           "progress": tr["progress"]}, f)
            metrics = {k: {"value": float(layers[k]), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            e2e = {
                "op_p50_ms": stats.median(lat),
                "op_p75_ms": stats.percentile(lat, 75),
                "ops_per_s": res["ok_requests"] / res["elapsed"],
                "setup_s": setup_s,
                "rss_peak_mb": rss,
                "ok_share": 1.0 - stats.failed_share(attempted, failed),
            }
            metrics = {k: {"value": float(e2e[k]), "unit": u}
                       for k, u in END_TO_END.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

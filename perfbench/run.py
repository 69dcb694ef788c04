#!/usr/bin/env python3
"""The repo benchmark: one command per workload, seeded, checked.

    python3 perfbench/run.py --workload kg_etl_chat --seed 1 --seconds 5 --trace 0

Builds the program from source (see build.py), generates the workload's
inputs from the seed, runs one JVM (`perfbench.BenchMain`) against the
program's public entry points for --seconds of timed work, checks every
op's answer, and prints one JSON line: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics of a traced run. Exits 1
when any output check fails, 2 when the run cannot be made.

Workloads, metrics and their meaning are described in perfbench/README.md.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import kgen  # noqa: E402
from stats import check_name, check_unit, median  # noqa: E402

BENCH = Path(__file__).resolve().parent
DATA = BENCH / "data" / "sf0.001"
JVM_TIMEOUT_S = 170

# Loop kernels: GraphX connected components (g08), the open-range
# Cypher closure (g61) and streaming connected components (s18, which
# also covers the streaming layer).
GRAPH_LOOPS = ["g08_graph_components", "g61_cypher_open_range", "s18_stream_components"]

# Sizes per workload. min_passes: timed passes run even past --seconds.
CONFIG = {
    "kg_etl_chat": {"items": 5000, "facilities": 100, "min_passes": 1},
    "graph_loops": {"queries": GRAPH_LOOPS, "min_passes": 2},
}
# Set-up repetitions per run; each is also the warm pass. One is all the
# run budget allows: JVM start plus a cold pass already cost 25-35 s.
SETUP_REPS = 1

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_ms": "ms"}
LAYERS = ["bench", "etl", "graph", "queries", "streaming"]


def per_layer_units():
    units = {
        "op.call_s.per_pass": "s", "op.plan_s.per_pass": "s", "op.exec_s.per_pass": "s",
        "op.samples": "count", "op.repeat_share": "ratio",
        "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
        "spark.tasks_per_op": "count", "spark.task_busy_ratio": "ratio",
        "spark.scheduler_delay_ms_per_op": "ms", "spark.task_run_ms_per_op": "ms",
        "spark.shuffle_write_bytes_per_op": "bytes",
        "spark.shuffle_read_bytes_per_op": "bytes",
        "spark.spill_bytes_per_op": "bytes", "spark.failed_tasks": "count",
        "streaming.batches_per_pass": "count",
        "streaming.rows_dropped_by_watermark": "count", "streaming.batch_share": "ratio",
        "graph.store_bytes": "bytes", "graph.store_files": "count",
        "graph.store_bytes_per_input_byte": "ratio",
        "graph.read_plan_nodes.first": "count", "graph.read_plan_nodes.last": "count",
        "trace.overhead_ratio": "ratio", "jvm.heap_after_gc_mb": "MB",
    }
    for layer in LAYERS:
        units[f"layer.self_share.{layer}"] = "ratio"
    for q in GRAPH_LOOPS:
        units[f"spark.jobs.{q}"] = "count"
    return units


def jvm_command(classes, work, spec, out):
    jars = build.spark_jars()
    opens = [f"java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java"] + [a for o in opens for a in ("--add-opens", o)] + [
        # fixed, pre-touched heap and a 512m code cache (graft.Bench's
        # settings), so heap growth and page faults stay out of the timings
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "-cp", f"{classes}:{jars}/*", "perfbench.BenchMain", str(spec), str(out)])


def make_spec(workload, seed, seconds, trace, work, cores):
    """The JVM's spec and the expectations the checks need."""
    cfg = CONFIG[workload]
    spec = {"workload": workload, "seconds": seconds, "trace": trace, "cores": cores,
            "work": str(work), "setup_reps": SETUP_REPS,
            # traced runs alternate untraced and traced passes: U T U T U
            "min_passes": 5 if trace else cfg["min_passes"]}
    ctx = {}
    if workload == "kg_etl_chat":
        fac, csv = work / "disposal_map_db.json", work / "Abfall-ABC.csv"
        ctx["expected"], names = kgen.kg_inputs(seed, cfg["items"], cfg["facilities"], fac, csv)
        reqs, warm = kgen.chat_requests(seed, names, n_blocks=100)
        spec.update(facilities=str(fac), items=str(csv), store=str(work / "store"),
                    requests=reqs, warm_requests=warm, block=kgen.BLOCK)
    else:
        rng = random.Random(f"order-{seed}")
        passes = []
        for _ in range(100):
            qs = list(cfg["queries"])
            rng.shuffle(qs)
            passes.append(qs)
        spec.update(data=str(DATA), passes=passes)
    return spec, ctx


def check_ops(workload, o, ctx, work):
    """Mark each op with `wrong` (None or the reason)."""
    ops = o["ops"]
    if workload == "kg_etl_chat":
        import checks
        exp = ctx["expected"]
        stats = {"labels": exp["labels"], "nodes": exp["nodes"], "edges": exp["edges"]}
        want = {"import_facilities": exp["facilities"],
                "import_waste_items": {k: exp[k] for k in ("items", "streams", "edges")},
                "stats": stats}
        want_unique = sorted([k, v, v, True] for k, v in exp["labels"].items())
        oracle = checks.ChatOracle(o["store"]) if o.get("store") else None
        for op in ops:
            n = op["name"].removeprefix("re")
            if op["name"] in ("reset", "schema"):  # no answer to check
                pass
            elif n in want:
                op["wrong"] = None if op["result"] == want[n] else \
                    f"{op['result']} != expected {want[n]}"
            elif n == "validate_unique":
                ok = isinstance(op["result"], list) and sorted(op["result"]) == want_unique
                op["wrong"] = None if ok else f"uniqueness check {op['result']}"
            elif op["error"] is None:
                op["wrong"] = oracle.check(op)
    else:
        import checks
        oracle_sql = json.loads((work / "oracle_sql.json").read_text())
        got, wrong = checks.query_answers(DATA, work / "answers", oracle_sql)
        for op in ops:
            q = op["name"]
            if isinstance(op["result"], str):  # the warm pass that wrote the answer
                op["wrong"] = wrong.get(q, "no answer written")
            elif q not in got:
                op["wrong"] = "no checked answer to compare with"
            else:
                rows = got[q]["rows"]
                op["wrong"] = None if op["result"] == rows else f"{op['result']} rows != {rows}"


def failed_ops(o):
    """Ops that threw or whose answer the checks found wrong."""
    return [op for op in o["ops"] if op["error"] or op.get("wrong")]


def end_to_end(o, launch_s, gen_s):
    timed = [p for p in o["passes"] if p["pass"] >= 0]
    ops = [op for op in o["ops"] if op["pass"] >= 0]
    return {
        # JVM start and session, input generation, then the median of the
        # in-run set-up repetitions (store build, warm passes)
        "setup_s": o["session_ready_ms"] / 1000 - launch_s + gen_s + median(o["prep_s"]),
        "pass_s": median([p["wall_s"] for p in timed]),
        "op_p50_ms": median([op["total_ms"] for op in ops]),
    }


def per_layer(o, cores):
    m = {k: 0.0 for k in per_layer_units()}
    passes = [p for p in o["passes"] if p["pass"] >= 0]
    traced = [p for p in passes if p["traced"]]
    tp = {p["pass"] for p in traced}
    ops = [op for op in o["ops"] if op["pass"] in tp]
    wall_ms = sum(p["wall_s"] for p in traced) * 1000

    def per_pass(f):
        return median([sum(f(op) for op in ops if op["pass"] == p) for p in sorted(tp)])

    for ph in ("call", "plan", "exec"):
        m[f"op.{ph}_s.per_pass"] = per_pass(lambda op: op["phases"].get(ph, 0.0)) / 1000
    timed_ops = [op for op in o["ops"] if op["pass"] >= 0]
    m["op.samples"] = len(timed_ops)
    seen, repeats = set(), 0
    for op in o["ops"]:
        key = (op["name"], json.dumps(op["params"], sort_keys=True))
        if op["pass"] >= 0 and key in seen:
            repeats += 1
        seen.add(key)
    m["op.repeat_share"] = repeats / len(timed_ops)

    tot = {}
    for op in ops:
        for k, v in op["counts"].items():
            tot[k] = tot.get(k, 0) + v
    n = len(ops)
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}_per_op"] = tot[k] / n
    m["spark.scheduler_delay_ms_per_op"] = tot["scheduler_delay_ms"] / n
    m["spark.task_run_ms_per_op"] = tot["task_run_ms"] / n
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"spark.{k}_per_op"] = tot[k] / n
    m["spark.failed_tasks"] = tot["failed_tasks"]
    m["spark.task_busy_ratio"] = tot["task_run_ms"] / (wall_ms * cores)
    for q in GRAPH_LOOPS:
        js = [op["counts"]["jobs"] for op in ops if op["name"] == q]
        m[f"spark.jobs.{q}"] = median(js) if js else 0
    m["streaming.batches_per_pass"] = per_pass(lambda op: op["counts"]["batches"])
    m["streaming.rows_dropped_by_watermark"] = tot["rows_dropped_by_watermark"]
    m["streaming.batch_share"] = tot["batch_ms"] / wall_ms

    info = o.get("info", {})
    if "store_bytes" in info:
        m["graph.store_bytes"] = info["store_bytes"]
        m["graph.store_files"] = info["store_files"]
        m["graph.store_bytes_per_input_byte"] = info["store_bytes"] / info["input_bytes"]
    if "plan_nodes_first" in info:
        m["graph.read_plan_nodes.first"] = info["plan_nodes_first"]
        m["graph.read_plan_nodes.last"] = info["plan_nodes_last"]

    # self time per layer: span duration minus the part its children cover
    spans = o["spans"]
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    self_ns = {}
    for s in spans:
        d = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        self_ns[s["layer"]] = self_ns.get(s["layer"], 0) + d
    for layer in LAYERS:
        m[f"layer.self_share.{layer}"] = self_ns.get(layer, 0) / 1e6 / wall_ms
    # U T U T U: the traced and untraced passes share the same mean
    # position in the run, so a warm-up trend cancels
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    m["jvm.heap_after_gc_mb"] = o["heap_after_gc_mb"]
    m["trace.overhead_ratio"] = (sum(p["wall_s"] for p in traced) / len(traced)) / (
        sum(untraced) / len(untraced)) - 1
    return m


def run(args):
    classes = build.build()
    cores = len(os.sched_getaffinity(0))
    work = build.build_dir() / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        launch = time.time()
        spec, ctx = make_spec(args.workload, args.seed, args.seconds, args.trace, work, cores)
        gen_s = time.time() - launch
        spec_path, out_path = work / "spec.json", work / "out.json"
        spec_path.write_text(json.dumps(spec, ensure_ascii=False))
        log = open(work / "jvm.log", "w")
        launch = time.time()
        proc = subprocess.Popen(jvm_command(classes, work, spec_path, out_path),
                                stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("benchmark JVM timed out")
        finally:
            log.close()
        if code != 0 or not out_path.is_file():
            sys.stderr.write((work / "jvm.log").read_text()[-3000:])
            raise SystemExit(f"benchmark JVM exited {code}")
        o = json.loads(out_path.read_text())
        if o.get("fatal"):
            raise SystemExit(f"benchmark run failed: {o['fatal']}")
        o["store"] = spec.get("store")
        check_ops(args.workload, o, ctx, work)
        failed = failed_ops(o)
        for op in failed[:10]:
            sys.stderr.write(f"FAILED {op['name']} (pass {op['pass']}): "
                             f"{op['error'] or op['wrong']}\n")
        if args.trace:
            values, units = per_layer(o, cores), per_layer_units()
            trace_dir = build.build_dir() / "traces"
            trace_dir.mkdir(exist_ok=True)
            (trace_dir / f"{args.workload}-seed{args.seed}.json").write_text(json.dumps(
                {"metrics": values, "spans": o["spans"],
                 "ops": [{k: op[k] for k in ("pass", "name", "total_ms", "phases", "counts",
                                             "traced")} for op in o["ops"]]}))
        else:
            values, units = end_to_end(o, launch, gen_s), END_TO_END
        by_name = {}
        for op in o["ops"]:
            if op["pass"] >= 0:
                by_name.setdefault(op["name"], []).append(op["total_ms"])
        sys.stderr.write("median ms per op: " + ", ".join(
            f"{k} {median(v):.0f}" for k, v in by_name.items()) + "\n")
        sys.stderr.write(f"prep_s {o['prep_s']}; session {o['session_ready_ms'] / 1000 - launch:.1f}s\n")
        sys.stderr.write(f"settings: {o['settings']}; timed {o['timed_s']:.1f}s over "
                         f"{sum(p['pass'] >= 0 for p in o['passes'])} passes\n")
        result = {
            "correct": not failed, "attempted": len(o["ops"]), "failed": len(failed),
            "metrics": {check_name(k): {"value": v, "unit": check_unit(units[k])}
                        for k, v in values.items()},
        }
        print(json.dumps(result))
        return 0 if not failed else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        sys.exit(run(args))
    except SystemExit as e:
        if isinstance(e.code, str):
            sys.stderr.write(e.code + "\n")
            sys.exit(2)
        raise


if __name__ == "__main__":
    main()

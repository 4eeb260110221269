"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap --seed 7 --seconds 4 --trace 0

Builds the program and harness (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs them in a fresh JVM
on local[nproc] with one client thread, checks the outputs with DuckDB
(perfbench/check.py) and prints, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the run times an untraced window, a
traced one and a second untraced one, and reports the per-layer metrics plus
the tracing overhead. Exits 1 when an output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("olap", "curate", "ingest_search")
CURATE_CALLS = ["gopherRules", "qualityGate", "exact", "batchNearDupPairs",
                "duplicateClusters", "dropDuplicates", "temperatureMix", "write"]
# JVM flags Spark needs on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
DEADLINE_S = 170


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classes, workload, inputs, work, seconds, trace, budget):
    out = os.path.join(work, "result.json")
    d = lambda name: os.path.join(work, name)  # noqa: E731
    for name in ("tmp", "spark-local"):
        os.makedirs(d(name), exist_ok=True)
    jars = os.path.join(build.spark_jars(), "*")
    # a fixed heap: G1 grows a smaller one after GCs that took long, so on a
    # shared host peak RSS follows the host's load; the program's own heap
    # use is the per-layer jvm.old_gen_peak_mb
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m"] + ADD_OPENS + [
        f"-Djava.io.tmpdir={d('tmp')}", f"-Dspark.local.dir={d('spark-local')}",
        f"-Dspark.sql.warehouse.dir={d('warehouse')}",
        f"-Dspark.sql.streaming.checkpointLocation={d('checkpoints')}",
        f"-Dderby.system.home={d('tmp')}", "-Dspark.ui.enabled=false",
        "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.streaming.numRecentProgressUpdates=100000",
        "-cp", f"{classes}:{jars}", "perfbench.Main",
        "--workload", workload, "--inputs", inputs, "--work", work, "--seconds", str(seconds),
        "--trace", str(trace), "--cores", str(cores()), "--out", out])
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                         start_new_session=True)
    try:
        p.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"JVM did not finish within {budget:.0f} s")
    finally:
        log.close()
    if p.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"JVM exited with {p.returncode}")
    with open(out) as f:
        return json.load(f)


def pct(xs, q):
    """Linear-interpolated percentile of a non-empty sample."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def samples(result, window):
    """Read and write latencies of a window's successful ops, by the
    workload's definition of a read and a write."""
    ops = [o for o in result["ops"] if o["window"] == window and o["ok"]]
    if not any(o["window"] == window for o in result["ops"]):
        raise RuntimeError(f"the {window} window timed no op: the generated inputs ran out; "
                           "raise the pool size in gen.py")
    if result["workload"] == "curate":
        return ([o["s"] - o["write_s"] for o in ops], [o["write_s"] for o in ops], ops)
    return ([o["s"] for o in ops if o["class"] == "read"],
            [o["s"] for o in ops if o["class"] == "write"], ops)


def end_to_end(result, params, window):
    reads, writes, ops = samples(result, window)
    timed = result["info"][f"{window}_timed_s"]
    w = result["workload"]
    if w == "curate":
        n_ops = len(ops)
        docs = params["n_total"] / statistics.median(o["s"] for o in ops)
    elif w == "olap":
        n_ops = len(reads) + len(writes)
        rows = {p["op"]: p for p in result["checks"]["partitions"]}
        ins = [o for o in ops if o["class"] == "write" and o["id"] in rows]
        written = sum(n for o in ins for m, n in rows[o["id"]]["counts"].items()
                      if m.startswith(str(o["year"])))
        docs = written / sum(o["s"] for o in ins)
    else:
        n_ops = len(reads) + len(writes)
        docs = params["batch_docs"] / statistics.median(writes)
    return {
        "setup_s": result["setup_s"],
        "read_p50_s": statistics.median(reads), "read_p90_s": pct(reads, 0.9),
        "write_p50_s": statistics.median(writes),
        "ops_per_s": n_ops / timed, "docs_per_s": docs,
        "mem_peak_mb": result["mem_peak_mb"],
    }, {"read_n": len(reads), "write_n": len(writes)}


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(result, info, untraced, traced, attempted, failed):
    ops = [o for o in result["ops"] if o["window"] == "traced"]
    lay = [o["layers"] for o in ops if "layers" in o]
    spans = result["spans"]
    w = result["workload"]

    def span_s(name, cls=None):
        ids = {o["id"] for o in ops if cls is None or o["class"] == cls}
        per_op = {}
        for s in spans:
            if s["name"] == name and s["op"] in ids:
                per_op[s["op"]] = per_op.get(s["op"], 0) + (s["end_ns"] - s["start_ns"]) / 1e9
        return mean(per_op.get(i, 0.0) for i in ids) if per_op else 0.0

    def m(k):
        return mean(l[k] for l in lay)

    result_rows = sum(o.get("result_rows", 0) for o in ops) + sum(l["rows_written"] for l in lay)
    wall = sum(l["wall_ms"] for l in lay) / 1e3
    trig = [t for l in lay for t in l["triggers"]]
    out = {
        "fail_ratio": failed / attempted,
        "engine.sql_s": span_s("engine.sql", "read"),
        "plan.analysis_s": m("analysis_s"), "plan.optimization_s": m("optimization_s"),
        "plan.planning_s": m("planning_s"),
        "exec.jobs": m("jobs"), "exec.stages": m("stages"), "exec.tasks": m("tasks"),
        "exec.task_run_s": m("task_run_s"), "exec.task_cpu_s": m("task_cpu_s"),
        "exec.gc_s": m("gc_s"),
        "exec.driver_gap_s": mean(max(0.0, (l["wall_ms"] - l["job_ms"]) / 1e3) for l in lay),
        "exec.slot_busy_ratio": (sum(l["task_wall_s"] for l in lay) / (wall * result["cores"])
                                 if wall else 0.0),
        "exec.shuffle_read_bytes": m("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": m("shuffle_write_bytes"),
        "exec.spill_bytes": m("spill_bytes"), "exec.input_bytes": m("input_bytes"),
        "exec.files_read": m("files_read"),
        "exec.rows_examined_per_result": (sum(l["input_records"] for l in lay) / result_rows
                                          if result_rows else 0.0),
        "exec.output_bytes": m("output_bytes"), "exec.files_written": m("files_written"),
        "jvm.old_gen_peak_mb": result["old_gen_peak_mb"],
        "stream.trigger_s": mean(t[0] for t in trig) / 1e3,
        "stream.addbatch_s": mean(t[1] for t in trig) / 1e3,
        "stream.bookkeeping_s": mean(t[0] - t[1] for t in trig) / 1e3,
        "stream.rows_per_trigger": mean(t[2] for t in trig),
    }
    jobs = [o for o in ops if o["class"] == "job"]
    for c in CURATE_CALLS:
        out[f"operators.{c}_s"] = span_s(f"operators.{c}", "job")
        out[f"operators.{c}_cpu_s"] = mean(
            o["layers"]["cpu_s_by_group"].get(f"op{o['id']}/operators.{c}", 0.0) for o in jobs)
    tops = [o["layers"]["write_ops"] for o in jobs]
    for k in range(3):
        out[f"operators.top{k + 1}_s"] = mean(t[k][1] for t in tops if len(t) > k)
    top_names = [n for n, _ in tops[-1][:3]] if tops else []
    # persisted index: listings per cycle, bytes against ingested text
    cyc = result["checks"].get("cycles", [])
    comp = [o["s"] for o in ops if o["class"] == "compact"]
    if w == "ingest_search":
        tb = info["text_bytes"]
        live = lambda b: tb[-1] + sum(tb.get(i, 0) for i in range(b))  # noqa: E731
        ri = result["info"]
        written = (ri["index.build_bytes"] + ri["warm_bytes"]
                   + sum(c["ingest_bytes_written"] + c["compact_bytes_written"] for c in cyc))
        out.update({
            "index.build_s": ri["setup.index_build_s"], "index.compact_s": mean(comp),
            "index.compact_bytes_rewritten": mean(c["compact_bytes_written"] for c in cyc
                                                  if c["compact_bytes_written"]),
            "index.files": mean(c["files"] for c in cyc), "index.bytes": mean(c["bytes"] for c in cyc),
            "index.write_amp": written / live(result["checks"]["staged"]),
            "index.space_amp": mean(c["bytes"] / live(c["batches"]) for c in cyc)})
    else:
        out.update({k: 0.0 for k in ("index.build_s", "index.compact_s",
                                     "index.compact_bytes_rewritten", "index.files", "index.bytes",
                                     "index.write_amp", "index.space_amp")})
    out["check.near_dup_recall"] = info.get("near_dup_recall", 0.0)
    # against both untraced windows, so warm-up drift between them cancels
    for k in ("read_p50_s", "write_p50_s", "ops_per_s"):
        out[f"trace.overhead_{k}"] = traced[k] - (untraced[0][k] + untraced[1][k]) / 2
    return out, top_names


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t0 = time.monotonic()
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    classes = build.build()
    work = os.path.join(build.OUT, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        t_build = time.monotonic()
        params = gen.generate(a.workload, a.seed, inputs)
        t_gen = time.monotonic()
        budget = DEADLINE_S - (t_gen - t0) - 25
        result = run_jvm(classes, a.workload, inputs, work, a.seconds, a.trace, budget)
        t_jvm = time.monotonic()
        fails, info = check.CHECKS[a.workload](result, inputs, work)
        t_check = time.monotonic()
        stages = {"build": t_build - t0, "generate": t_gen - t_build, "jvm": t_jvm - t_gen,
                  "check": t_check - t_jvm}
        attempted = len(result["ops"])
        bad = {o["id"] for o in result["ops"] if not o["ok"]} | {i for i in fails if i >= 0}
        failed = len(bad) + (1 if -1 in fails else 0)
        untraced, counts = end_to_end(result, params, "untraced")
        print(f"[perfbench] {a.workload} seed={a.seed} cores={result['cores']} "
              f"params={json.dumps(params, sort_keys=True)}")
        print(f"[perfbench] wall s: {json.dumps({k: round(v, 1) for k, v in stages.items()})} "
              f"jvm: {json.dumps({k: round(v, 2) for k, v in sorted(result['info'].items())})}")
        print(f"[perfbench] untraced: {json.dumps(counts)} ops={len(result['ops'])} "
              f"checks={json.dumps(info, sort_keys=True)[:400]}")
        for op, msg in sorted(fails.items()):
            print(f"[perfbench] CHECK FAILED op {op}: {msg}", file=sys.stderr)
        for k, v in sorted(result["info"].items()):
            if k.endswith("_exhausted") and v:
                print(f"[perfbench] WARNING: {k[:-10]} window ran out of generated inputs "
                      f"after {result['info'][k[:-10] + '_timed_s']:.2f} s of op time; "
                      "raise the pool size in gen.py", file=sys.stderr)
        for o in result["ops"]:
            if not o["ok"]:
                print(f"[perfbench] OP FAILED {o['id']} ({o['tag']}): {o.get('error')}",
                      file=sys.stderr)
        if a.trace:
            traced, tcounts = end_to_end(result, params, "traced")
            after, _ = end_to_end(result, params, "untraced_after")
            metrics, top = per_layer(result, info, (untraced, after), traced, attempted, failed)
            spec = bench["per_layer"]
            trace_file = os.path.join(build.OUT, f"trace-{a.workload}-s{a.seed}.json")
            with open(trace_file, "w") as f:
                json.dump({"untraced": untraced, "traced": traced, "untraced_after": after,
                           "counts": tcounts,
                           "self_s": result["self_s"], "spans": result["spans"],
                           "ops": result["ops"], "top_write_ops": top, "per_layer": metrics}, f)
            print(f"[perfbench] traced: {json.dumps(tcounts)} top write operators: {top}")
            print(f"[perfbench] self time by span (s): "
                  f"{json.dumps({k: round(v, 4) for k, v in sorted(result['self_s'].items())})}")
            print(f"[perfbench] trace written to {os.path.relpath(trace_file, build.ROOT)}")
        else:
            metrics = untraced
            spec = bench["end_to_end"]
        out = {"correct": not fails and failed == 0, "attempted": attempted, "failed": failed,
               "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                           for m in spec}}
        print(json.dumps(out))
        return 0 if out["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (RuntimeError, OSError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)

#!/usr/bin/env python3
"""The repository's benchmark: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Every run makes its inputs from the
seed, starts one JVM and sets the workload up (set-up time runs from the
JVM's launch to the first timed op), drives one client back to back for S
seconds on local[nproc], then checks the outputs: every graph build's
counts, the graph's final totals, and, from one more op of each query run
after the timed window, query results against their DuckDB oracle SQL.

Workloads (see BENCHMARK.json for why each was chosen):
  graph_incremental  rebuild cycles of a partitioned producer graph
  query_mix          batch registry queries written to the noop sink
  stream_drain       streaming registry queries drained with AvailableNow

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics, or with --trace 1 the per-layer ones).
The full record of a run, with per-query and per-kind medians, spreads and
the workload-specific figures, is written to
perfbench/.work/results/<workload>-seed<N>-trace<T>.json; a traced run
also writes its spans next to it.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import gen  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

# Inputs per workload: generator scale (0.1 = sf0.1 row counts) and, for
# the graph, how many months the orders span (one raw partition each).
WORKLOADS = {
    "graph_incremental": {"scale": 0.1, "order_months": 6},
    "query_mix": {"scale": 0.005, "queries": [
        # relational, ANN, dedup, text, corpus and governance queries near
        # the job-submission floor, then kernel-heavy ones
        "q7_top_customers", "x6_ann_bruteforce", "x1_exact_dedup", "x10_token_count",
        "x25_corpus_mix", "x118_dp_release",
        "x93_prefix_join", "q5b_theta_rank", "x126_minhash_scorecard"]},
    "stream_drain": {"scale": 0.02, "queries": [
        "qs1_stream_tumbling", "qs3_stream_state", "qs5_stream_static_join",
        "qs7_stream_dedup_ingest"]},
}

HEAP = "2g"
JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_logged(cmd, cwd, log, timeout, env=None):
    """Run a command in its own process group, output to a log file; kill
    the whole group if it outlives the timeout. Returns the exit code."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        cp = open(cp_file).read()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, SPARK_HOME=spark_home())
    log = os.path.join(out, "sbt.log")
    code = run_logged(["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
                       "export Runtime/fullClasspath"], BENCH, log, 840, env)
    lines = [l.strip() for l in open(log) if "scala-2.13" in l and not l.startswith("[")]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def quantile_summary(xs):
    """Median, quartiles, sample count and the highest percentile that has
    at least ten samples beyond it (None below 11 samples)."""
    xs = sorted(xs)
    n = len(xs)
    q1, med, q3 = statistics.quantiles(xs, n=4) if n > 1 else (xs[0], xs[0], xs[0])
    p_hi = None
    if n >= 11:
        pct = math.floor(100 * (n - 10) / n)
        p_hi = {"pct": pct, "value": xs[max(0, math.ceil(pct / 100 * n) - 1)]}
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": n,
            "min": xs[0], "max": xs[-1], "p_hi": p_hi}


def per_layer(result, kinds_ok):
    """Each layer metric for one pass over the workload's op list: the sum
    over op kinds of the kind's median per-op value."""
    layers = {int(k): v for k, v in (result.get("layers") or {}).items()}
    names = sorted({m for v in layers.values() for m in v})
    out = {}
    for m in names:
        out[m] = sum(statistics.median([layers.get(i, {}).get(m, 0.0) for i in ids])
                     for ids in kinds_ok.values())
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    import checks  # uses tools/selfcheck.py, so only importable in a full checkout
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    # the layer and the end-to-end metric each per-layer metric should move
    with open(os.path.join(BENCH, "layer_map.json")) as f:
        layer_map = json.load(f)
    if sorted(layer_map) != sorted(m["name"] for m in bench["per_layer"]):
        fail("layer_map.json and BENCHMARK.json's per_layer list name different metrics")
    classpath = build()

    # fresh per-run state: inputs, scratch and outputs all live under WORK
    for d in ("data", "scratch", "spark-local", "tmp", "jvm"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        os.makedirs(os.path.join(WORK, d))
    data = os.path.join(WORK, "data")
    gen.main(data, a.seed, spec["scale"], spec.get("order_months"))
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    raw_out = os.path.join(WORK, "jvm", "out.json")

    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ,
               SPARK_GRAFT_SCRATCH_DIR=os.path.join(WORK, "scratch"),
               SPARK_GRAFT_LOCAL_DIR=os.path.join(WORK, "spark-local"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # The serial collector sizes the heap from what survives collections,
    # so the resident size follows what the heap holds. G1 sizes it from
    # its pause and GC-time goals, which made peak RSS vary by a quarter
    # from run to run on the same inputs; op times were within 5% of G1's.
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseSerialGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
            "--work", os.path.join(WORK, "scratch"), "--out", raw_out, "--cores", str(cores),
            "--launch-ms", str(int(time.time() * 1000))]
    if "queries" in spec:
        cmd += ["--queries", ",".join(spec["queries"])]
    log = os.path.join(results, f"{tag}.jvm.log")
    code = run_logged(cmd, os.path.join(WORK, "jvm"), log, a.seconds + 150, env)
    if code != 0 or not os.path.exists(raw_out):
        fail(f"benchmark JVM failed (exit {code}); see {log}")
    r = json.load(open(raw_out))

    # ---- output checks (outside every timer) ----
    ops = r["ops"]
    facts = r["facts"]
    check_problems = {}
    if "queries" in spec:
        per_query = checks.check_queries(data, facts["results_dir"], spec["queries"],
                                         facts["oracle_sql"])
        check_problems = {k: v for k, v in per_query.items() if v}
        for o in ops:
            if o["kind"] in check_problems and not o["error"]:
                o["error"] = f"wrong output: {check_problems[o['kind']]}"
    else:
        problem = checks.check_graph_total(facts["raw_dir"], facts["final_total"])
        if problem:
            check_problems["final_total"] = problem
            if ops and not ops[-1]["error"]:
                ops[-1]["error"] = problem
    failed = [o for o in ops if o["error"]]
    attempted = len(ops)

    # ---- metrics ----
    kinds = {}
    kinds_ok = {}
    for o in ops:
        if not o["error"]:
            kinds.setdefault(o["kind"], []).append(o["s"])
            kinds_ok.setdefault(o["kind"], []).append(o["id"])
    per_kind = {k: quantile_summary(v) for k, v in kinds.items()}
    medians = [s["median"] for s in per_kind.values()]
    op_total = sum(medians)
    op_geomean = math.exp(sum(math.log(m) for m in medians) / len(medians)) if medians else 0.0
    e2e = {
        "setup_s": r["setup_s"],
        "op_total_s": op_total,
        "op_geomean_s": op_geomean,
        "peak_rss_mb": r["peak_rss_mb"],
    }
    # the workload's own figures, under the names reports refer to; each
    # timing carries its sample count and its highest well-sampled percentile
    ok_times = [o["s"] for o in ops if not o["error"]]
    overall = quantile_summary(ok_times) if ok_times else {"n": 0, "p_hi": None}
    named = {"setup_s": {"value": e2e["setup_s"], "unit": "s", "n": 1, "p_hi": None},
             "peak_rss_mb": {"value": e2e["peak_rss_mb"], "unit": "MB"},
             "failed_frac": {"value": len(failed) / attempted if attempted else 1.0, "unit": "ratio",
                             "attempted": attempted}}
    if a.workload == "graph_incremental":
        for k in ("cold_build", "noop_rebuild", "delta_rebuild"):
            if k in per_kind:
                named[f"{k}_s"] = {"value": per_kind[k]["median"], "unit": "s",
                                   "n": per_kind[k]["n"], "p_hi": per_kind[k]["p_hi"]}
        if facts["stored_bytes_per_input_byte"]:
            named["stored_bytes_per_input_byte"] = {
                "value": statistics.median(facts["stored_bytes_per_input_byte"]), "unit": "ratio"}
    else:
        prefix = "query_mix" if a.workload == "query_mix" else "stream_drain"
        named[f"{prefix}_total_s"] = {"value": op_total, "unit": "s", "n": overall["n"], "p_hi": overall["p_hi"]}
        if a.workload == "query_mix":
            named["query_mix_geomean_s"] = {"value": op_geomean, "unit": "s", "n": overall["n"],
                                            "p_hi": overall["p_hi"]}

    layer = None
    if a.trace:
        layer = per_layer(r, kinds_ok)
        layer["jvm.gc_s"] = r["jvm"]["gc_s"]
        layer["jvm.heap_peak_mb"] = r["jvm"]["heap_peak_mb"]
        layer["streaming.sink_views_left"] = float(facts.get("sink_views_left", 0))
        built, expected = layer.get("exec.partitions_built", 0.0), layer.get("exec.partitions_expected", 0.0)
        layer["exec.useful_build_ratio"] = expected / built if built else 1.0
        layer["trace.op_total_s"] = op_total
        layer["trace.op_geomean_s"] = op_geomean
        layer = {m["name"]: layer.get(m["name"], 0.0) for m in bench["per_layer"]}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "loop": "closed, one client", "cores": cores,
        "correct": not failed and not check_problems,
        "attempted": attempted, "failed": len(failed),
        "failures": [{"kind": o["kind"], "error": o["error"]} for o in failed][:50],
        "check_problems": check_problems,
        "end_to_end": {k: {"value": v, "unit": e2e_units[k]} for k, v in e2e.items()},
        "named": named,
        "per_query" if "queries" in spec else "per_kind": per_kind,
        "env": r["env"],
        "facts": {k: v for k, v in facts.items() if k != "oracle_sql"},
    }
    if layer is not None:
        record["per_layer"] = layer
        record["layer_map"] = layer_map
        record["per_op_layers"] = {o["id"]: {"kind": o["kind"], **(r["layers"] or {}).get(str(o["id"]), {})}
                                   for o in ops}
        # tracing overhead: traced minus untraced end-to-end figures, against
        # the untraced run of this seed, else the latest untraced run
        same = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")
        others = sorted((f for f in os.listdir(results) if f.startswith(a.workload + "-seed")
                         and f.endswith("-trace0.json")),
                        key=lambda f: os.path.getmtime(os.path.join(results, f)))
        base_file = same if os.path.exists(same) else (os.path.join(results, others[-1]) if others else None)
        if base_file:
            base = json.load(open(base_file))["end_to_end"]
            record["tracing_overhead"] = {"baseline": os.path.basename(base_file),
                                          **{k: e2e[k] - base[k]["value"] for k in e2e}}
        os.replace(raw_out + ".spans.jsonl", os.path.join(results, f"{tag}.spans.jsonl"))
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for k, m in named.items():
        hi = f", p{m['p_hi']['pct']} {m['p_hi']['value']:.4f} s" if m.get("p_hi") else ""
        n = f" (n={m['n']}{hi})" if "n" in m else ""
        print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']}{n}")
    for k, s in sorted(per_kind.items()):
        hi = f", p{s['p_hi']['pct']} {s['p_hi']['value']:.4f}" if s["p_hi"] else ""
        print(f"{a.workload} op {k}: median {s['median']:.4f} s (n={s['n']}{hi})")
    for k, v in check_problems.items():
        print(f"{a.workload} CHECK FAILED {k}: {v}")
    metrics = ({m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in bench["per_layer"]}
               if layer is not None else
               {k: {"value": v, "unit": e2e_units[k]} for k, v in e2e.items()})
    print(json.dumps({"correct": record["correct"], "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()

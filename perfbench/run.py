#!/usr/bin/env python3
"""graft benchmark: one command that builds the library with the benchmark
program, generates a workload's inputs from a seed, runs it in one Spark JVM
on all the processors it may use, checks every output, and prints the metrics.

Run from the repository root:

    python3 perfbench/run.py --workload clinical_etl --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. --trace 0 gives the end-to-end
metrics (untraced run); --trace 1 gives the per-layer metrics of a traced
run. Build outputs, generated inputs and run files go to .bench_build/.
See perfbench/README.md for the workloads, metrics and the layer map.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.abspath(".bench_build")
DEADLINE_S = 170  # the whole command, build excluded

# Sizes, chosen so one run of each workload fits its share of the time
# budget while the pass still does the layer's real work (see README.md).
CLINICAL = dict(n_patients=500, dup_share=0.08)
CURATION = dict(n_docs=600, n_vectors=300)
ORACLE_CORPUS = dict(n_docs=120, n_vectors=100)  # q204's oracle, traced runs
PIPELINES = ["q204_curation_pipeline", "q217_containment_posting_store",
             "q195_lsh_recall_eval", "q224_ann_recall_curve"]

LAYERS = ["ingest", "queries", "ml", "wellness",
          "scale.curation", "scale.dedup", "scale.eval", "scale.retrieval"]
LAYER_METRICS = [  # name, unit
    ("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("self_s", "s"),
    ("build_jobs", "count"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_cpu_s", "s"), ("core_util", "ratio"), ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"), ("rows_out", "rows"), ("max_task_ratio", "ratio")]
# ingest's calls are all sinks, whose planning is part of their write (exec_s)
NOT_MEASURED = {"ingest.plan_s"}
WRITE_LAYERS = ["ingest", "scale.dedup"]
WRITE_METRICS = [("files_written", "count"), ("bytes_written", "bytes")]


def per_layer_names():
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    out = [(f"{layer}.{m}", u) for layer in LAYERS for m, u in LAYER_METRICS
           if f"{layer}.{m}" not in NOT_MEASURED]
    out += [(f"{layer}.{m}", u) for layer in WRITE_LAYERS for m, u in WRITE_METRICS]
    out += [("run.spill_mb", "MB"), ("run.task_failures", "count"),
            ("run.jobs_not_succeeded", "count"),
            ("trace.traced_pass_s", "s"), ("trace.overhead_s", "s")]
    return out


END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("peak_rss_mb", "MB")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = ["src/main", os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the library and the benchmark program with sbt once per source state;
    returns the runtime classpath."""
    if not os.path.isdir("src/main/scala/graft"):
        die("library sources (src/main/scala/graft) not found; run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed to build the benchmark")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        die("SPARK_HOME must name a Spark installation (its jars/ directory is the classpath)")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.json")
    tmp = os.path.join(BUILD, "sbt-tmp")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # no JVM perf-data files in the system temp directory
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={tmp}", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


# ---------------------------------------------------------------- inputs

def generate(workload, seed, inputs, traced):
    if workload == "clinical_etl":
        gen.clinical(inputs, seed, **CLINICAL)
    else:
        gen.corpus(f"{inputs}/corpus", seed, **CURATION)
        if traced:
            gen.corpus(f"{inputs}/oracle_corpus", seed + 1, **ORACLE_CORPUS)
        return {}
    with open(f"{inputs}/meta.json") as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def close(a, b, tol=1e-9):
    return a is not None and abs(a - b) <= tol * max(1.0, abs(b))


def check_clinical(outputs, meta):
    """Names of the outputs of one pass that disagree with the generator."""
    bad = []
    n = meta["patients"]
    for t, rows in meta["tables"].items():
        if outputs.get(t, {}).get("rows") != rows:
            bad.append(t)
    for name, key in [("cvd_report", "cvd_bands"), ("t2d_report", "t2d_bands")]:
        o = outputs.get(name)
        if not o or o["rows"] != n or o["facts"]["bands"] != meta[key] \
                or sum(o["facts"]["bands"].values()) != n:
            bad.append(name)
    o = outputs.get("scores")
    if not o or o["rows"] != n or set(o["facts"]["sample"]) != set(meta["sample_expected"]) or any(
            got["cluster"] != want["cluster"] or
            not all(close(got[d], want[d]) for d in ("cvd", "ckd", "anemia"))
            for pid, want in meta["sample_expected"].items()
            for got in [o["facts"]["sample"][pid]]):
        bad.append("scores")
    o = outputs.get("wellness")
    if not o or o["rows"] != n or o["facts"]["scored"] != n or \
            not 0.0 <= o["facts"]["min"] <= o["facts"]["max"] <= 100.0:
        bad.append("wellness")
    return bad


def check(workload, result, meta, run_dir):
    """Returns (operations attempted, operations failed, failure notes)."""
    notes = list(result["errors"])
    failed = result["failed_steps"]
    first = {}
    for c in result["checks"]:  # pass 0 is the warm-up pass
        outs = c["outputs"]
        if c["pass"] == 0:
            bad = []
        elif workload == "clinical_etl":
            bad = check_clinical(outs, meta)
        else:
            bad = [q for q in PIPELINES if q not in outs]
        # the same output must read the same in every pass
        for name, o in outs.items():
            if name in first and (first[name]["rows"], first[name]["hash"]) != (o["rows"], o["hash"]):
                bad.append(name)
            first.setdefault(name, o)
        if bad:
            notes.append(f"pass {c['pass']}: outputs disagree: {sorted(set(bad))[:8]}")
        failed += len(set(bad))
    attempted = result["attempted"]
    if workload == "curation_pipeline":
        small = os.path.join(run_dir, "input", "oracle_corpus")
        bad = oracle.check(os.path.join(run_dir, "input", "corpus"),
                           os.path.join(run_dir, "out", "oracle"),
                           small if os.path.isdir(small) else None)
        attempted += len(PIPELINES)
        failed += len(bad)
        notes += [f"oracle: {b}" for b in bad]
    return attempted, min(failed, attempted), notes


# ---------------------------------------------------------------- metrics

def end_to_end(result):
    return {
        "setup_s": result["setup_s"],
        "pass_s": statistics.median(result["pass_s"]),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def per_layer(result):
    layers, totals = result["layers"], result["totals"]
    values = {}
    for name, _ in per_layer_names():
        head, metric = name.rsplit(".", 1)
        if head in layers:
            values[name] = layers[head].get(metric, 0.0)
        elif head in LAYERS:
            values[name] = 0.0  # the layer does not run in this workload
    values.update({
        "run.spill_mb": totals["spill_b"] / 2 ** 20,
        "run.task_failures": totals["task_failures"],
        "run.jobs_not_succeeded": totals["jobs_not_succeeded"],
        "trace.traced_pass_s": statistics.median(result["pass_s"]),
        "trace.overhead_s": statistics.median(result["trace_overhead_s"]),
    })
    return values


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["clinical_etl", "curation_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classpath = build()
    started = time.time()
    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out, tmp = (os.path.join(run_dir, d) for d in ("input", "out", "tmp"))
    for d in (inputs, out, tmp):
        os.makedirs(d)
    meta = generate(args.workload, args.seed, inputs, args.trace == 1)
    print(f"inputs: workload={args.workload} seed={args.seed} sha256={gen.fingerprint(inputs)}")

    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens] +
           ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--input", inputs, "--out", out,
            "--seconds", str(args.seconds), "--trace", str(args.trace)])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as logf:
        try:
            proc = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=logf, stderr=logf,
                                  timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            die(f"the run did not finish in time; see {log}")
    result_file = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        die(f"the benchmark JVM failed (exit {proc.returncode})")
    with open(result_file) as f:
        result = json.load(f)

    attempted, failed, notes = check(args.workload, result, meta, run_dir)
    for n in notes:
        print(f"check: {n}", file=sys.stderr)
    values = per_layer(result) if args.trace else end_to_end(result)
    units = dict(per_layer_names() if args.trace else END_TO_END)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()

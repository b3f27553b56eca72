#!/usr/bin/env python3
"""graft benchmark: one closed-loop client against a local[nproc] session.

    python3 perfbench/run.py --workload mr_jobs --seed 42 --seconds 12 --trace 0

Run it from the root of a checkout. The first run compiles src/main/scala
and perfbench/scala with the Scala compiler in $SPARK_HOME/jars into
.bench_build/. Inputs, run directories and traces go to .bench_work/.

One JVM runs the workload's op list: session creation and a warm-up
action, then several set-ups (each an untimed pass over a fresh copy of the
input, so every artifact is built again), then timed passes until
--seconds have elapsed. Every output is checked: part files against a
tally made from the seed, query results against the DuckDB oracle. The
last line of stdout is the JSON result. With --trace 1 it carries the
per-layer metrics instead of the end-to-end ones, and the spans go to
.bench_work/traces/<workload>-s<seed>.json.

Times are wall times less the host's CPU steal over the same interval
(see net()); cpu_s is process CPU time including reaped children.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import inputs  # noqa: E402

BENCH_DIR = "perfbench"
BUILD_DIR = ".bench_build"
WORK_DIR = ".bench_work"
RUN_LIMIT_S = 170
JVM_HEAP = "2g"

# Metric names and units are those BENCHMARK.json declares. The per-layer
# ones are measured on every workload; the trace file also holds the
# workload-specific layer metrics (query builder and Catalyst times, module
# op times, the engine's stage split), which read zero where a layer is idle.
with open("BENCHMARK.json") as _fh:
    _declared = json.load(_fh)
END_TO_END = [(m["name"], m["unit"]) for m in _declared["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _declared["per_layer"]]

# Counters that two runs of the same code and seed must reproduce exactly.
REPEAT = [m for m, _ in PER_LAYER if m.startswith("plan.")] + [
    "spark.jobs", "spark.stages", "spark.tasks",
    "engine.stages_per_job", "engine.records_shuffled", "warehouse.artifacts_built",
]

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    elif os.path.exists("build.sbt"):
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else ""
    else:
        sys.exit("no build.sbt and no SPARK_HOME: run from the root of a graft checkout")
    if not os.path.isdir(jars):
        sys.exit(f"Spark jars not found at {jars!r}")
    return jars


def scala_sources(d):
    out = []
    for p, _, fs in os.walk(d):
        out += [os.path.join(p, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles the program, then perfbench/scala against it, each once per
    source hash; returns the class path."""
    jars = spark_jars()
    graft_src = scala_sources("src/main/scala")
    bench_src = scala_sources(os.path.join(BENCH_DIR, "scala"))
    if not graft_src:
        sys.exit("no Scala sources under src/main/scala: run from the root of a graft checkout")
    graft_out = os.path.join(BUILD_DIR, "graft-" + source_hash(graft_src))
    bench_out = os.path.join(BUILD_DIR, "bench-" + source_hash(graft_src + bench_src))
    scalac = ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                      if j.startswith(("scala-compiler", "scala-library", "scala-reflect")))
    for out, srcs, classpath in [
        (graft_out, graft_src, os.path.join(jars, "*")),
        (bench_out, bench_src, graft_out + ":" + os.path.join(jars, "*")),
    ]:
        if os.path.exists(os.path.join(out, "ok")):
            continue
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        t0 = time.time()
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", scalac, "scala.tools.nsc.Main", "-nowarn",
             "-d", out, "-classpath", classpath] + srcs,
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            sys.exit(f"compiling {out} failed")
        open(os.path.join(out, "ok"), "w").close()
        log(f"compiled {out} in {time.time() - t0:.1f}s")
    return [bench_out, graft_out, os.path.join(jars, "*")]


def input_root(name, wl, seed):
    """Inputs are cached per workload, seed and workload spec."""
    key = hashlib.sha256(json.dumps(wl, sort_keys=True).encode()).hexdigest()[:8]
    return os.path.abspath(os.path.join(WORK_DIR, "inputs", f"{name}-s{seed}-{key}"))


def prepare_inputs(name, wl, seed):
    """Generates the workload's inputs for this seed once; returns
    (input root, input bytes)."""
    root = input_root(name, wl, seed)
    meta = os.path.join(root, "meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        t0 = time.time()
        if wl["kind"] == "mr":
            size = inputs.gen_corpus(wl, root, seed)
        else:
            size = inputs.gen_tables(wl, os.path.join(root, "data"), seed)
        with open(meta, "w") as fh:
            json.dump({"input_bytes": size}, fh)
        log(f"generated {name} inputs for seed {seed} in {time.time() - t0:.1f}s")
    with open(meta) as fh:
        return root, json.load(fh)["input_bytes"]


def run_jvm(cp, config, run_dir, deadline):
    cfg = os.path.join(run_dir, "config.json")
    res = os.path.join(run_dir, "result.json")
    with open(cfg, "w") as fh:
        json.dump(config, fh)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.abspath(os.path.join(BENCH_DIR, 'log4j2.properties'))}",
        "-cp", ":".join(cp), "perfbench.Runner", cfg, res,
    ]
    log_file = os.path.join(run_dir, "jvm.log")
    with open(log_file, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(res):
        with open(log_file, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(f"benchmark JVM failed ({rc})")
    with open(res) as fh:
        return json.load(fh)


def check_ops(wl, root, result):
    """Checks the output of every op the run executed, set-ups included;
    returns {pass/op: problem} for the ops that threw or answered wrong."""
    passes = result["setups"] + result["timed"] + result["untraced"]
    oracle = None
    if wl["kind"] != "mr":
        oracle = inputs.oracle_hashes(os.path.join(root, "data"), result["oracle_sql"],
                                      os.path.join(root, "oracle.json"))
    failures = {}
    for p in passes:
        for op in p["ops"]:
            err = op["error"]
            if not err and oracle is None:
                err = inputs.check_parts(op["out"], os.path.join(root, "expect", op["name"]),
                                         wl["num_reducers"], grep_job=op["name"].endswith("grep"))
            elif not err:
                err = inputs.check_query(op["out"], oracle[op["name"]])
            if err:
                failures[f"{p['name']}/{op['name']}"] = err
    return failures


def net(rec, cpus):
    """Wall time less the host's steal over the same interval, spread over
    the VM's CPUs. Steal is CPU time the hypervisor gave to other guests
    while this VM had work to run; on a dedicated host it is zero and this
    is plain wall time."""
    return rec["wall_s"] - rec["steal_s"] / cpus


def end_to_end(result, input_bytes):
    timed = result["timed"]
    cpus = os.cpu_count()
    walls = [net(p, cpus) for p in timed]
    ops = [net(o, cpus) for p in timed for o in p["ops"]]
    run_s = statistics.median(walls)
    setup_s = (result["session_create_s"] + result["warmup_s"] - result["session_steal_s"] / cpus
               + statistics.median(net(p, cpus) for p in result["setups"]))
    log(f"{len(walls)} timed passes, {len(ops)} op samples; wall {[round(p['wall_s'], 2) for p in timed]}, "
        f"host steal {[round(p['steal_s'], 2) for p in timed]} CPU-s; "
        f"set-ups {[round(p['wall_s'], 2) for p in result['setups']]}")
    by_op = {}
    for p in timed:
        for o in p["ops"]:
            by_op.setdefault(o["name"], []).append(net(o, cpus))
    log("op medians: " + ", ".join(f"{k} {statistics.median(v):.2f}s" for k, v in by_op.items()))
    values = {
        "setup_s": setup_s,
        "run_s": run_s,
        "op_p50_s": statistics.median(ops),
        # a run holds 9-20 op samples of a few op types, too few for a
        # percentile above the median with ten samples beyond it; the
        # slowest op of each pass, median over passes, is the stable tail
        "op_tail_s": statistics.median(max(net(o, cpus) for o in p["ops"]) for p in timed),
        "input_mb_per_s": input_bytes / 1e6 / run_s,
        "cpu_s": statistics.median(p["cpu_s"] for p in timed),
        "retained_heap_mb": result["retained_heap_mb"],
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END}


def self_times(spans, passes):
    """Per span name, per listener-on timed pass: duration minus the part
    its children cover."""
    spans = [s for s in spans if s["op"].startswith("timed")]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                     for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                covered += (cur_e - cur_s) if cur_e is not None else 0
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        covered += (cur_e - cur_s) if cur_e is not None else 0
        out[s["name"]] = out.get(s["name"], 0) + (s["end_ms"] - s["start_ms"] - covered) / 1e3 / passes
    return out


def per_layer(name, seed, result, code):
    layers = dict(result["layers"])
    cpus = os.cpu_count()
    traced_run = statistics.median(net(p, cpus) for p in result["timed"])
    untraced_run = statistics.median(net(p, cpus) for p in result["untraced"])
    layers["trace.overhead"] = traced_run / untraced_run
    # module op times are raw wall, so their share is of the raw pass wall
    raw_run = statistics.median(p["wall_s"] for p in result["timed"])
    modules = {k[:-len(".op_s")]: v / raw_run for k, v in layers.items() if k.endswith(".op_s")}

    # exact-repeat check against an earlier traced run of the same code and seed
    rep_dir = os.path.join(WORK_DIR, "repeat")
    os.makedirs(rep_dir, exist_ok=True)
    rep_file = os.path.join(rep_dir, f"{name}-s{seed}-{code}.json")
    counters = {k: layers[k] for k in REPEAT}
    diffs = {}
    if os.path.exists(rep_file):
        with open(rep_file) as fh:
            before = json.load(fh)
        diffs = {k: [before.get(k), v] for k, v in counters.items() if before.get(k) != v}
        for k, (a, b) in diffs.items():
            log(f"exact-repeat diff: {k} was {a}, now {b}")
        if not diffs:
            log(f"exact-repeat: {len(counters)} counters identical to the earlier run")
    else:
        with open(rep_file, "w") as fh:
            json.dump(counters, fh)

    trace_dir = os.path.join(WORK_DIR, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{name}-s{seed}.json"), "w") as fh:
        json.dump({
            "workload": name, "seed": seed, "code": code,
            "traced_run_s": traced_run, "untraced_run_s": untraced_run,
            "layers": layers, "module_share_of_run_s": modules,
            "self_time_s_per_pass": self_times(result["spans"], len(result["timed"])),
            "repeat_diffs": diffs, "spans": result["spans"],
        }, fh, indent=1)
    return {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}


def load_spec():
    with open(os.path.join(BENCH_DIR, "spec.json")) as fh:
        return json.load(fh)


def bench(workload, seed, seconds, trace, spec):
    """One run: build, generate inputs, run the JVM, check every output;
    returns the result object that main() prints."""
    deadline = time.time() + RUN_LIMIT_S
    if workload not in spec["workloads"]:
        sys.exit(f"unknown workload {workload}; choose from {sorted(spec['workloads'])}")
    wl = spec["workloads"][workload]
    cp = build()
    root, input_bytes = prepare_inputs(workload, wl, seed)

    run_dir = os.path.abspath(os.path.join(WORK_DIR, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if wl["kind"] == "mr":
        setup_dirs = [os.path.join(root, "corpus")] * spec["setups"]
    else:
        # a fresh path per set-up: artifact names carry a fingerprint of
        # their source paths, so each set-up builds every artifact again
        setup_dirs = []
        for k in range(spec["setups"]):
            d = os.path.join(run_dir, f"data{k + 1}")
            os.makedirs(d)
            for f in os.listdir(os.path.join(root, "data")):
                os.link(os.path.join(root, "data", f), os.path.join(d, f))
            setup_dirs.append(d)
    word = wl.get("grep_word", "")
    config = {
        "cores": len(os.sched_getaffinity(0)),
        "clk_tck": os.sysconf("SC_CLK_TCK"),
        "seconds": seconds,
        "trace": bool(trace),
        "work_dir": run_dir,
        "ops": wl["ops"],
        "setup_dirs": setup_dirs,
        "keys_file": os.path.join(root, "keys.txt"),
        "mr": {
            "input_dir": os.path.join(root, "corpus"),
            "num_mappers": wl.get("num_mappers", 0),
            "num_reducers": wl.get("num_reducers", 4),
            "grep_word": word,
            "wc_map": wl.get("wc_map", ""),
            "wc_reduce": wl.get("wc_reduce", ""),
            "grep_map": f"awk -v q='{word}' 'index(tolower($0), q) > 0 && NF > 0 {{ print \"1\\t\" $0 }}'",
            "grep_reduce": wl.get("grep_reduce", ""),
        },
    }
    result = run_jvm(cp, config, run_dir, deadline)

    failures = check_ops(wl, root, result)
    for op, err in sorted(failures.items()):
        log(f"FAILED {op}: {err}")
    attempted = sum(len(p["ops"]) for p in result["setups"] + result["timed"] + result["untraced"])
    if trace:
        metrics = per_layer(workload, seed, result, os.path.basename(cp[0]))
    else:
        metrics = end_to_end(result, input_bytes)
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"correct": not failures, "attempted": attempted, "failed": len(failures), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    print(json.dumps(bench(args.workload, args.seed, args.seconds, args.trace, load_spec())))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Runs one benchmark workload at one seed in one fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source (perfbench/build.sh) into $CARGO_TARGET_DIR, or
.bench_build when that is unset; later runs reuse the build while the
sources are unchanged. Each run then

1. generates the workload's tables (and for `serve` its request
   stream) from the seed into .bench_work/,
2. launches `graft.perfbench.Main` with java, on local[nproc] and with
   the JVM options of build.sbt (read from it, with a 2 GB heap as
   SPARK_DRIVER_MEM=2g would give), which sets up, runs the timed
   section and dumps outputs,
3. checks the outputs against the DuckDB oracles, outside the timed
   section,
4. appends the full record to .bench_runs/results.jsonl (and the spans
   of a traced run to .bench_runs/spans/) and prints one JSON line:
   the end-to-end metrics with --trace 0, the per-layer ones with
   --trace 1.

It exits non-zero when the build or the run fails or any output is
wrong.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

# The tables whose rows one pass reads: the base of rows_per_s.
INPUTS = {
    "hh_batch": ["events", "orders", "customer", "lineitem", "part", "nation"],
    "curation": ["documents"],
    "serve": ["embeddings", "documents", "events"],
}
SERVE_REQUESTS = 20000
SERVE_WARMUP = 24
HEAP = "2g"
JVM_TIMEOUT_S = 160
END_TO_END = [("setup_s", "s"), ("rows_per_s", "1/s"), ("req_p50_ms", "ms"),
              ("req_p90_ms", "ms"), ("req_per_s", "1/s"),
              ("retained_heap_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(jars):
            return jars
    except ImportError:
        pass
    sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources_digest():
    h = hashlib.sha256()
    roots = ["src/main/scala", os.path.join("perfbench", "src")]
    files = [os.path.join("perfbench", "build.sh")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Build once per source state; returns the classes directory."""
    out = os.path.join(os.environ.get("CARGO_TARGET_DIR") or ".bench_build",
                       "perfbench")
    stamp = os.path.join(out, "stamp")
    if not os.path.isdir("src/main/scala"):
        sys.exit("perfbench: no engine sources (src/main/scala) to build")
    digest = sources_digest()
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return classes
    os.makedirs(out, exist_ok=True)
    log("building engine and harness")
    t0 = time.time()
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out, jars])
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return classes


def java_options():
    """build.sbt's javaOptions: its add-opens list and its -D and -XX
    options, with -Xmx and -Xms set to HEAP (build.sbt takes both from
    SPARK_DRIVER_MEM)."""
    with open("build.sbt") as f:
        sbt = f.read()
    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)", sbt, re.S)
    opts = re.search(r"javaOptions \+\+= jdk17AddOpens \+\+ Seq\((.*?)\n\)", sbt, re.S)
    if not opens or not opts:
        sys.exit("perfbench: cannot read javaOptions from build.sbt")
    out = []
    for p in re.findall(r'"([^"]+)"', re.sub(r"//.*", "", opens.group(1))):
        out += ["--add-opens", f"{p}=ALL-UNNAMED"]
    out += re.findall(r'^\s*"(-[DX][^"]*)"', opts.group(1), re.M)
    return out + [f"-Xmx{HEAP}", f"-Xms{HEAP}"]


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(classes, jars, workload, data, work, seconds, trace):
    cmd = ["java"] + java_options()
    cmd += [f"-Dspark.sql.warehouse.dir={os.path.abspath(work)}/warehouse",
            f"-Dspark.local.dir={os.path.abspath(work)}/tmp",
            "-cp", f"{jars}/*:{classes}", "graft.perfbench.Main",
            "--workload", workload, "--data", data, "--work", work,
            "--seconds", str(seconds), "--trace", str(trace)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    return rc


def pct(xs, q):
    """Linear-interpolated percentile (numpy's default) of a list."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * q / 100.0
    i = int(k)
    return s[i] + (s[min(i + 1, len(s) - 1)] - s[i]) * (k - i)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    tables = INPUTS[a.workload]

    jars = spark_jars()
    classes = build(jars)

    work = os.path.join(".bench_work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    serve = a.workload == "serve"
    inputs = gen.generate(data, a.seed, SERVE_REQUESTS if serve else 0,
                          SERVE_WARMUP if serve else 0)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)

    t0 = time.time()
    rc = run_jvm(classes, jars, a.workload, data, work, a.seconds, a.trace)
    wall = time.time() - t0
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        sys.exit(f"perfbench: JVM run failed ({rc})")
    res = json.load(open(res_path))

    # ---- correctness gate (untimed) ----
    con = oracle.connect(data)
    oracles = json.load(open(os.path.join(work, "oracle_sql.json")))
    ops = res["ops"]
    failed_ops = [o for o in ops if not o["ok"]]
    if serve:
        verdicts = oracle.check_samples(con, res["samples"], oracles)
        mismatches = [(f"{s['kind']} {s['args']}", v)
                      for s, v in zip(res["samples"], verdicts) if v]
        checked = len(verdicts)
    else:
        dump = os.path.join(work, "out" if a.workload == "hh_batch" else "dump")
        verdicts = oracle.check_dumps(con, dump, oracles)
        mismatches = [(k, v) for k, v in verdicts.items() if v]
        checked = len(verdicts)
    failed = len(failed_ops) + len(mismatches)
    attempted = len(ops)
    correct = failed == 0 and checked > 0 and attempted > 0
    for o in failed_ops:
        log(f"FAILED {o['name']}: {o['err']}")
    for k, v in mismatches:
        log(f"MISMATCH {k}: {v}")

    # ---- metrics ----
    pass_s = res["pass_s"]
    base = sum(inputs[t]["rows"] for t in tables)
    if serve:
        # an operation is a request; each reads one of the three inputs,
        # credited with their mean so that the figure does not hinge on
        # which kind happened to finish last
        lat = [o["ms"] for o in ops if o["ok"]]
        rows = len(lat) * base / len(tables)
    else:
        # an operation is the batch job: the one pass over the key list,
        # so both percentiles read the pass time
        lat = [sum(o["ms"] for o in ops)]
        rows = base
    e2e = {
        "setup_s": res["setup_s"],
        "rows_per_s": rows / pass_s,
        "req_p50_ms": pct(lat, 50),
        "req_p90_ms": pct(lat, 90),
        "req_per_s": len(lat) / pass_s,
        "retained_heap_mb": res["retained_heap_mb"],
    }
    units = dict(END_TO_END)
    layers = {}
    if a.trace:
        layers = dict(res["layers"])
        for fn, v in res.get("kernels", {}).items():
            layers[f"kernel.{fn}.rows_per_s"] = v
        in_bytes = sum(inputs[t]["bytes"] for t in tables)
        layers["write.bytes_per_input_byte"] = layers["write.bytes"] / in_bytes
        for k, v in e2e.items():
            layers[f"traced.{k}"] = v

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "time": time.time(), "wall_s": wall,
              "nproc": nproc(), "heap": HEAP, "inputs": inputs,
              "input_rows": base,
              "pass_s": pass_s,
              "ops": len(ops), "checked": checked, "failed": failed,
              "mismatches": mismatches, "e2e": e2e, "layers": layers,
              "op_ms": [[o["name"], o["ms"]] for o in ops]}
    runs = ".bench_runs"
    os.makedirs(os.path.join(runs, "spans"), exist_ok=True)
    with open(os.path.join(runs, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    if a.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(runs, "spans", f"{a.workload}-s{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    log(f"{a.workload} seed={a.seed}: input rows={record['input_rows']} "
        f"pass={pass_s:.3f}s ops={len(ops)} checked={checked} failed={failed} "
        f"setup={res['setup_s']:.3f}s wall={wall:.1f}s")
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


def layer_unit(name):
    for suffix, unit in (("_per_s", "1/s"), ("_per_input_byte", "ratio"),
                         ("_s", "s"), (".s", "s"), ("_ms", "ms"), (".ms", "ms"),
                         ("_mb", "MB"), ("bytes", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The graft benchmark: one closed-loop client over a named workload.

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the harness together
with the library (sbt, offline) and generates the inputs; later runs reuse
both from `.bench_build/`. A run starts one JVM that builds the session
through `GraftSession.builder()`, warms up with one untimed pass over the
workload's queries, and then makes round(S / nominal_pass_s) timed passes
(about S seconds), issuing one query at a time, back to back, in a
seed-permuted order. Each result is materialized in full to Spark's `noop`
sink. After the timed passes every query runs once more and its output is
checked against the reference fingerprint in `refs.json`.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it is
a JSON object of context fields (host load, spin probe, input generation
time, tail percentile, tracing overhead, ...).

`--dump-fingerprints FILE` also writes the observed fingerprints to FILE
(make_refs.py uses it).
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
DATA_SEED = 42  # the inputs are fixed so that committed fingerprints apply
SIM_FACTOR = 10
JVM_TIMEOUT_S = 170
HEAP = "3g"
YOUNG = "1g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def tree_digest(paths):
    h = hashlib.sha256(ROOT.encode())
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the harness with the library; returns the JVM classpath."""
    sources = [PROGRAM_SRC, os.path.join(HERE, "src"),
               os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
    stamp = tree_digest(sources)
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the harness")
    tmp = os.path.join(WORK, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    log("building the harness and the library (sbt, offline)")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("/") and "classes" in ln]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("harness build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    record_context("build_s", time.time() - t0)
    return lines[-1].strip()


def record_context(key, value):
    path = os.path.join(WORK, "inputs.json")
    ctx = {}
    if os.path.exists(path):
        with open(path) as fh:
            ctx = json.load(fh)
    ctx[key] = value
    with open(path, "w") as fh:
        json.dump(ctx, fh)


def load_context():
    path = os.path.join(WORK, "inputs.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def java_cmd(classpath, run_root, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    opts += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(run_root, 'warehouse')}",
             f"-Dderby.system.home={os.path.join(run_root, 'derby')}"]
    return [java] + opts + ["-cp", classpath, "graftbench.Main"] + args


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, args, log_path, run_root, timeout=JVM_TIMEOUT_S):
    """Runs the harness JVM with its scratch confined to `run_root`."""
    for sub in ("tmp", "scratch", "local"):
        os.makedirs(os.path.join(run_root, sub), exist_ok=True)
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(cores()),
               SPARK_GRAFT_SCRATCH_DIR=os.path.join(run_root, "scratch"),
               SPARK_GRAFT_LOCAL_DIR=os.path.join(run_root, "local"))
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(java_cmd(classpath, run_root, args), cwd=run_root,
                                env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness JVM {'timed out' if code is None else f'exited with {code}'}")


def dir_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def prepare_inputs(classpath, data):
    """Generates the input directory `data` names, once per checkout."""
    gen = os.path.join(HERE, "gen_data.py")
    stamp = tree_digest([gen])
    out = os.path.join(WORK, "data", data)
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return out
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    if data.startswith("sf"):
        subprocess.run([sys.executable, gen, out, data[2:], str(DATA_SEED)], check=True)
    elif data == "similarity":
        base = prepare_inputs(classpath, "sf0.01")
        # The corpus is ~SIM_FACTOR x the base's big tables; refuse to start
        # on a nearly full disk rather than fail half-way through writing.
        need = 50 * dir_bytes(base) * SIM_FACTOR
        free = shutil.disk_usage(WORK).free
        record_context("free_bytes_before_corpus", free)
        if free < need:
            fail(f"{free >> 20} MB free, the similarity corpus needs ~{need >> 20} MB")
        t0 = time.time()
        run_root = os.path.join(WORK, "gen-run")
        run_jvm(classpath, ["gen", "--base", base, "--out", out,
                            "--factor", str(SIM_FACTOR)],
                os.path.join(WORK, "gen.log"), run_root, timeout=600)
        shutil.rmtree(run_root, ignore_errors=True)
    else:
        fail(f"unknown input set {data}")
    record_context(f"generate_{data}_s", time.time() - t0)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def spin_probe():
    """Seconds for a fixed amount of single-threaded work; host noise shows
    here as a slower probe."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x = (x * 31 + i) % 1_000_003
        best = min(best, time.perf_counter() - t0)
    return best


def percentile_tail(values):
    """Value at the highest percentile that still has >= 10 samples above
    it, with that percentile."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    k = n - 11
    return s[k], 100.0 * (k + 1) / n


def end_to_end(res, setup_s):
    ok = [r["s"] for r in res["runs"] if r["error"] is None]
    if not ok:
        fail("every query execution threw; see the run log in .bench_build/out")
    passes = res["passes"]
    tail, pct = percentile_tail(ok)
    metrics = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "query_p50_s": statistics.median(ok),
        "query_geomean_s": statistics.geometric_mean(ok),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    # A run has too few executions for a tail percentile with ten samples
    # beyond it, so the tail is context, not a metric (see README.md).
    ctx = {"query_samples": len(ok), "query_tail_s": tail,
           "query_tail_percentile": round(pct, 2), "passes": len(passes)}
    return metrics, ctx


def units_of(metric_specs):
    return {m["name"]: m["unit"] for m in metric_specs}


def check(fingerprints, refs):
    """Names of the queries whose output differs from the reference."""
    bad = []
    for q, got in sorted(fingerprints.items()):
        want = refs.get(q)
        if want is None or "error" in got or got["rows"] != want["rows"] or \
                ("fp" in want and got["fp"] != want["fp"]):
            bad.append(q)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dump-fingerprints")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        fail(f"no program sources under {PROGRAM_SRC}; run from a repository checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; one of {sorted(workloads)}")
    wl = workloads[a.workload]
    queries = wl["queries"]
    with open(os.path.join(HERE, "refs.json")) as fh:
        refs = json.load(fh).get(a.workload, {})

    os.makedirs(WORK, exist_ok=True)
    ctx = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
           "loadavg_start": os.getloadavg(), "spin_probe_start_s": spin_probe()}
    classpath = build()
    data = prepare_inputs(classpath, wl["data"])

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    run_root = os.path.join(WORK, "runs", tag)
    result = os.path.join(out_dir, f"{tag}.json")
    spans = os.path.join(out_dir, f"{tag}.spans.jsonl")
    # A fixed number of timed passes, sized from the workload's nominal
    # pass time rather than read from a clock, so every run of a workload
    # does the same work.
    passes = max(1, round(a.seconds / wl["nominal_pass_s"]))
    args = ["run", "--data", data, "--queries", ",".join(queries), "--seed", str(a.seed),
            "--passes", str(passes), "--trace", str(a.trace), "--out", result]
    if a.trace:
        args += ["--spans", spans]
    shutil.rmtree(run_root, ignore_errors=True)
    t0 = time.time()
    run_jvm(classpath, args, os.path.join(out_dir, f"{tag}.log"), run_root)
    jvm_s = time.time() - t0
    # Whatever the JVM left in its scratch root after exit is a leak.
    leaked_mb = dir_bytes(run_root) / 1048576.0
    shutil.rmtree(run_root, ignore_errors=True)
    with open(result) as fh:
        res = json.load(fh)

    fps = res["fingerprints"]
    if a.dump_fingerprints:
        with open(a.dump_fingerprints, "w") as fh:
            json.dump(fps, fh, indent=1, sort_keys=True)
    mismatched = check(fps, refs)
    timed = res["runs"]
    threw = [r["q"] for r in timed if r["error"] is not None]
    attempted = len(timed)
    failed = len(threw) + len(mismatched)

    passes_run = len(res["passes"]) + 1  # timed passes plus the check pass
    untraced_file = os.path.join(out_dir, f"untraced-{a.workload}-s{a.seed}.json")
    if a.trace:
        metrics = dict(res["layers"])
        metrics["scratch.leaked_mb"] = leaked_mb / passes_run
        units = units_of(spec["per_layer"])
        traced = statistics.median(p["wall_s"] for p in res["passes"])
        ctx["traced_pass_s"] = traced
        # Overhead against the latest untraced run of this workload and
        # seed in this checkout, when there is one.
        if os.path.exists(untraced_file):
            with open(untraced_file) as fh:
                untraced = json.load(fh)["pass_s"]
            ctx["untraced_pass_s"] = untraced
            ctx["trace_overhead"] = traced / untraced - 1
        ctx["trace"] = res["trace"]
        ctx["span_file"] = os.path.relpath(spans, ROOT)
        out_metrics = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    else:
        metrics, more = end_to_end(res, res["setup"]["setup_s"])
        ctx.update(more)
        with open(untraced_file, "w") as fh:
            json.dump({"pass_s": metrics["pass_s"]}, fh)
        units = units_of(spec["end_to_end"])
        out_metrics = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    ctx.update({
        "error_rate": failed / attempted, "threw": sorted(set(threw)),
        "check_mismatched": mismatched, "scratch_leaked_mb": leaked_mb,
        "setup": res["setup"], "measured_s": res["measured_s"],
        "check_s": res["check_s"], "jvm_s": jvm_s,
        "inputs": load_context(), "data": os.path.relpath(data, ROOT),
        "loadavg_end": os.getloadavg(), "spin_probe_end_s": spin_probe(),
        "result_file": os.path.relpath(result, ROOT)})
    print(json.dumps({"context": ctx}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))


if __name__ == "__main__":
    main()

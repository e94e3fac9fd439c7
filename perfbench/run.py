#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload, one result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the benchmark
driver from source (once per source state, under .bench_build/), generates
the seed's inputs (once per seed), runs the workload in one JVM, checks every
pipeline's output against its DuckDB oracle and prints one JSON object as the
last line of stdout: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with --trace 0, the per-layer ones with --trace 1). A
fuller record of the run (inputs, host, per-pipeline latencies, oracle
verdicts) goes to .bench_build/runs/. See perfbench/README.md.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
BUILD_SETTLE_S = 10
DEADLINE_S = 170  # every run must end within 180 s (the first one builds first)
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg: str):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg: str, code: int = 2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------- build

def source_files():
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "macros", "src", "main"),
            os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)]
    return files


def source_digest() -> str:
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest: str) -> str:
    """Compile program + driver with sbt (offline) once per source state;
    return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"]
    log("building program and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}/tmp"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = proc.stdout.splitlines()
    cp = [ln for ln in lines if ".bench_build" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, f)
    # measured runs right after a compile read slow (by ~1.5x); let the
    # machine settle first
    time.sleep(BUILD_SETTLE_S)
    return cp[-1].strip()


# -------------------------------------------------------------------- host

def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7] if len(v) > 7 else 0


def driver_mem() -> str:
    """Tier-1 driver-memory formula: half of RAM, 2..8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# --------------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    for need in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "macros", "src", "main", "scala")):
        if not os.path.isdir(need):
            fail(f"program sources not found at {os.path.relpath(need, ROOT)}: "
                 "run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the benchmark")

    digest = source_digest()
    classpath = build(digest)
    t_built = time.time()

    # inputs are keyed by the generator's source too, so a changed generator
    # never reuses another version's files
    with open(gen.__file__, "rb") as f:
        gen_digest = hashlib.sha256(f.read()).hexdigest()[:12]
    inputs = os.path.join(BUILD, "inputs", a.workload, f"seed{a.seed}-{gen_digest}")
    manifest = gen.generate(a.workload, a.seed, inputs)
    rows = ",".join(f"{t}={v['rows']}" for t, v in sorted(manifest["tables"].items()))

    out = os.path.join(BUILD, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cpus = os.cpu_count() or 1
    # a fixed heap and young generation keep the peak RSS from following the
    # GC's adaptive sizing (quartile spread over 10 seeds: 0.2 without, 0.03
    # with)
    heap = driver_mem()
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g", f"-Djava.io.tmpdir={out}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.level=error"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", a.workload, "--inputs", inputs,
              "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--rows", rows, "--cpus", str(min(cpus, 4))])
    total0, steal0 = cpu_times()
    budget = DEADLINE_S - (time.time() - t_built)
    with open(os.path.join(out, "jvm.log"), "w") as jlog:
        try:
            proc = subprocess.run(cmd, cwd=ROOT, stdout=jlog, stderr=subprocess.STDOUT,
                                  timeout=max(10.0, budget))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded its {budget:.0f} s budget; log in {out}/jvm.log", 3)
    total1, steal1 = cpu_times()
    result_path = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"benchmark JVM exited with {proc.returncode}", 3)
    with open(result_path) as f:
        res = json.load(f)
    if res["context_stopped"]:
        fail("SparkContext stopped during the run: the run is invalid (not failed)", 4)

    verdict = oracle.check(inputs, os.path.join(out, "outputs"), res["pipelines"])
    wrong = sorted({p for p, v in verdict.items() if v is not None} | set(res["mismatched"]))
    for p in wrong:
        log(f"WRONG {p}: {verdict.get(p) or 'a later run differed from the first'}")

    ph = res["untraced"]
    execs = ph["execs"]
    attempted = len(execs)
    failed = sum(1 for _, _, ok in execs if not ok)
    lat = [s for _, s, ok in execs if ok]
    if not lat:
        fail("no pipeline call succeeded", 3)
    tail_v, tail_p, n = stats.tail(lat)
    n_pipes = len(res["pipelines"])
    e2e = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "rows_per_s": (ph["rows"] / ph["wall_s"], "rows/s"),
        "pipeline_p50_s": (stats.harrell_davis(lat, 50), "s"),
        "pipeline_tail_s": (tail_v, "s"),
        "ok_frac": (1.0 - stats.failed_frac(attempted, failed), "frac"),
        "right_frac": (1.0 - len(wrong) / n_pipes, "frac"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_commit": git_commit(), "source_sha256": digest,
        "host": {"nproc": os.cpu_count(), "loadavg": os.getloadavg(),
                 "steal_share": (steal1 - steal0) / max(1, total1 - total0),
                 "local_cpus": min(cpus, 4), "driver_mem": heap},
        "inputs": manifest, "setup_s": res["setup_s"],
        "pipeline_tail_percentile": tail_p, "latency_samples": n,
        "failed_frac": failed / attempted, "wrong_results": len(wrong),
        "wrong": {p: verdict.get(p) or "repeat differed" for p in wrong},
        "errors": res["errors"],
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "latencies": [[q, s] for q, s, ok in execs if ok],
        "latency_by_pipeline": {
            p: statistics.median([s for q, s, ok in execs if q == p and ok] or [0])
            for p in res["pipelines"]},
    }
    if a.trace:
        with open(os.path.join(out, "spans.json")) as f:
            trace = json.load(f)
        tp = res["traced"]
        layer = stats.layer_metrics(trace, tp["wall_s"], rounds=len(tp["execs"]) // n_pipes)
        traced_rps = tp["rows"] / tp["wall_s"]
        untraced_rps = res["reference"]["rows"] / res["reference"]["wall_s"]
        layer["trace.overhead_frac"] = 1.0 - traced_rps / untraced_rps
        record["trace_rows_per_s"] = {"untraced": untraced_rps, "traced": traced_rps}
        record["per_layer"] = layer
        record["by_span"] = stats.by_span_name(trace)
        units = dict(stats.ENGINE_METRICS + stats.TRACE_METRICS)
        units.update({f"{l}.{k}": u for l in stats.LAYERS for k, u in stats.LAYER_METRICS})
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    rec_path = os.path.join(BUILD, "runs",
                            f"{time.strftime('%Y%m%dT%H%M%S')}-{a.workload}-{a.seed}-t{a.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)

    print(f"workload={a.workload} seed={a.seed} pipelines={n_pipes} calls={attempted} "
          f"failed={failed} wrong_results={len(wrong)} "
          f"tail=p{tail_p} of n={n} dup_rate={manifest.get('documents_dup_rate', 0):.3f} "
          f"steal={record['host']['steal_share']:.3f} wall={time.time() - t_start:.1f}s "
          f"record={os.path.relpath(rec_path, ROOT)}")
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": not wrong, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

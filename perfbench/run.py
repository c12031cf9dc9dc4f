#!/usr/bin/env python3
"""The lsdspark benchmark: one command, every metric by name and unit.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness from source (``perfbench/build.sbt``) into ``.bench_build/``;
later runs reuse that build while the sources are unchanged. Each run:

1. generates the workload's inputs from ``--seed`` (``perfbench/gen.py``)
   into a fresh run directory under ``.bench_build/``;
2. starts one JVM (explicit heap, ``local[nproc]``, shuffle partitions =
   nproc, ``java.io.tmpdir`` and ``spark.local.dir`` inside the run
   directory) that sets the workload up several times from empty
   directories, warms up, then runs one client in a closed loop for
   ``--seconds`` (to the end of the current deck or batch), and checks
   every output against an independent evaluation;
3. deletes the run directory, and prints one JSON object as the last
   line of stdout: ``correct``, ``attempted``, ``failed`` and
   ``metrics`` -- the end-to-end metrics of BENCHMARK.json with
   ``--trace 0``, its per-layer metrics with ``--trace 1``.

Everything else (progress, failures with their causes, the traced
run's self-time table) goes to stderr. See perfbench/README.md for what
each metric means and which workload it should move.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Tail latency is reported (on stderr) at the highest percentile of
# TAIL_LADDER that keeps at least TAIL_BEYOND samples beyond it. A run of
# BENCHMARK.json's length holds too few ops for any percentile above the
# median, so the tail is not one of the gated metrics; longer runs
# (--seconds 120 and up) print it.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 70.0, 60.0, 50.0)
TAIL_BEYOND = 10
# ops whose rows count toward rows_per_s: every ql op's returned or
# committed rows; in survey_batch the detections entering the chain
ROW_KINDS = {"ql_interactive": None, "survey_batch": {"import"}}
COMMIT_KINDS = {"ql_interactive": "commit", "survey_batch": "append"}
HEAP = "3g"
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def tail_percentile(n, beyond=TAIL_BEYOND):
    """Highest percentile of TAIL_LADDER with at least ``beyond`` of
    ``n`` samples above it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= beyond - 1e-9:
            return p
    return None


def percentile(xs, p):
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("program sources (src/main/scala) not found: "
                           "run from the root of a repository checkout")
    stamp = _source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    # sbt's own scratch files go to the checkout, not /tmp
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    env["TMPDIR"] = tmp
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            f"-Djna.tmpdir={tmp}", "-Dsbt.server.autostart=false"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] building program and harness (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=880)
    if p.returncode != 0:
        log(p.stdout[-4000:], p.stderr[-4000:])
        raise RuntimeError(f"build failed (sbt exit {p.returncode})")
    cp = [ln for ln in p.stdout.splitlines()
          if ".jar" in ln and not ln.startswith("[")]
    if not cp:
        raise RuntimeError("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"[perfbench] built in {time.time() - t0:.0f}s")
    return cp[-1].strip()


# ------------------------------------------------------------------ run

def _shm():
    try:
        return set(os.listdir("/dev/shm"))
    except OSError:
        return set()


def run_harness(cp, workload, seed, seconds, trace, run_dir):
    data = os.path.join(run_dir, "data")
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    t0 = time.time()
    out = os.path.join(run_dir, "result.json")
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness",
              "--workload", workload, "--data", data, "--work", work,
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--out", out])
    logf = os.path.join(run_dir, "harness.log")
    with open(logf, "w") as lf:
        # the JVM starts while the inputs are generated; it waits for
        # data/_READY before reading them
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=lf)
        try:
            gen.generate(workload, seed, data)
            open(os.path.join(data, "_READY"), "w").close()
            log(f"[perfbench] generated {workload} seed={seed} in "
                f"{time.time() - t0:.1f}s")
            rc = p.wait(timeout=RUN_TIMEOUT_S - (time.time() - t0))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(logf) as lf:
            log(lf.read()[-6000:])
        raise RuntimeError(f"harness failed ({rc})")
    with open(out) as f:
        res = json.load(f)
    # write-once caches the program left in the per-run tmpdirs
    res["graft_tmp_paths"] = len(glob.glob(os.path.join(work, "rep*", "tmp",
                                                        "graft_*")))
    return res


def end_to_end(res, workload):
    ops = [o for o in res["ops"] if not o["traced"]]
    lat = [o["s"] for o in ops]
    loop = res["loop_s"]
    commits = [o["s"] for o in ops if o["kind"] == COMMIT_KINDS[workload]]
    kinds = ROW_KINDS[workload]
    rows = sum(o["rows"] for o in ops if kinds is None or o["kind"] in kinds)
    pct = tail_percentile(len(lat))
    tail = (f"p{pct:g} {percentile(lat, pct):.3f}s" if pct and pct > 50
            else "no percentile above the median has 10 samples beyond it")
    log(f"[perfbench] {len(lat)} ops in {loop:.1f}s, {len(commits)} "
        f"commits; tail: {tail}")
    by = {}
    for o in ops:
        by.setdefault(o["kind"], []).append(o["s"])
    log("[perfbench] median s by kind: " + ", ".join(
        f"{k} {statistics.median(v):.2f} (n={len(v)})" for k, v in by.items()))
    return {
        "setup_s": statistics.median(r["total_s"] for r in res["setup_reps"]),
        "op_p50_s": statistics.median(lat),
        "ops_per_s": len(lat) / loop,
        "commit_p50_s": statistics.median(commits),
        "rows_per_s": rows / loop,
        "bytes_per_input_byte": res["written_bytes"] / res["input_bytes"],
        "heap_peak_mb": res["heap_peak_mb"],
    }


def tracing_overhead(res):
    """Traced vs untraced ops of the same run (the traced run alternates
    them): per-kind medians weighted by op count."""
    by = {}
    for o in res["ops"]:
        by.setdefault(o["kind"], {True: [], False: []})[o["traced"]].append(o["s"])
    num = den = 0.0
    for k, d in by.items():
        if d[True] and d[False]:
            n = len(d[True]) + len(d[False])
            num += n * statistics.median(d[True])
            den += n * statistics.median(d[False])
    return num / den - 1.0 if den else 0.0


def per_layer(res, spec, leaked):
    reps = res["setup_reps"]
    m = {}
    for metric in spec["per_layer"]:
        name = metric["name"]
        if name.startswith("setup."):
            key = name[len("setup."):]
            m[name] = statistics.median(r.get(key, 0.0) for r in reps)
        else:
            m[name] = res["layers"].get(name, 0.0)
    m["sources.margin_build_s"] = statistics.median(
        r.get("layout.objects_margin_s", 0.0) for r in reps)
    m["sources.files_written"] = float(res["files_written"])
    m["sources.mb_written"] = res["written_bytes"] / 1048576.0
    m["leak.paths"] = float(leaked)
    m["trace.overhead_frac"] = tracing_overhead(res)
    return m


def result_line(res, spec, workload, trace, leaked):
    """The benchmark's last stdout line: every declared metric of the
    run's mode (end-to-end, or per-layer when traced) with its unit."""
    if trace:
        values = per_layer(res, spec, leaked)
        log(res["self_time_table"].rstrip())
        log(f"tracing overhead {values['trace.overhead_frac']:+.1%} "
            f"(traced vs untraced ops of this run); span coverage "
            f"{values['trace.coverage']:.1%} of traced op wall time")
        declared = spec["per_layer"]
    else:
        values = end_to_end(res, workload)
        declared = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in declared}
    # every op and every output comparison is one attempted operation
    failed = len(res["failures"])
    return {"correct": failed == 0,
            "attempted": len(res["ops"]) + res.get("checks", 0),
            "failed": failed, "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        raise SystemExit(f"unknown workload {a.workload}; one of {names}")
    cp = build()
    run_dir = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    shm0 = _shm()
    try:
        res = run_harness(cp, a.workload, a.seed, a.seconds, a.trace, run_dir)
        leaked = res["graft_tmp_paths"] + len(_shm() - shm0)
        if a.trace:
            spans = res.get("spans")
            if spans and os.path.exists(spans):
                keep = os.path.join(BUILD, "traces",
                                    f"{a.workload}-seed{a.seed}.jsonl")
                os.makedirs(os.path.dirname(keep), exist_ok=True)
                shutil.copy(spans, keep)
                log(f"[perfbench] spans written to {keep}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"[perfbench] leaked paths: {leaked}")
    log("[perfbench] set-up reps: " + ", ".join(
        f"{r['total_s']:.1f}s" for r in res["setup_reps"]))
    log("[perfbench] phases: " + ", ".join(
        f"{k} {v:.1f}" for k, v in res["phases"].items()))
    for f in res["failures"]:
        log(f"[perfbench] FAILED {f['what']}: {f['class']}: {f['message']}")
    print(json.dumps(result_line(res, spec, a.workload, a.trace, leaked)))
    return 0


if __name__ == "__main__":
    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception as e:  # noqa: BLE001 -- reported, exit non-zero
        log(f"[perfbench] error: {type(e).__name__}: {e}")
        sys.exit(2)

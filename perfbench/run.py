#!/usr/bin/env python3
"""graft's benchmark: one named workload, one JVM, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The run

  1. builds the library and the runner with the benchmark's own sbt build
     (`perfbench/build.sbt`, which depends on the root build) unless the
     sources are unchanged since the last build;
  2. checks the workload's fixture, parquet files kept under
     `perfbench/data/`, against the SHA-256 sums in `fixtures.json`;
  3. runs `perfbench.Runner` on the workload's gates: session, fixture
     registration and a cold pass (`setup_s`), a warm-up pass, timed
     passes, then an untimed pass that writes every gate's result;
  4. compares those results with each gate's DuckDB oracle
     (`SparkEntry.oracleSql`), outside the timed region.

With `--trace 0` it reports the end-to-end metrics, with `--trace 1` the
per-layer metrics and the tracing overhead, and writes the run's spans to
`.perfbench/spans/<workload>.jsonl`.  The last line of standard output is
one JSON object; the exit code is non-zero when any gate threw or
mismatched its oracle.  Everything the run writes stays under `.perfbench/`
and sbt's `target/` directories in the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import statistics
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
RUN_TIMEOUT_S = 150  # the runner's limit, after any build

sys.path.insert(0, str(HERE))
import oracle  # noqa: E402
import layers  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


# ---------------------------------------------------------------- build

# (path, pattern): every file the two sbt builds read
BUILD_INPUTS = [("build.sbt", ""), ("project", "*.*"), ("src/main", "**/*"),
                ("tools/scala", "**/*"), ("perfbench/build.sbt", ""),
                ("perfbench/project", "*.*"), ("perfbench/scala", "**/*")]


def source_hash():
    h = hashlib.sha256()
    for rel, pattern in BUILD_INPUTS:
        p = ROOT / rel
        files = [p] if not pattern else sorted(
            f for f in p.glob(pattern) if f.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Returns the runner's classpath, compiling only when sources changed."""
    for rel in ("build.sbt", "src/main/scala"):
        if not (ROOT / rel).exists():
            fail(f"program source {rel} not found under {ROOT}")
    stamp = WORK / "build.json"
    digest = source_hash()
    if stamp.exists():
        saved = json.loads(stamp.read_text())
        if saved.get("hash") == digest:
            return saved["classpath"]
    log("building (sbt compile) ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    WORK.mkdir(exist_ok=True)
    stamp.write_text(json.dumps({"hash": digest, "classpath": lines[-1]}))
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1]


# ---------------------------------------------------------------- fixtures

def fixture(name):
    """The fixture's directory, after checking every file's SHA-256."""
    d = HERE / "data" / name
    for f, want in json.loads((HERE / "fixtures.json").read_text())[name].items():
        p = d / f
        got = hashlib.sha256(p.read_bytes()).hexdigest() if p.is_file() else None
        if got != want:
            fail(f"fixture file {p} has SHA-256 {got}, fixtures.json says {want}")
    return d


# ---------------------------------------------------------------- workload


def java_cmd(classpath, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-Xmx4g", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  "-cp", classpath, "perfbench.Runner"] + args


def timed_passes(workload, seconds):
    """Passes that take about `seconds` at the workload's reference pass
    time, and at least three, so that medians can leave one out."""
    return max(3, round(seconds / workload["pass_s"]))


def run_jvm(classpath, fixture_dir, workload, args, run_dir, deadline):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    jargs = ["--fixture", str(fixture_dir), "--gates", ",".join(workload["gates"]),
             "--seed", str(args.seed),
             "--passes", str(timed_passes(workload, args.seconds)),
             "--trace", str(args.trace), "--cores", str(os.cpu_count() or 1),
             "--out", str(run_dir / "out")]
    if args.inject:
        jargs += ["--inject", args.inject]
    cmd = java_cmd(classpath, jargs)
    cmd.insert(1, f"-Djava.io.tmpdir={tmp}")
    cmd.insert(1, f"-Dspark.local.dir={tmp}")
    log_path = run_dir / "jvm.log"
    with open(log_path, "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog,
                                stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        sys.stderr.write(log_path.read_text()[-4000:])
        fail(f"runner exited with {proc.returncode}")
    return json.loads((run_dir / "out" / "result.json").read_text())


# ---------------------------------------------------------------- metrics

def percentile(values, q):
    """Percentile, interpolated between the two nearest ranks.  Each gate's
    latency fills a run of equal ranks, so a percentile that falls between
    two gates takes from both instead of jumping between them."""
    s = sorted(values)
    lo, frac = divmod(q * (len(s) - 1), 1)
    a, b = s[int(lo)], s[min(int(lo) + 1, len(s) - 1)]
    return a if frac == 0 or a == b else a + (b - a) * frac  # a == b: inf stays inf


def end_to_end(res, failed_gates):
    """Each gate runs once per timed pass.  Throughput and CPU are medians
    over the passes, and each gate's latency is its median over the passes,
    so a burst of interference from outside the program that slows one pass
    does not move them.  A failed execution counts as infinitely slow."""
    timed = res["timed"]
    ok = [q["ok"] and q["gate"] not in failed_gates for q in timed]
    by_gate, ok_by_pass, n_by_pass = defaultdict(list), defaultdict(int), defaultdict(int)
    for q, good in zip(timed, ok):
        by_gate[q["gate"]].append(q["wall_s"] if good else math.inf)
        ok_by_pass[q["pass"]] += good
        n_by_pass[q["pass"]] += 1
    lat = [statistics.median(by_gate[q["gate"]]) for q in timed]
    passes = res["timed_passes"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "queries_per_s": (statistics.median(
            ok_by_pass[p["pass"]] / p["wall_s"] for p in passes), "1/s"),
        "latency_p50_s": (percentile(lat, 0.5), "s"),
        "latency_p90_s": (percentile(lat, 0.9), "s"),
        "cpu_s_per_query": (statistics.median(
            p["cpu_s"] / n_by_pass[p["pass"]] for p in passes), "s"),
        "heap_retained_mb": (res["heap_mb"], "MB"),
    }, len(timed), len(timed) - sum(ok)


def main():
    # SIGTERM unwinds like SIGINT, so the runner JVM is stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default="",
                    help="fault injection for the benchmark's own tests: "
                         "comma-separated throw:GATE or wrong:GATE (no rows "
                         "after the cold pass)")
    args = ap.parse_args()

    spec = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}; "
             f"known: {', '.join(spec['workloads'])}")
    workload = spec["workloads"][args.workload]
    classpath = build()
    fixture_dir = fixture(workload["fixture"])
    gates = workload["gates"]

    run_dir = WORK / "runs" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        res = run_jvm(classpath, fixture_dir, workload, args, run_dir,
                      time.time() + RUN_TIMEOUT_S)
        failures, result_rows = oracle.check(
            fixture_dir, run_dir / "out" / "check", gates, res["oracle"],
            res["cold"] + res["check"])
        spans = (run_dir / "out" / "spans.jsonl").read_text() if args.trace else ""
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, attempted, failed = end_to_end(res, set(failures))
    print(f"workload {args.workload}: {len(gates)} gates, seed {args.seed}, "
          f"fixture {workload['fixture']}, {len(res['timed_passes'])} timed passes "
          f"in {res['wall_s']:.2f} s, "
          f"{attempted} timed queries")
    print(f"  setup: session {res['session_s']:.2f} s, register {res['register_s']:.2f} s, "
          f"cold pass {sum(q['wall_s'] for q in res['cold']):.2f} s")
    for gate, why in sorted(failures.items()):
        print(f"FAIL {gate}: {why}")
    print(f"  failed_frac = {failed / attempted:.4f} ({failed}/{attempted})")
    if args.trace:
        out = WORK / "spans" / f"{args.workload}.jsonl"
        metrics = layers.per_layer(res, spans, out, result_rows)
        print(f"  spans: {out}")
    else:
        metrics = e2e
    for name, (v, unit) in metrics.items():
        print(f"  {name} = {v:.6g} {unit}")
    ok = failed == 0 and not failures
    print(json.dumps({
        "correct": ok, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

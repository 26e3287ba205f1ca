#!/usr/bin/env python3
"""graft's end-to-end benchmark: the `curate`, `etl` and `stream` workloads.

Run from the root of a checkout:

    python3 graftbench/run.py --workload curate --seed 1 --seconds 3 --trace 0

The first run compiles the library (`src/main`) together with the benchmark
(`graftbench/src`) into `.bench_build/` with the Scala compiler that ships in
`$SPARK_HOME/jars`; later runs reuse the classes while no source changed.
Each run is one fresh JVM on `local[k]` (k = min(4, nproc)): it generates the
workload's inputs from the seed on one thread, runs them through graft's
public API for `--seconds`, checks every output against the generator's
planted truth, and prints one JSON result as the last line of stdout.
`--trace 0` reports the end-to-end metrics; `--trace 1` the per-layer ones
and writes the run's spans to `.bench_build/trace/` (see trace_summary.py).

Other modes:
    --repeat N     run the workload N times (seeds seed..seed+N-1) and print
                   each metric's median, quartiles and spread, flagging any
                   spread above its bound in BENCHMARK.json (or above 0.1)
    --self-test    feed every output check a corrupted output; each must fail
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "graftbench"
BUILD = ROOT / ".bench_build" / "graftbench"
CLASSES = BUILD / "classes"
WORKLOADS = ("curate", "etl", "stream")
RUN_TIMEOUT_S = 170
HEAP = "3g"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("graftbench: SPARK_HOME with a jars/ directory is required")
    return str(Path(home) / "jars") + "/*"


def sources():
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        sys.exit("graftbench: library sources src/main/scala not found "
                 "(run from the root of a graft checkout)")
    files = sorted(lib.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return files, resources, res


def build():
    """Compile library + benchmark once per source tree (hash-stamped)."""
    files, resources, res = sources()
    h = hashlib.sha256()
    for p in files + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    stamp_file = BUILD / "stamp"
    if CLASSES.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return stamp
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    (BUILD / "tmp").mkdir(exist_ok=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD / 'tmp'}",
           "-Xss8m", "-Xmx2g", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(tmp), "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit("graftbench: compilation failed")
    for p in res:
        dst = tmp / p.relative_to(resources)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp_file.write_text(stamp)
    print(f"[graftbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return stamp


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except OSError:
        return "none"


def java_cmd(args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    # no perf-data file in the system temp dir: a run writes only inside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
    for o in opens:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    return cmd + ["-cp", str(CLASSES) + os.pathsep + spark_jars(),
                  "graft.bench.Main"] + args


def run_once(workload, seed, seconds, trace, source):
    """One benchmark run in a fresh JVM; returns (exit code, result dict|None)."""
    run_dir = ROOT / ".bench_build" / "runs" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    log_dir = ROOT / ".bench_build" / "logs"
    log_dir.mkdir(parents=True, exist_ok=True)
    trace_dir = ROOT / ".bench_build" / "trace"
    trace_dir.mkdir(parents=True, exist_ok=True)
    cmd = java_cmd(["--workload", workload, "--seed", str(seed),
                    "--seconds", str(seconds), "--trace", str(trace),
                    "--run-dir", str(run_dir),
                    "--trace-out", str(trace_dir / f"{workload}-seed{seed}.json"),
                    "--heap", HEAP, "--commit", commit(), "--source", source])
    cmd.insert(1, f"-Djava.io.tmpdir={run_dir / 'tmp'}")
    log_path = log_dir / f"{workload}-seed{seed}-trace{trace}.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=str(run_dir), start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out = ""
            print(f"[graftbench] run exceeded {RUN_TIMEOUT_S} s; killed", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if proc.returncode != 0 or result is None:
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
    return proc.returncode, result


def bounds():
    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        return {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    except (OSError, ValueError, KeyError):
        return {}


def steadiness(workload, seed, seconds, trace, n, source):
    values = {}
    units = {}
    for i in range(n):
        code, res = run_once(workload, seed + i, seconds, trace, source)
        if code != 0 or res is None:
            sys.exit(f"graftbench: run with seed {seed + i} failed")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    limit = bounds()
    print(f"{'metric':40} {'unit':6} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}  flag")
    summary = {}
    for name, vs in sorted(values.items()):
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med if med else float("inf")
        bound = limit.get(name) if trace == 0 else None
        flag = ""
        if bound is not None and spread > bound:
            flag = f"SPREAD > bound {bound}"
        elif spread > 0.1:
            flag = "spread > 0.1"
        print(f"{name:40} {units[name]:6} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f}  {flag}")
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "values": vs}
    print(json.dumps({"workload": workload, "runs": n, "metrics": summary}))


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    source = build()
    if a.self_test:
        sys.exit(subprocess.run(java_cmd(["--self-test"])).returncode)
    if not a.workload:
        ap.error("--workload is required")
    if a.repeat:
        steadiness(a.workload, a.seed, a.seconds, a.trace, a.repeat, source)
        return
    code, result = run_once(a.workload, a.seed, a.seconds, a.trace, source)
    if result is None:
        sys.exit(code or 1)
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()

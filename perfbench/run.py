#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Builds graft and the harness if needed (perfbench/build.py), runs one
workload in a single JVM on local[nproc], and prints the result as the
last line of standard output: one JSON object with `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.
`--smoke` runs every workload at sf0.001 size for a few ops, traced and
untraced, and checks the printed metric names against BENCHMARK.json;
it is the benchmark's own test.

Everything the run writes stays under the build directory
($CARGO_TARGET_DIR, default .bench_build) of the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("dashboard", "ingest", "curate")
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_workload(cp: str, workload: str, seed: int, seconds: float, trace: int,
                 scale: str = "full", echo: bool = True):
    """Run one workload in a fresh JVM; return (report lines, result dict)."""
    work = build.out_dir() / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = work.parent / f"{workload}-{os.getpid()}.log"
    # a fixed, pre-touched heap (as a deployed JVM runs) keeps GC work
    # from following how far a growing heap has been sized; the heap the
    # program retains is the traced run's jvm.peak_heap_after_gc_mb
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", "-Xss4m",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--scale", scale,
            "--work", str(work)]
    lines = []
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                cwd=str(work))

        def stop(signum, _frame):
            # never leave the JVM behind when this process is stopped
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
        timer.start()
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                lines.append(line)
                if echo and not line.startswith("{"):
                    print(line, flush=True)
            code = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    result = None
    if code == 0 and lines and lines[-1].startswith("{"):
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if result is None:
        tail = log.read_text(errors="replace").splitlines()[-40:]
        print(f"run: {workload} failed (exit {code}); last log lines:", file=sys.stderr)
        print("\n".join(tail), file=sys.stderr)
    else:
        log.unlink(missing_ok=True)
    return lines, result


def smoke(cp: str) -> int:
    """Every workload at sf0.001, untraced and traced, checks on."""
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    bad = 0
    for w in WORKLOADS:
        for trace, names in ((0, e2e), (1, layer)):
            _, r = run_workload(cp, w, 7, 2, trace, scale="smoke", echo=False)
            ok = (r is not None and r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
                  and sorted(r["metrics"]) == sorted(names))
            print(f"smoke {w} trace={trace}: {'ok' if ok else 'FAILED'}"
                  + ("" if r is None else f" attempted={r['attempted']} failed={r['failed']}"))
            bad += not ok
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    try:
        cp = build.build()
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 1
    if a.smoke:
        return smoke(cp)
    if a.workload is None:
        ap.error("--workload is required")
    _, result = run_workload(cp, a.workload, a.seed, a.seconds, a.trace)
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

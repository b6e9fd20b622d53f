#!/usr/bin/env python3
"""shahaspark benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload hashdb --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-check

Run from the root of a checkout. The program and the harness are compiled
on first use (perfbench/build.py). The inputs are generated from --seed.
Everything a run writes stays under .bench_build/ and .bench_work/. The
last line of stdout is the result object:
{"correct": .., "attempted": .., "failed": .., "metrics": {..}}.
Each run also leaves a record under .bench_work/records/. The record holds
nproc, loadavg, a source digest, the input properties and the sample
counts. A traced run (--trace 1) also writes its spans under
.bench_work/traces/.

--self-check runs hashdb with one lookup made to fail on purpose. It checks
that the failure is counted and that no timing includes it.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("hashdb", "curate", "analytics")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_id(root):
    """The commit when the checkout is a git clone, else a tree digest."""
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode == 0 and sha.stdout.strip():
            return "git:" + sha.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for top in ("src/main", "perfbench"):
        for f in sorted((root / top).rglob("*")):
            if f.is_file():
                h.update(str(f.relative_to(root)).encode())
                h.update(f.read_bytes())
    return "tree:" + h.hexdigest()[:16]


def java_cmd(root, classpath, opts, work, args):
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    return ["java", *opts, "-Xmx3g", "-XX:-UsePerfData",
            *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={root / 'perfbench' / 'log4j2.properties'}",
            f"-Dperfbench.source={source_id(root)}",
            "-cp", ":".join(classpath), "perfbench.Main", "--work", str(work), *args]


def launch(cmd, work):
    """Run one JVM in its own process group; return (exit code, stdout)."""
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        out = ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def run_once(root, workload, seed, seconds, trace, inject=False):
    """Run one workload in a fresh JVM; return (exit code, result dict or None, record path)."""
    state = root / ".bench_work"

    def train(classpath, opts):
        work = state / f"train-{os.getpid()}"
        code, _ = launch(java_cmd(root, classpath, opts, work, ["--workload", "train"]), work)
        return code == 0

    classpath, opts = build.build(root, train)
    work = state / f"run-{os.getpid()}-{time.time_ns()}"
    records = state / "records"
    traces = state / "traces"
    for d in (records, traces):
        d.mkdir(parents=True, exist_ok=True)
    tag = f"{workload}-seed{seed}-trace{int(trace)}"
    record = records / f"{tag}.json"
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--record", str(record),
            "--spans", str(traces / f"{tag}.jsonl")]
    if inject:
        args += ["--inject-failure", "1"]
    code, out = launch(java_cmd(root, classpath, opts, work, args), work)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        print("perfbench: the run printed no result", file=sys.stderr)
        return code or 1, None, record
    if record.is_file():
        for name, m in json.loads(record.read_text()).get("detail", {}).items():
            print(f"perfbench: {workload} {name} = {m['value']} {m['unit']}", file=sys.stderr)
    return code, result, record


def self_check(root):
    """One deliberately failing lookup must be counted and never timed."""
    code, result, record = run_once(root, "hashdb", 1, 2, False, inject=True)
    if code != 0 or result is None:
        print("self-check: the run did not complete", file=sys.stderr)
        return 1
    rec = json.loads(record.read_text())
    lookups = len(rec["iteration_s"]) * rec["inputs"]["lookups_per_cycle"]
    timed = sum(v for k, v in rec["samples"].items() if k.startswith("lookup."))
    ok_ratio = result["metrics"]["ok_ratio"]["value"]
    want_ratio = 1.0 - 1.0 / result["attempted"]
    checks = {
        "failed == 1": result["failed"] == 1,
        "correct is false": result["correct"] is False,
        f"ok_ratio {ok_ratio} == 1 - 1/attempted": abs(ok_ratio - want_ratio) < 1e-12,
        f"timed lookups {timed} == measured lookups {lookups} - 1": timed == lookups - 1,
    }
    for name, passed in checks.items():
        print(f"self-check: {'ok  ' if passed else 'FAIL'} {name}")
    return 0 if all(checks.values()) else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    root = Path.cwd().resolve()
    if not (root / "src" / "main" / "scala").is_dir():
        print("perfbench: run from the root of a shahaspark checkout "
              "(src/main/scala not found)", file=sys.stderr)
        return 2
    if args.self_check:
        return self_check(root)
    if args.workload is None:
        ap.error("--workload is required")
    code, result, _ = run_once(root, args.workload, args.seed, args.seconds, bool(args.trace))
    if result is None:
        return code or 1
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())

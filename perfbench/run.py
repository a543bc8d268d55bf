#!/usr/bin/env python3
"""The repo benchmark: one workload per run, at local[nproc].

    python3 perfbench/run.py --workload suite_short --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke        # every workload briefly at sf0.001

Run from the repository root. The engine is compiled from this checkout's
sources (perfbench/build.py); the tables are the committed copies under
perfbench/data. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}; the line before it is the
full record (run configuration, every operation, every output hash), also
written to .bench_build/records/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = "3g"
RUN_TIMEOUT_S = 170
DATA = "perfbench/data/sf0.1"
SMOKE_DATA = "perfbench/data/sf0.001"


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def git_commit(root):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def run_once(root, workload, seed, seconds, trace, data):
    """Run one workload in a fresh JVM; return (exit code, stdout lines)."""
    cp, engine_digest = build.build(root)
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(root, ".bench_build", "records")
    tmp = os.path.join(root, ".bench_build", "tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", ":".join(cp), "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(cores), "--data", os.path.join(root, data),
           "--goldens", os.path.join(HERE, "goldens.json"), "--out", out,
           "--stamp.git_commit", git_commit(root), "--stamp.engine_digest", engine_digest,
           "--stamp.xmx", HEAP]
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s", 3)
    shutil.rmtree(tmp, ignore_errors=True)
    return proc.returncode, stdout.strip().splitlines()


def smoke(root):
    """Every workload briefly at sf0.001, untraced and traced: each metric
    BENCHMARK.json names must be emitted with its unit, outputs correct."""
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            rc, lines = run_once(root, w["name"], 1, 1, trace, SMOKE_DATA)
            res = json.loads(lines[-1]) if rc == 0 and lines else {}
            got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
            ok = rc == 0 and res.get("correct") is True and got == want[trace]
            print(f"smoke {w['name']} trace={trace}: {'ok' if ok else 'FAILED'}")
            if not ok:
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                units = sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])
                bad.append(f"{w['name']} trace={trace}: rc={rc} correct={res.get('correct')} "
                           f"missing={missing} extra={extra} wrong_units={units}")
    for b in bad:
        sys.stderr.write(f"perfbench smoke: {b}\n")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DATA, help="table directory, relative to the root")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala not found")
    if a.smoke:
        sys.exit(smoke(root))
    if not a.workload:
        fail("--workload is required")
    if not os.path.isdir(os.path.join(root, a.data)):
        fail(f"table directory {a.data} not found")
    rc, lines = run_once(root, a.workload, a.seed, a.seconds, a.trace, a.data)
    print("\n".join(lines))
    sys.exit(rc)


if __name__ == "__main__":
    main()

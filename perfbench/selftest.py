#!/usr/bin/env python3
"""The benchmark's own test, at sf0.001 (about three minutes):

  1. suite_short and suite_long, each with two seeds (two query orders),
     must produce identical per-query output hashes: order must not change
     results;
  2. an untraced run must record no span and no per-layer metric;
  3. a traced run's operations plus its unattributed remainder must account
     for its pass wall time, and every span must lie inside its parent.
     The remainder is printed.

    python3 perfbench/selftest.py      # from the repository root
"""
import json
import os
import subprocess
import sys

DATA = "perfbench/data/sf0.001"
RECORDS = os.path.join(".bench_build", "records")


def run(workload, seed, trace):
    tag = f"{workload}-seed{seed}-trace{trace}"
    spans = os.path.join(RECORDS, tag + ".spans.json")
    if os.path.exists(spans):
        os.remove(spans)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
                        "--data", DATA], capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"] or res["failed"]:
        sys.exit(f"{tag}: outputs did not check out: {res}")
    with open(os.path.join(RECORDS, tag + ".json")) as f:
        return json.load(f), spans


def check(cond, msg):
    print(("ok    " if cond else "FAIL  ") + msg)
    return cond


def main():
    ok = True
    for w in ("suite_short", "suite_long"):
        a, spans_a = run(w, 1, 0)
        b, _ = run(w, 2, 0)
        order_a = [o["name"] for o in a["ops"]]
        order_b = [o["name"] for o in b["ops"]]
        ok &= check(a["op_outputs"] == b["op_outputs"],
                    f"{w}: seeds 1 and 2 give identical output hashes "
                    f"(orders {'differ' if order_a != order_b else 'coincide'})")
        ok &= check(not os.path.exists(spans_a) and not a["per_layer"],
                    f"{w}: the untraced run recorded no span and no per-layer metric")

    rec, spans_path = run("suite_short", 3, 1)
    with open(spans_path) as f:
        spans = json.load(f)
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] == -1]
    wall = sum(rec["traced_pass_walls_s"])
    in_ops = sum(s["end_ns"] - s["start_ns"] for s in roots) / 1e9
    remainder = wall - in_ops
    print(f"      traced passes {wall:.3f} s = operations {in_ops:.3f} s "
          f"+ unattributed {remainder:.3f} s ({100 * remainder / wall:.2f} %)")
    ok &= check(len(roots) == len([o for o in rec["ops"] if o["pass"] in rec["traced_passes"]]),
                "every traced operation has one root span")
    ok &= check(0 <= remainder <= 0.1 * wall,
                "operations account for the traced wall time to within 10 %")
    per_pass = remainder / len(rec["traced_passes"])
    ok &= check(abs(rec["per_layer"]["trace.unattributed_s"] - per_pass) < 1e-6,
                "trace.unattributed_s reports that remainder, per traced pass")
    nested = all(by_id[s["parent"]]["start_ns"] <= s["start_ns"] <= s["end_ns"]
                 <= by_id[s["parent"]]["end_ns"] and by_id[s["parent"]]["op"] == s["op"]
                 for s in spans if s["parent"] != -1)
    ok &= check(nested, "every span lies inside its parent and shares its operation id")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Self-test for graft-bench at scale 0.01 (60,000 lineitem rows).

    python3 perfbench/selftest.py

Checks that
- every workload passes its correctness gate and prints every end-to-end
  metric (untraced) and every per-layer metric (traced) with its unit;
- the gate rejects a deliberately wrong expected result (one query of
  the oracle gate, one read of the dialect model): the run prints WRONG,
  reports "correct": false and exits non-zero;
Takes a few minutes: each case is one benchmark JVM.
"""
import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

# at 0.001 the 20 clustered embeddings fill too few IVF cells for v6's
# probe to return its 10 neighbours per query
SCALE = "0.01"


def bench(workload, trace, corrupt=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", SCALE]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: no output (exit {p.returncode})")
    return p.returncode, lines, json.loads(lines[-1])


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    return cond


def main():
    ok = True
    for workload in ("tpch", "pipeline", "dialect_dml"):
        for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            rc, lines, res = bench(workload, trace)
            ok &= check(rc == 0 and res["correct"], f"{workload} trace={trace} passes its gate")
            ok &= check(set(res["metrics"]) == {n for n, _ in names} and all(
                res["metrics"][n]["unit"] == u and f"{n} " in "\n".join(lines) for n, u in names),
                f"{workload} trace={trace} prints every metric with its unit")
            if trace == 0:
                ok &= check(any(ln.startswith("error_rate ") for ln in lines),
                            f"{workload} prints error_rate")
    for workload, corrupt in (("pipeline", "w1_ranking"), ("dialect_dml", "1")):
        rc, lines, res = bench(workload, 0, corrupt)
        ok &= check(rc != 0 and not res["correct"] and any(ln.startswith("WRONG") for ln in lines),
                    f"{workload} gate rejects a wrong expected result")
    print("self-test passed" if ok else "self-test FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

"""Self-test of the benchmark's own checks and trace.

    python3 perfbench/selftest.py [--workload NAME ...]

For each workload:

- ``--inject corrupt-partial`` (every partial state the kernels hand on is
  damaged) and ``--inject wrong-oracle`` (the set-up oracle is perturbed)
  must each fail every job: ``failed == attempted`` and ``correct`` false;
- an untraced run must print every end-to-end metric of BENCHMARK.json,
  and a traced run every per-layer metric, both with ``correct`` true.

Exits 1 if any expectation fails. Takes a few minutes: each case is a
separate run with its own Spark session.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", nargs="+", choices=names, default=names)
    args = ap.parse_args(argv)

    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for wl in args.workload:
        for inject in ("corrupt-partial", "wrong-oracle"):
            out = run(wl, "--seconds", "1", "--trace", "0", "--inject", inject)
            expect(out["attempted"] >= 1 and out["failed"] == out["attempted"]
                   and not out["correct"],
                   f"{wl} --inject {inject}: failed_share "
                   f"{out['failed']}/{out['attempted']} == 1")
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(wl, "--seconds", "2", "--trace", str(trace))
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            expect(out["correct"] and out["failed"] == 0, f"{wl} --trace {trace}: correct")
            expect(got == want, f"{wl} --trace {trace}: emits every {key} metric "
                                f"(missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))})")
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

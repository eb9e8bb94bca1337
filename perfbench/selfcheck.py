"""Self-check of the benchmark at tiny scale.

    python3 perfbench/selfcheck.py [workload ...]

For every workload, at a tiny fixture size:

- an untraced and a traced run emit exactly the metric names that
  BENCHMARK.json declares (end_to_end and per_layer);
- two traced runs with the same seed report identical exact counts
  (plan exchanges, scan rows read, writer bytes);
- a run whose expectation is deliberately corrupted reports
  ``correct: false`` and exits non-zero, so the checker is not vacuous.

Prints one line per check and exits non-zero if any check fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: tiny sizes; point-ops gets two passes so cas runs at chain depths 0 and 1
TINY = {
    "point-ops": ["--seconds", "40", "--rows", "200"],
    "bulk": ["--seconds", "1", "--rows", "400", "--docs", "60"],
}
EXACT = ("plan.exchanges.", "plan.shuffle_exchanges.", "plan.exchanges_at_depth.",
         "scan.cells_read", "writer.bytes_written", "writer.files_written")


def bench(workload: str, trace: int, *extra: str) -> tuple[int, dict]:
    argv = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", "7", "--trace", str(trace), *TINY[workload], *extra]
    p = subprocess.run(argv, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}


def corrupted_run(workload: str) -> int:
    """Run the workload in this process with one expectation corrupted:
    every model row and every oracle checksum is off by one cell."""
    sys.path[:0] = [ROOT, HERE]
    import data
    import run

    cells = data.VisibleModel.cells
    data.VisibleModel.cells = lambda self, row: {**cells(self, row), b"corrupt": b"x"}
    checksum = data.Oracle.checksum
    data.Oracle.checksum = lambda self, where="TRUE": (lambda n, b, t: (n + 1, b, t))(
        *checksum(self, where)
    )
    return run.main(["--workload", workload, "--seed", "7", "--trace", "0", *TINY[workload]])


def main() -> int:
    if sys.argv[1:2] == ["--corrupted-run"]:
        return corrupted_run(sys.argv[2])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {
        0: {m["name"] for m in spec["end_to_end"]},
        1: {m["name"] for m in spec["per_layer"]},
    }
    failures = 0

    def report(ok: bool, what: str) -> None:
        nonlocal failures
        failures += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)

    for w in sys.argv[1:] or [x["name"] for x in spec["workloads"]]:
        code, out = bench(w, 0)
        got = set(out.get("metrics", {}))
        report(code == 0 and out.get("correct") is True, f"{w}: untraced run correct")
        report(got == names[0], f"{w}: end-to-end metrics emitted {sorted(names[0] ^ got) or ''}")
        runs = [bench(w, 1) for _ in range(2)]
        for code, out in runs:
            got = set(out.get("metrics", {}))
            report(code == 0 and got == names[1],
                   f"{w}: per-layer metrics emitted {sorted(names[1] ^ got) or ''}")
        a, b = (r[1].get("metrics", {}) for r in runs)
        exact = sorted(k for k in names[1] if k.startswith(EXACT))
        diff = [k for k in exact if a.get(k, {}).get("value") != b.get(k, {}).get("value")]
        report(not diff, f"{w}: exact counts repeat {diff or ''}")
        p = subprocess.run([sys.executable, __file__, "--corrupted-run", w], cwd=ROOT,
                           capture_output=True, text=True, timeout=600)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        caught = p.returncode != 0 and json.loads(last).get("correct") is False
        report(caught, f"{w}: corrupted expectation caught")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

"""Self-test of the benchmark at sf0.001 with one round per run.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: those of BENCHMARK.json; cli_cold runs only
when named) it runs the benchmark untraced and traced and checks that
every end-to-end metric of the summary and every metric of BENCHMARK.json
is printed with its unit, and that every operation checked correct.  A third run tampers with the first operation's
result before it is checked and must report a failure (error_rate > 0).
Takes a few minutes; exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SUMMARY = {
    "cli_cold": ["read_p50_ms", "write_p50_ms"],
    "prql_warm": ["read_p50_ms", "write_p50_ms"],
    "curate_batch": ["docs_per_s"],
}
COMMON = ["setup_s", "latency_ms", "latency_p50_ms", "latency_tail_ms",
          "tail_percentile", "tail_samples_beyond", "throughput_ops_s",
          "error_rate", "peak_rss_mb", "host_steal_pct"]


def run(workload: str, trace: int, corrupt: bool = False) -> tuple[list[str], dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def printed(lines: list[str], name: str) -> bool:
    pat = re.compile(rf"^\s+{re.escape(name)}\s+-?[0-9.]+(e[-+]?\d+)? \S+$")
    return any(pat.match(ln) for ln in lines)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    for w in workloads:
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            lines, out = run(w, trace)
            want = [m["name"] for m in spec]
            names = COMMON + SUMMARY[w] + (want if trace else [])
            missing = [n for n in names if not printed(lines, n)]
            if missing:
                sys.exit(f"FAIL {w} trace={trace}: not printed with a unit: {missing}")
            got = out["metrics"]
            if sorted(got) != sorted(want):
                sys.exit(f"FAIL {w} trace={trace}: result metrics {sorted(got)} "
                         f"!= {sorted(want)}")
            for m in spec:
                if got[m["name"]]["unit"] != m["unit"]:
                    sys.exit(f"FAIL {w}: {m['name']} unit {got[m['name']]['unit']}")
            if not out["correct"] or out["failed"]:
                sys.exit(f"FAIL {w} trace={trace}: operations failed their checks")
            print(f"ok   {w} trace={trace}: {out['attempted']} operations correct, "
                  f"{len(got)} metrics")
        lines, out = run(w, 0, corrupt=True)
        rate = [ln for ln in lines if ln.split()[:1] == ["error_rate"]]
        if out["correct"] or out["failed"] < 1 or not rate or float(rate[0].split()[1]) <= 0:
            sys.exit(f"FAIL {w}: a corrupted result was not caught")
        print(f"ok   {w}: corrupted result caught ({out['failed']} of "
              f"{out['attempted']} failed)")
    return 0


if __name__ == "__main__":
    sys.exit(main())

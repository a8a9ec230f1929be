"""cli_cold: every operation is a fresh ``python pq.py`` process.

Run from run.py in the benchmark's environment.  Each process is started
in its own session; the benchmark samples the high-water RSS of the pq
process and its JVM while it runs, and waits until both have exited before
the next operation starts.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading

import queries
from harness import children, now, reap, rounds, vm_hwm_kb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")


def run_process(cmd, env, cwd, log, timeout: float) -> dict:
    """Run one pq process to completion; its wall, stdout, exit code and
    the summed VmHWM (MB) of the process and its direct children (the JVM)."""
    hwm: dict[int, int] = {}
    t0 = now()
    p = subprocess.Popen(cmd, env=dict(env, PERFBENCH_T0=repr(t0)), cwd=cwd,
                         stdout=subprocess.PIPE, stderr=log, text=True,
                         start_new_session=True)
    done = threading.Event()

    def sample():
        while not done.is_set():
            for pid in [p.pid] + children(p.pid):
                hwm[pid] = max(hwm.get(pid, 0), vm_hwm_kb(pid))
            done.wait(0.05)

    th = threading.Thread(target=sample, daemon=True)
    th.start()
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
    t1 = now()
    done.set()
    th.join()
    reap(p.pid, grace=30)  # the JVM outlives its Python parent for a moment
    return {"t0": t0, "t1": t1, "wall_ms": (t1 - t0) * 1000, "rc": p.returncode,
            "stdout": out, "rss_mb": sum(hwm.values()) / 1024}


def pq_op(args, env, run_dir, data, log, deadline, rng, i, name, write) -> dict:
    """One timed operation: a ``pq.py`` process (``cli_shim.py`` when traced)
    running pool query ``name`` with literals from ``rng``, printing the
    table or, when ``write``, writing a single csv/parquet file."""
    q = queries.BY_NAME[name]
    prql, duck = queries.instantiate(q, rng)
    rec = {"i": i, "name": str(name), "duck": duck, "kind": "write" if write else "read"}
    argv = [a for t in q.tables for a in ("-f", f"{t}={data}/{t}.parquet")]
    if write:
        rec["fmt"] = str(rng.choice(["csv", "parquet"]))
        rec["path"] = os.path.join(args.tmp, f"op{i}.{rec['fmt']}")
        argv += ["-t", rec["path"]]
    argv.append(prql)
    if args.trace:
        rec["trace_file"] = os.path.join(args.tmp, f"trace{i}.json")
        env = dict(env, PERFBENCH_OP=str(i), PERFBENCH_TRACE_OUT=rec["trace_file"])
    r = run_process([sys.executable, os.path.join(HERE, "cli_shim.py") if args.trace
                     else os.path.join(ROOT, "pq.py"), *argv],
                    env, run_dir, log, max(10.0, deadline - now()))
    rec.update(r)
    if r["rc"] != 0:
        rec["error"] = f"pq exited with {r['rc']}"
    return rec


def run(args, env, run_dir, data, log, deadline) -> dict:
    import numpy as np

    res = {"setups": [], "ops": [], "trace": bool(args.trace)}
    py = sys.executable
    pq = os.path.join(ROOT, "pq.py")
    shim = os.path.join(HERE, "cli_shim.py")
    src = [a for t in ("lineitem", "orders") for a in ("-f", f"{t}={data}/{t}.parquet")]
    # set-up: one untimed pq process (session start, source registration and
    # a small query) warms the OS caches of the jars, the code and the data,
    # so the first timed process does not pay that alone
    r = run_process([py, pq, *src, "from lineitem | take 5"], env, run_dir, log, 120)
    if r["rc"] != 0:
        raise RuntimeError(f"the set-up pq process exited with {r['rc']}")
    res["setups"].append({"wall_s": r["wall_ms"] / 1000})
    rng = np.random.default_rng(args.seed)
    names = [q.name for q in queries.POOL]
    t_start = now()
    for _ in range(rounds("cli_cold", args.seconds)):
        # one round: a table read to stdout, then a single-file write with
        # probability 2/3 (else a second read): one write in three overall
        picks = rng.choice(names, 2, replace=False)
        w = 1 if rng.random() < 2 / 3 else -1
        for j, name in enumerate(picks):
            res["ops"].append(pq_op(args, env, run_dir, data, log, deadline, rng,
                                    len(res["ops"]), name, j == w))
    res["loop_wall_s"] = now() - t_start
    res["peak_rss_mb"] = max(r["rss_mb"] for r in res["ops"])
    if args.trace:
        r = run_process([py, shim, "--floors"], env, run_dir, log, 120)
        import json

        res["floors"] = json.loads(r["stdout"].strip().splitlines()[-1])
    return res

"""The repository benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload {cli_cold,prql_warm,curate_batch}
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Builds the input tables on first use (cached
under perfbench/.cache/), runs the workload in a hermetic environment,
checks every operation's output, prints a readable summary and, as the last
line of stdout, ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import cpu_times, now, p50, reap, self_times, steal_pct, tail  # noqa: E402

WORKLOADS = {"cli_cold": 0.01, "prql_warm": 0.1, "curate_batch": 0.1}
LIMIT_S = 170  # a run ends within 180 s
CURATE_LAYERS = {"minhash_dedup_cc": "operators", "embedding_neardup": "operators",
                 "token_count": "operators", "curate_corpus": "pipelines"}
# the end-to-end metrics of the result line (BENCHMARK.json "end_to_end");
# the summary also prints the median and tail of all operations, the
# read/write split, docs_per_s, error_rate and peak_rss_mb (see README.md
# for why they are not gated)
END_TO_END = {"setup_s": "s", "latency_ms": "ms", "throughput_ops_s": "1/s"}


def fail(msg: str, code: int = 1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def environment(run_dir: str, trace: bool) -> dict:
    """The hermetic environment every process of the run gets."""
    for d in ("local", "tmp", "conf", "events"):
        os.makedirs(os.path.join(run_dir, d))
    conf = ["spark.ui.showConsoleProgress false"]
    if trace:
        conf += ["spark.eventLog.enabled true", "spark.eventLog.compress false",
                 f"spark.eventLog.dir file://{run_dir}/events"]
    with open(os.path.join(run_dir, "conf", "spark-defaults.conf"), "w") as f:
        f.write("\n".join(conf) + "\n")
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("PQ_", "SPARK_", "PYSPARK_"))}
    tmp = os.path.join(run_dir, "tmp")
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_CONF_DIR": os.path.join(run_dir, "conf"),
        "TMPDIR": tmp,
        # the JVM's perf-data file goes to /tmp whatever java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
    })
    return env


def run_worker(args, env, run_dir, data, log, deadline) -> dict:
    out = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--tmp", args.tmp, "--out", out] + (
               ["--corrupt"] if args.corrupt else [])
    p = subprocess.Popen(cmd, env=dict(env, PERFBENCH_T0=repr(now())), cwd=run_dir,
                         stdout=log, stderr=log, start_new_session=True)
    try:
        rc = p.wait(timeout=max(1.0, deadline - now()))
    except subprocess.TimeoutExpired:
        rc = None
    reap(p.pid)
    if rc is None:
        p.wait()
        raise RuntimeError("the workload did not finish in time")
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"the workload process exited with {rc}")
    with open(out) as f:
        return json.load(f)


# ---- metrics


def kind_latency(ops: list[dict]) -> float:
    """The mean over the run's kinds of operation (pool query, curate call)
    of each kind's median wall (ms).  Every kind weighs the same in every
    run, so unlike the median of all operations it does not jump between
    kinds when the seed or the host moves a few of them."""
    names = sorted({o["name"] for o in ops})
    return sum(p50([o["wall_ms"] for o in ops if o["name"] == n])
               for n in names) / len(names)


def end_to_end(res: dict) -> tuple[dict, dict]:
    """(the end-to-end metrics of the result line, every end-to-end figure
    for the summary)."""
    ops = res["ops"]
    lat = [o["wall_ms"] for o in ops]
    t, pct, beyond = tail(lat)
    wall = res["loop_wall_s"]
    m = {"setup_s": p50([s["wall_s"] for s in res["setups"]]),
         "latency_ms": kind_latency(ops), "throughput_ops_s": len(ops) / wall}
    extra = {"latency_p50_ms": p50(lat), "latency_tail_ms": t,
             "tail_percentile": pct, "tail_samples_beyond": beyond,
             "peak_rss_mb": res["peak_rss_mb"],
             "error_rate": sum(1 for o in ops if not o["ok"]) / len(ops),
             "ops": len(ops), "run_wall_s": wall,
             "host_steal_pct": res.get("steal_pct", 0.0)}
    if res.get("workload") == "curate_batch":
        extra["docs_per_s"] = sum(o.get("docs", 0) for o in ops) / wall
    else:
        for kind in ("read", "write"):
            xs = [o["wall_ms"] for o in ops if o["kind"] == kind]
            extra[f"{kind}_p50_ms"] = p50(xs)
    return m, extra


def per_layer(res: dict, events: dict) -> dict:
    """Per-operation means of each layer's self time and counts (0 for a
    layer the workload does not use), set-up layers as set-up medians."""
    ops = [o for o in res["ops"] if o.get("spans")]
    n = max(1, len(ops))
    m: dict[str, float] = {}

    def add(name, v):
        m[name] = m.get(name, 0.0) + v / n

    setup = [self_times(s["spans"])
             for s in res.get("layer_setups") or res["setups"]]
    for key, layer in (("session.get_spark_ms", "session.get_spark"),
                       ("session.tune_ms", "session.tune"),
                       ("sources.register_ms", "sources.register")):
        m[key] = p50([s.get(layer, 0.0) for s in setup])
    m["cli.import_ms"] = res.get("import_ms", 0.0)
    m["cli.teardown_ms"] = res.get("teardown_ms", 0.0)
    for key in ("sources.catalog_ms", "compiler.compile_ms", "compiler.sql_chars",
                "compiler.eager_agg_applied", "engine.construct_ms",
                "engine.construct_jobs", "engine.plan_ms", "engine.plan_exchanges",
                "engine.exec_ms", "engine.exec_jobs", "engine.exec_stages",
                "engine.exec_tasks", "engine.failed_tasks", "writers.sink_ms",
                "writers.sink_bytes", "trace.unattributed_ms"):
        m[key] = 0.0
    for name in CURATE_LAYERS:
        for k in ("construct_ms", "construct_jobs", "exec_ms"):
            m[f"{CURATE_LAYERS[name]}.{name}.{k}"] = 0.0
    for f in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "executor_cpu_ms", "gc_ms", "scheduler_delay_ms"):
        m[f"engine.{f}"] = 0.0
    accounted = []
    for o in ops:
        st = self_times(o["spans"])
        wall = o["wall_ms"]
        accounted.append(100.0 * (wall - st.get("op", 0.0)) / wall)
        add("trace.unattributed_ms", st.get("op", 0.0))
        add("sources.catalog_ms", st.get("sources.catalog", 0.0))
        add("compiler.compile_ms", st.get("compiler", 0.0))
        add("engine.construct_ms", st.get("engine.construct", 0.0))
        add("engine.plan_ms", st.get("engine.plan", 0.0))
        add("engine.exec_ms", st.get("engine.exec", 0.0))
        add("writers.sink_ms", st.get("writers.sink", 0.0))
        add("compiler.sql_chars", o.get("sql_chars", 0))
        add("compiler.eager_agg_applied", 1 if o.get("eager_agg") else 0)
        add("engine.plan_exchanges", o.get("exchanges", 0))
        jobs = o.get("jobs") or {}
        c, e = jobs.get("construct", {}), jobs.get("exec", {})
        if o["name"] in CURATE_LAYERS:
            pre = f"{CURATE_LAYERS[o['name']]}.{o['name']}"
            k = sum(1 for x in ops if x["name"] == o["name"])
            m[f"{pre}.construct_ms"] += st.get(pre, 0.0) / k
            m[f"{pre}.construct_jobs"] += c.get("jobs", 0) / k
            m[f"{pre}.exec_ms"] += st.get("engine.exec", 0.0) / k
        else:
            add("engine.construct_jobs", c.get("jobs", 0))
        add("engine.exec_jobs", e.get("jobs", 0))
        add("engine.exec_stages", e.get("stages", 0))
        add("engine.exec_tasks", e.get("tasks", 0))
        add("engine.failed_tasks", c.get("failed", 0) + e.get("failed", 0))
        for phase in ("construct", "exec"):
            for f, v in (events.get(f"{o['i']}:{phase}") or {}).items():
                if f"engine.{f}" in m:
                    add(f"engine.{f}", v)
    sinks = [o["sink_bytes"] for o in ops if "sink_bytes" in o]
    m["writers.sink_bytes"] = sum(sinks) / len(sinks) if sinks else 0.0
    m["trace.accounted_pct"] = p50(accounted)
    m["trace.latency_ms"] = kind_latency(res["ops"])
    for k, v in (res.get("floors") or {}).items():
        m[f"host.{k}"] = v
    m["host.steal_pct"] = res.get("steal_pct", 0.0)
    return m


UNITS = {"_ms": "ms", "_bytes": "bytes", "_pct": "%", "_chars": "chars"}


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def cli_spans(res: dict) -> None:
    """Fold the shim's trace files into the operation records: the root span
    is the process (spawn to exit)."""
    imports, teardowns = [], []
    for o in res["ops"]:
        path = o.get("trace_file")
        if not path or not os.path.exists(path):
            continue
        with open(path) as f:
            tr = json.load(f)
        o["spans"] = [["cli", o["t0"], o["t1"]]] + tr["spans"]
        o["jobs"], o["exchanges"] = tr.get("jobs"), tr.get("exchanges", 0)
        sql = tr.get("sql") or [""]
        o["sql_chars"] = len(sql[-1])
        o["eager_agg"] = len(sql) > 1 and sql[0] != sql[-1]
        starts = [s[1] for s in tr["spans"] if s[0] == "session.get_spark"]
        if starts:
            imports.append((min(starts) - o["t0"]) * 1000)
        if tr.get("writer_return"):
            teardowns.append((o["t1"] - tr["writer_return"]) * 1000)
        res.setdefault("layer_setups", []).append({"spans": [
            s for s in tr["spans"]
            if s[0] in ("session.get_spark", "session.tune", "sources.register")]})
    res["import_ms"], res["teardown_ms"] = p50(imports), p50(teardowns)


def cli_op(args, env, run_dir, data, log, deadline, res: dict) -> None:
    """The one ``pq.py`` process of a traced prql_warm run, which otherwise
    starts none: a seeded read from the pool over the workload's tables
    through cli_shim.py, after the worker has ended.  It gives the ``cli``
    layer's figures and is checked like every operation, but is not one
    of the workload's operations; its index, past the last operation's,
    keeps its job groups apart from theirs in the event log."""
    import numpy as np

    import cli
    import queries
    import verify

    rng = np.random.default_rng(args.seed)
    name = queries.POOL[int(rng.integers(len(queries.POOL)))].name
    rec = cli.pq_op(args, env, run_dir, data, log, deadline, rng,
                    len(res["ops"]), name, False)
    verify.check_all([rec], argparse.Namespace(data=data, corrupt=False))
    aux = {"ops": [rec]}
    cli_spans(aux)
    res["cli_op"] = rec
    res["import_ms"], res["teardown_ms"] = aux["import_ms"], aux["teardown_ms"]


def sink_sizes(res: dict) -> None:
    for o in res["ops"]:
        p = o.get("path")
        if o["kind"] == "read" and "stdout" in o:  # the CLI's table writer
            o["sink_bytes"] = len(o["stdout"].encode())
        elif p and os.path.exists(p):
            o["sink_bytes"] = (os.path.getsize(p) if os.path.isfile(p) else sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(p) for f in fs))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (self-test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="tamper with the first operation's result before "
                         "it is checked (self-test of the checks)")
    args = ap.parse_args()
    t_begin = now()
    if not (os.path.isfile(os.path.join(ROOT, "pq.py"))
            and os.path.isdir(os.path.join(ROOT, "prql_query_spark"))):
        fail(f"no pq.py / prql_query_spark/ under {ROOT}: run from a checkout "
             "of the repository", 2)
    try:
        import duckdb  # noqa: F401
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        fail(f"missing dependency: {exc}", 2)
    import datagen

    cache = os.path.join(HERE, ".cache")
    sf = args.sf or WORKLOADS[args.workload]
    data = datagen.ensure(os.path.join(cache, "data"), sf)
    if args.workload == "curate_batch":
        import verify

        verify.Corpus(data)  # builds the cached pair list on first use
    run_dir = os.path.join(cache, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = environment(run_dir, bool(args.trace))
    args.tmp = os.path.join(run_dir, "tmp")
    deadline = max(now(), t_begin) + LIMIT_S - 20
    log = open(os.path.join(cache, f"last-{args.workload}.log"), "w")
    cpu0 = cpu_times()
    try:
        if args.workload == "cli_cold":
            import cli
            import verify

            res = cli.run(args, env, run_dir, data, log, deadline)
            verify.check_all(res["ops"], argparse.Namespace(
                data=data, corrupt=args.corrupt))
        else:
            res = run_worker(args, env, run_dir, data, log, deadline)
            if args.trace and args.workload == "prql_warm":
                cli_op(args, env, run_dir, data, log, deadline, res)
        res["workload"] = args.workload
        res["steal_pct"] = steal_pct(cpu0, cpu_times())
        sink_sizes(res)
        if args.trace and args.workload == "cli_cold":
            cli_spans(res)
        import eventlog

        events = eventlog.by_group(os.path.join(run_dir, "events")) if args.trace else {}
    except Exception as exc:  # noqa: BLE001
        fail(f"{args.workload} failed: {exc} (see {log.name})")
    finally:
        log.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, extra = end_to_end(res)
    checked = res["ops"] + ([res["cli_op"]] if "cli_op" in res else [])
    failed = sum(1 for o in checked if not o["ok"])
    for o in checked:
        if not o["ok"]:
            print(f"WRONG op {o['i']} {o['name']} ({o['kind']}): {o['why']}")
    print(f"== {args.workload} seed={args.seed} trace={args.trace} "
          f"sf={sf:g} ops={len(res['ops'])}")
    units = dict(END_TO_END, latency_p50_ms="ms", latency_tail_ms="ms",
                 peak_rss_mb="MB", read_p50_ms="ms", write_p50_ms="ms",
                 docs_per_s="1/s", error_rate="ratio", tail_percentile="%",
                 tail_samples_beyond="count", ops="count", run_wall_s="s",
                 host_steal_pct="%")
    for k, v in {**e2e, **extra}.items():
        print(f"  {k:<32} {v:>14.4f} {units[k]}")
    print("  setups_s " + " ".join(f"{s['wall_s']:.3f}" for s in res["setups"]))
    for name in sorted({o["name"] for o in res["ops"]}):
        xs = [o["wall_ms"] for o in res["ops"] if o["name"] == name]
        print(f"  op {name:<30} n={len(xs):<3} p50 {p50(xs):10.1f} ms")
    if args.trace:
        metrics = per_layer(res, events)
        for k, v in sorted(metrics.items()):
            print(f"  {k:<44} {v:>14.4f} {unit(k)}")
    else:
        metrics = {k: v for k, v in e2e.items()}
    out = {"correct": failed == 0, "attempted": len(checked), "failed": failed,
           "metrics": {k: {"value": v, "unit": END_TO_END.get(k) or unit(k)}
                       for k, v in metrics.items()}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

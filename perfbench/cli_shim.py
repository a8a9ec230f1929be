"""Traced stand-in for ``python pq.py ARGS``: wraps the public functions pq
calls, then runs ``pq.main(ARGS)`` unchanged.

Spans (wall clock, seconds) and the status tracker's job, stage and task
counts go to the JSON file named by PERFBENCH_TRACE_OUT.  Job groups are
``<PERFBENCH_OP>:construct`` (source registration through DataFrame
construction) and ``<PERFBENCH_OP>:exec`` (planning, the action, the sink).

``cli_shim.py --floors`` instead starts a session and prints bench.py's two
calibration floors as JSON.
"""

from __future__ import annotations

import json
import os
import sys

from harness import Spans, dataframe_class, job_counts, now, plan_exchanges, settle

OP = os.environ.get("PERFBENCH_OP", "0")


def _install(spans: Spans, state: dict) -> None:
    import prql_query_spark
    from prql_query_spark.engine import PrqlEngine
    from prql_query_spark.engine import session, writers

    def wrap(owner, name, layer, after=None):
        orig = getattr(owner, name)

        def wrapped(*a, **k):
            with spans.span(layer):
                out = orig(*a, **k)
            if after:
                after(out)
            return out

        setattr(owner, name, wrapped)

    def group(phase):
        sc = state.get("sc")
        if sc is not None:
            sc.setJobGroup(f"{OP}:{phase}", f"perfbench cli op {OP} {phase}")

    def got_spark(spark):
        state["sc"] = spark.sparkContext
        group("construct")

    def planned(df):
        group("exec")
        with spans.span("engine.plan"):
            state["exchanges"] = plan_exchanges(df)

    def wrote(_):
        state["writer_return"] = now()

    def compiled(sql):
        state.setdefault("sql", []).append(sql)

    wrap(prql_query_spark, "compile_prql", "compiler", after=compiled)
    wrap(session, "get_spark", "session.get_spark", after=got_spark)
    wrap(session, "sources_bytes", "session.tune")
    wrap(session, "tune_session_for", "session.tune")
    wrap(PrqlEngine, "add_sources", "sources.register")
    wrap(PrqlEngine, "catalog", "sources.catalog")
    wrap(PrqlEngine, "sql", "engine.construct", after=planned)
    for name in ("write_pretty", "write_single_file", "write_distributed"):
        wrap(writers, name, "writers.sink", after=wrote)
    for name in ("collect", "toArrow", "toPandas"):
        wrap(dataframe_class(), name, "engine.exec")


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    if sys.argv[1:] == ["--floors"]:
        from prql_query_spark.engine.session import get_spark
        from worker import floors

        spark = get_spark("perfbench-floors")
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps(floors(spark)))
        spark.stop()
        return 0
    spans, state = Spans(), {}
    _install(spans, state)
    import pq

    rc = pq.main(sys.argv[1:])
    trace = {"spans": spans.items, "writer_return": state.get("writer_return"),
             "exchanges": state.get("exchanges", 0), "sql": state.get("sql", [])}
    sc = state.get("sc")
    if sc is not None:
        settle(sc)
        trace["jobs"] = {p: job_counts(sc, f"{OP}:{p}") for p in ("construct", "exec")}
    with open(os.environ["PERFBENCH_TRACE_OUT"], "w") as f:
        json.dump(trace, f)
    return rc


if __name__ == "__main__":
    sys.exit(main())

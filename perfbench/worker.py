"""One warm workload (prql_warm or curate_batch) in one long-lived process.

Started by run.py with the benchmark's environment; writes its raw
measurements as JSON to ``--out``.  The timed operations call only the
program's public functions; checks run after the timed loop.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from harness import (
    Spans, dataframe_class, job_counts, now, plan_exchanges, rounds, settle,
    vm_hwm_kb,
)

T_SPAWN = float(os.environ.get("PERFBENCH_T0", "0") or now())

CURATE_OPS = ("token_count", "embedding_neardup", "minhash_dedup_cc", "curate_corpus")
SINKS = (("single", "parquet"), ("single", "csv"), ("distributed", "parquet"))
SUBSET_MOD = 1009  # a seeded affine map mod this prime keeps ~90% of ids


class Tracer:
    """Trace-mode hooks: job groups per phase and spans for the Spark
    actions that run inside the writers.  Inactive in untraced runs."""

    def __init__(self, spark, on: bool):
        self.on, self.sc, self.spans = on, spark.sparkContext, None
        if on:
            from pyspark.sql import DataFrameWriter

            for cls, names in ((dataframe_class(), ("toArrow", "toPandas")),
                               (DataFrameWriter, ("parquet", "csv", "save"))):
                for n in names:
                    self._wrap(cls, n)

    def _wrap(self, cls, name):
        orig = getattr(cls, name)

        def wrapped(*a, **k):
            spans = self.spans
            if spans is None:
                return orig(*a, **k)
            with spans.span("engine.exec"):
                return orig(*a, **k)

        setattr(cls, name, wrapped)

    def phase(self, op: int, phase: str) -> None:
        if self.on:
            self.sc.setJobGroup(f"{op}:{phase}", f"perfbench op {op} {phase}")

    def plan(self, spans: Spans, df) -> int:
        """Force physical planning in its own span; return the number of
        Exchange nodes in the executed plan."""
        if not self.on:
            return 0
        with spans.span("engine.plan"):
            return plan_exchanges(df)


def subset_expr(rng, col: str):
    a, b = int(rng.integers(1, SUBSET_MOD)), int(rng.integers(0, SUBSET_MOD))
    return a, b, f"pmod({col} * {a} + {b}, {SUBSET_MOD}) >= {SUBSET_MOD // 10}"


def in_subset(ids, a: int, b: int):
    return ((ids * a + b) % SUBSET_MOD) >= SUBSET_MOD // 10


class Workload:
    def __init__(self, args):
        self.args = args
        self.res = {"setups": [], "ops": [], "trace": bool(args.trace)}
        self._outputs = {}  # op index -> curate output DataFrame, for checks
        if args.workload == "curate_batch":  # for the subset sizes (docs_per_s)
            import pyarrow.parquet as papq

            self.ids = {t: papq.read_table(os.path.join(args.data, f"{t}.parquet"),
                                           columns=[c]).column(c).to_numpy()
                        for t, c in (("documents", "doc_id"), ("embeddings", "vec_id"))}

    # ---- set-up (timed as setup_s)

    def setup(self) -> None:
        """Everything before the first timed operation: the session start
        (which starts the JVM), source registration, tuning, the catalog and
        the warm-up."""
        from prql_query_spark.engine import PrqlEngine
        from prql_query_spark.engine.session import (
            get_spark, sources_bytes, tune_session_for,
        )

        spans = Spans()
        t0 = now()
        with spans.span("session.get_spark"):
            spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        eng = PrqlEngine(spark)
        d = self.args.data
        with spans.span("sources.register"):
            if self.args.workload == "prql_warm":
                eng.add_dir(d)
            else:
                eng.add_sources([f"{d}/documents.parquet", f"{d}/embeddings.parquet"])
        with spans.span("session.tune"):
            tune_session_for(spark, sources_bytes(list(eng.source_paths.values())))
        with spans.span("sources.catalog"):
            eng.catalog()
        self.spark, self.eng = spark, eng
        self.tracer = Tracer(spark, self.args.trace)
        with spans.span("warmup"):
            self.warmup()
        self.res["setups"].append({"wall_s": now() - t0, "spans": spans.items})

    def warmup(self) -> None:
        """The same warm-up in every run: a cheap operation, then one of
        each costly kind on a small input, so the timed operations find
        compiled code and running Python workers."""
        import numpy as np

        rng = np.random.default_rng(0)
        if self.args.workload == "prql_warm":
            import queries

            for name in ("q_agg_q1", "q_join_agg_q5", "q_large_orders_q18"):
                prql, _ = queries.instantiate(queries.BY_NAME[name], rng)
                self.run_prql(-1, name, prql, "read", None)
        else:
            for op in ("token_count", "minhash_dedup_cc"):
                self.run_curate(-1, op, rng, frac=50)

    # ---- operations

    def run_prql(self, i, name, prql, kind, sink):
        from prql_query_spark import compile_prql
        from prql_query_spark.engine.writers import write_distributed, write_single_file

        tr, spans = self.tracer, Spans()
        tr.spans = spans
        rec = {"i": i, "name": name, "kind": kind}
        t0 = now()
        with spans.span("sources.catalog"):
            schemas, rows, nbytes = self.eng.catalog()
        with spans.span("compiler"):
            sql = compile_prql(prql, dialect="spark", schemas=schemas or None,
                               table_rows=rows, table_bytes=nbytes)
        tr.phase(i, "construct")
        with spans.span("engine.construct"):
            df = self.eng.sql(sql)
        rec["exchanges"] = tr.plan(spans, df)
        tr.phase(i, "exec")
        if kind == "read":
            with spans.span("engine.exec"):
                out = df.collect()
            rec["result"] = [df.columns, [tuple(r) for r in out]]
        else:
            mode, fmt = sink
            path = os.path.join(self.args.tmp, f"op{i}.{fmt}")
            with spans.span("writers.sink"):
                if mode == "single":
                    write_single_file(df, path, fmt)
                else:
                    write_distributed(df, path, fmt)
            rec["path"], rec["fmt"] = path, fmt
        t1 = now()
        tr.spans = None
        rec.update(wall_ms=(t1 - t0) * 1000, spans=[["op", t0, t1]] + spans.items,
                   sql_chars=len(sql))
        if tr.on and i >= 0:
            rec["eager_agg"] = sql != compile_prql(prql, dialect="spark")
        return rec

    def run_curate(self, i, op, rng, frac=None):
        from pyspark.sql import functions as F

        tr, spans = self.tracer, Spans()
        tr.spans = spans
        emb = op == "embedding_neardup"
        src, col = ("embeddings", "vec_id") if emb else ("documents", "doc_id")
        if frac:  # warm-up: a fixed small slice
            a, b, pred = 0, 0, f"{col} % {frac} = 0"
        else:
            a, b, pred = subset_expr(rng, col)
        rec = {"i": i, "name": op, "kind": "curate", "subset": [a, b]}
        layer = ("pipelines." if op == "curate_corpus" else "operators.") + op
        t0 = now()
        sub = self.spark.table(src).filter(F.expr(pred))
        tr.phase(i, "construct")
        with spans.span(layer):
            out = self._construct(op, sub)
        rec["exchanges"] = tr.plan(spans, out)
        tr.phase(i, "exec")
        with spans.span("engine.exec"):
            out.write.format("noop").mode("overwrite").save()
        t1 = now()
        tr.spans = None
        rec.update(wall_ms=(t1 - t0) * 1000, spans=[["op", t0, t1]] + spans.items)
        if i >= 0:
            rec["docs"] = int(in_subset(self.ids[src], a, b).sum())
            self._outputs[i] = out
        return rec

    @staticmethod
    def _construct(op, sub):
        from pyspark.sql import functions as F

        if op == "minhash_dedup_cc":
            from prql_query_spark.operators.dedup import minhash_dedup_cc

            return minhash_dedup_cc(sub, threshold=0.6)
        if op == "curate_corpus":
            from prql_query_spark.pipelines import curate_corpus

            bench = sub.filter(F.col("doc_id") % 13 == 0).select("doc_id", "text")
            out, _manifest = curate_corpus(
                sub, benchmark=bench,
                gopher_overrides={"max_dup_frac": 1.0, "min_words": 20})
            return out.select("doc_id", "clean_text")
        if op == "embedding_neardup":
            from prql_query_spark.operators.similarity import embedding_neardup

            return embedding_neardup(sub, threshold=0.4, exact=False)
        from prql_query_spark.operators.text import token_count

        return sub.select("doc_id",
                          token_count(F.col("text")).cast("long").alias("n_tokens"))

    def guard(self, i, name, kind, fn, *a):
        """One timed operation; an exception makes it a failed one."""
        t0 = now()
        try:
            return fn(i, name, *a)
        except Exception as exc:  # noqa: BLE001
            self.tracer.spans = None
            return {"i": i, "name": name, "kind": kind, "spans": [],
                    "wall_ms": (now() - t0) * 1000,
                    "error": f"{type(exc).__name__}: {str(exc)[:300]}"}

    # ---- the timed loop

    def loop(self) -> None:
        import numpy as np

        import queries

        rng = np.random.default_rng(self.args.seed)
        ops, t_start = self.res["ops"], now()
        for _ in range(rounds(self.args.workload, self.args.seconds)):
            if self.args.workload == "prql_warm":
                # one round: every template once, in a seeded order; three
                # of the thirteen operations are writes
                names = [queries.POOL[j].name for j in rng.permutation(len(queries.POOL))]
                writes = set(rng.choice(len(names), 3, replace=False).tolist())
                for j, name in enumerate(names):
                    prql, duck = queries.instantiate(queries.BY_NAME[name], rng)
                    sink = SINKS[int(rng.integers(0, len(SINKS)))] if j in writes else None
                    kind = "write" if sink else "read"
                    rec = self.guard(len(ops), name, kind, self.run_prql,
                                     prql, kind, sink)
                    rec["duck"] = duck
                    ops.append(rec)
            else:
                # one round: each call once, in a fixed order (the calls
                # share compiled code, so a seeded order would move cost
                # between them); the seed draws each call's subset
                for op in CURATE_OPS:
                    ops.append(self.guard(len(ops), op, "curate",
                                          self.run_curate, rng))
        self.res["loop_wall_s"] = now() - t_start
        jvm = self.spark.sparkContext._gateway.proc.pid
        self.res["peak_rss_mb"] = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm)) / 1024

    # ---- after the loop: counts, floors, checks, teardown

    def finish(self) -> None:
        import verify

        if self.args.trace:
            sc = self.spark.sparkContext
            settle(sc)
            for rec in self.res["ops"]:
                rec["jobs"] = {p: job_counts(sc, f"{rec['i']}:{p}")
                               for p in ("construct", "exec")}
            self.res["floors"] = floors(self.spark)
        for rec in self.res["ops"]:
            if rec["kind"] == "curate" and "error" not in rec:
                try:
                    rec["result"] = verify.collect_curate(
                        rec["name"], self._outputs.pop(rec["i"]))
                except Exception as exc:  # noqa: BLE001 - a failed operation
                    rec["error"] = f"collect: {type(exc).__name__}: {str(exc)[:300]}"
        self._outputs.clear()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        log("stopped")
        verify.check_all(self.res["ops"], self.args)
        log("checked")
        for rec in self.res["ops"]:
            rec.pop("result", None)
        try:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(30)
        except Exception:  # noqa: BLE001 - the parent reaps the group anyway
            pass


def floors(spark) -> dict:
    """bench.py's two calibration probes: an empty job, and one bare
    mapInPandas identity stage (median of 9 after two warm runs, ms)."""
    import statistics

    def run(make):
        for _ in range(2):
            make().write.format("noop").mode("overwrite").save()
        xs = []
        for _ in range(9):
            t = now()
            make().write.format("noop").mode("overwrite").save()
            xs.append((now() - t) * 1000)
        return statistics.median(xs)

    def py_identity():
        df = spark.range(1000)
        return df.mapInPandas(lambda it: it, df.schema)

    return {"floor_empty_job_ms": run(lambda: spark.range(1000)),
            "floor_py_identity_ms": run(py_identity)}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--data", required=True)
    p.add_argument("--tmp", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--corrupt", action="store_true")
    args = p.parse_args()
    w = Workload(args)
    w.setup()
    log("set up")
    w.loop()
    log("loop")
    w.finish()
    log("finish")
    with open(args.out, "w") as f:
        json.dump(w.res, f)
    return 0


def log(msg: str) -> None:
    print(f"perfbench {now() - T_SPAWN:8.2f}s {msg}", file=sys.stderr, flush=True)


if __name__ == "__main__":
    sys.exit(main())

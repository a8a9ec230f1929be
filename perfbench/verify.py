"""Checks of every timed operation, run after the timed loop.

Reads and writes of the PRQL workloads are compared with DuckDB running the
query's hand-written twin (writes after reading the written file back).
curate_batch results are checked against properties recomputed here in
NumPy or pure Python.  A failed check marks the operation wrong; it counts
in ``failed`` and in the error rate.
"""

from __future__ import annotations

import json
import os
import re

import check

EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
# bench.py's operating point for 4-bit / 8-table LSH at cosine 0.4 (measured
# here: 0.781 mean, 0.005 standard deviation over 20 seeded subsets)
NEARDUP_RECALL_FLOOR = 0.76
# MinHash LSH with 16 bands of 4 rows (the operators' defaults) misses a
# pair at Jaccard 0.85 with probability (1 - 0.85**4)**16 < 1e-5: pairs at
# or above this similarity must be found
SURE = 0.85


def collect_curate(op: str, df):
    """The operation's output, collected for checking (outside the timed
    span: the timed operation wrote it to the noop sink)."""
    if op == "minhash_dedup_cc":
        return [r[0] for r in df.select("doc_id").collect()]
    return [tuple(r) for r in df.collect()]


def duck(data: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, f)}')")
    return con


def check_prql(rec: dict, con, corrupt: bool) -> str | None:
    import queries

    q = queries.BY_NAME[rec["name"]]
    expect = con.execute(rec["duck"]).arrow()
    e_cols, e_rows = expect.column_names, [tuple(r.values()) for r in expect.to_pylist()]
    if rec["kind"] == "read" and "stdout" in rec:  # the CLI's printed table
        cols, cells = check.parse_pretty(rec["stdout"])
        like = e_rows[0] if e_rows else [None] * len(e_cols)
        rows = [tuple(check.typed_text(c, v) for c, v in zip(r, like)) for r in cells]
    elif rec["kind"] == "read":
        cols, rows = rec["result"]
        rows = [tuple(r) for r in rows]
    else:
        cols, rows = check.read_back(rec["path"], rec["fmt"], expect.schema)
    if corrupt:
        rows = rows[:-1] if rows else [tuple([None] * len(cols))]
    return check.compare(cols, rows, e_cols, e_rows, q.tol)


class Corpus:
    """The full documents/embeddings tables and the exact near-duplicate
    pairs of the documents (cached next to the data: they depend only on
    the tables)."""

    def __init__(self, data: str):
        import numpy as np
        import pyarrow.parquet as papq

        d = papq.read_table(os.path.join(data, "documents.parquet")).to_pydict()
        self.doc_ids = np.array(d["doc_id"])
        self.text = dict(zip(d["doc_id"], d["text"]))
        e = papq.read_table(os.path.join(data, "embeddings.parquet"))
        self.vec_ids = e.column("vec_id").to_numpy()
        self.vecs = np.stack(e.column("embedding").to_numpy(zero_copy_only=False)
                             ).astype(np.float64)
        cache = os.path.join(data, ".docpairs-0.6.json")
        if not os.path.exists(cache):
            ids = [int(i) for i in self.doc_ids]
            pairs = check.similar_pairs(ids, check.shingle_sets(
                [self.text[i] for i in ids]), 0.6)
            with open(cache + ".tmp", "w") as f:
                json.dump([[a, b, j] for (a, b), j in sorted(pairs.items())], f)
            os.replace(cache + ".tmp", cache)
        with open(cache) as f:
            self.pairs = {(a, b): j for a, b, j in json.load(f)}


def check_curate(rec: dict, corpus: Corpus, corrupt: bool) -> str | None:
    import numpy as np

    from worker import in_subset

    a, b = rec["subset"]
    op, out = rec["name"], rec["result"]
    if op == "embedding_neardup":
        keep = in_subset(corpus.vec_ids, a, b)
        ids, v = corpus.vec_ids[keep], corpus.vecs[keep]
        pos = {int(x): k for k, x in enumerate(ids)}
        if corrupt:
            out = out + [(int(ids[0]), int(ids[0]), 1.0)]
        cos = v @ v.T
        iu = np.triu_indices(len(ids), 1)
        exact = {(int(ids[x]), int(ids[y])) for x, y in zip(*iu)
                 if cos[x, y] >= 0.4}
        got = set()
        for pa, pb, c in out:
            if pa not in pos or pb not in pos or pa >= pb or (pa, pb) in got:
                return f"pair ({pa}, {pb}) is not an ordered pair of the subset"
            true = cos[pos[pa], pos[pb]]
            if abs(true - c) > 1e-4 or true < 0.4 - 1e-6:
                return f"pair ({pa}, {pb}): cosine {c} (exact {true:.6f})"
            got.add((pa, pb))
        recall = len(got & exact) / max(1, len(exact))
        rec["recall"] = recall
        if recall < NEARDUP_RECALL_FLOOR:
            return f"recall {recall:.3f} < {NEARDUP_RECALL_FLOOR}"
        return None
    sub = [int(i) for i in corpus.doc_ids[in_subset(corpus.doc_ids, a, b)]]
    subset = set(sub)
    if op == "token_count":
        if corrupt:
            out = out[1:]
        expect = [(i, len(corpus.text[i].split())) for i in sub]
        return check.compare(["doc_id", "n_tokens"], out, ["doc_id", "n_tokens"], expect)
    if op == "minhash_dedup_cc":
        if corrupt:
            out = out + [sub[-1]] if sub[-1] not in out else out[1:]
        # Survivors shrink as edges are added, so with every verified pair a
        # true pair (J >= 0.6) and every pair at J >= SURE found, the
        # survivors lie between those of the two edge sets.
        pairs = {p: j for p, j in corpus.pairs.items()
                 if p[0] in subset and p[1] in subset}
        fewest = check.min_id_survivors(sub, pairs)
        most = check.min_id_survivors(sub, [p for p, j in pairs.items() if j >= SURE])
        got = set(out)
        if len(out) != len(got) or not fewest <= got <= most:
            return (f"{len(got)} survivors, expected {len(fewest)}..{len(most)}: "
                    f"{len(fewest - got)} missing, {len(got - most)} extra")
        return None
    # curate_corpus: the pipeline's promises, checked as properties
    ids = [r[0] for r in out]
    if corrupt:
        ids = ids + [ids[0]]
    kept = set(ids)
    if len(ids) != len(kept) or not kept <= subset:
        return "output ids are not distinct ids of the input subset"
    if len(kept) < len(sub) // 4:
        return f"only {len(kept)} of {len(sub)} documents kept"
    if any(i % 13 == 0 for i in kept):
        return "a benchmark (contaminated) document survived"
    if len({corpus.text[i] for i in kept}) != len(kept):
        return "exact duplicates survived"
    close = [p for p, j in corpus.pairs.items()
             if j >= SURE and p[0] in kept and p[1] in kept]
    if close:
        return f"near-duplicate pair {close[0]} survived"
    if any(EMAIL.search(t or "") for _, t in out):
        return "an e-mail address survived the PII scrub"
    return None


def check_all(ops: list[dict], args) -> None:
    con = corpus = None
    for n, rec in enumerate(ops):
        corrupt = bool(args.corrupt) and n == 0
        if rec.get("error"):
            rec["ok"], rec["why"] = False, rec["error"]
            continue
        try:
            if rec["kind"] == "curate":
                corpus = corpus or Corpus(args.data)
                why = check_curate(rec, corpus, corrupt)
            else:
                con = con or duck(args.data)
                why = check_prql(rec, con, corrupt)
        except Exception as exc:  # noqa: BLE001 - a crash is a failed check
            why = f"check raised {type(exc).__name__}: {exc}"
        rec["ok"], rec["why"] = why is None, why

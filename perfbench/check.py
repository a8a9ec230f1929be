"""Independent output checks.

Cells are compared as (type class, value) pairs, the same semantics as
``tools/check_parity.norm_cell``: a BIGINT 1863 and a DOUBLE 1863.0 are
different results even though Python's ``==`` equates them.  Row order is
ignored.  Floats match within a relative 1e-9, or within one rounding unit
for the columns a query rounds (see ``queries.Query.tol``).
"""

from __future__ import annotations

import datetime
import decimal
import math
import re


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, float):
        return ("float", v)
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat(sep=" "))
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    return ("str", str(v))


def _sort_key(row):
    # floats rounded coarsely so both sides sort equal rows together
    return tuple(
        ("", "") if c is None else
        (c[0], float(f"{c[1]:.6g}")) if c[0] == "float" and not math.isnan(c[1])
        else (c[0], repr(c[1]))
        for c in row)


def _close(a, b, tol: float) -> bool:
    if a is None or b is None or a[0] != b[0]:
        return a == b
    if a[0] != "float":
        return a == b
    x, y = a[1], b[1]
    if math.isnan(x) or math.isnan(y):
        return math.isnan(x) and math.isnan(y)
    return abs(x - y) <= max(1e-9 * max(abs(x), abs(y)), tol * 1.0001)


def compare(actual_cols, actual_rows, expect_cols, expect_rows,
            tol: dict | None = None) -> str | None:
    """None when the results match, else a one-line reason."""
    if list(actual_cols) != list(expect_cols):
        return f"columns {list(actual_cols)} != {list(expect_cols)}"
    if len(actual_rows) != len(expect_rows):
        return f"{len(actual_rows)} rows != {len(expect_rows)}"
    tols = [(tol or {}).get(c, 0.0) for c in expect_cols]
    a = sorted((tuple(norm_cell(v) for v in r) for r in actual_rows), key=_sort_key)
    e = sorted((tuple(norm_cell(v) for v in r) for r in expect_rows), key=_sort_key)
    for ra, re_ in zip(a, e):
        for i, (ca, ce) in enumerate(zip(ra, re_)):
            if not _close(ca, ce, tols[i]):
                return f"column {expect_cols[i]}: {ca!r} != {ce!r}"
    return None


# ---- the CLI's pretty table (engine/writers.write_pretty) read back as text


def parse_pretty(text: str) -> tuple[list[str], list[list[str]]]:
    lines = [ln for ln in text.splitlines() if ln.startswith("|")]
    if not lines:
        return [], []
    cells = [[c.strip() for c in ln.strip("|").split("|")] for ln in lines]
    return cells[0], cells[1:]


_INT = re.compile(r"^-?\d+$")


def typed_text(cell: str, like):
    """A printed cell read back as the type of the reference value ``like``;
    a cell that does not print as that type comes back as a string, so the
    typed comparison fails on it."""
    if cell == "" and like is None:
        return None
    try:
        if isinstance(like, int):
            return int(cell) if _INT.match(cell) else cell
        if isinstance(like, float):
            return float(cell) if not _INT.match(cell) else cell
        if isinstance(like, datetime.datetime):
            return datetime.datetime.fromisoformat(cell)
        if isinstance(like, datetime.date):
            return datetime.date.fromisoformat(cell)
    except ValueError:
        return cell
    return cell


# ---- read-back of files the writers produced


def read_back(path: str, fmt: str, arrow_schema):
    """(columns, rows) of a written file or dataset directory.  CSV is read
    with the reference result's column types, which is what a consumer of
    the file would declare."""
    import os

    import pyarrow.csv as pacsv
    import pyarrow.parquet as papq

    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(f".{fmt}") or (f.startswith("part-") and not f.endswith(".crc")))
    tables = []
    for f in files:
        if fmt == "parquet":
            tables.append(papq.read_table(f))
        else:
            if os.path.getsize(f) == 0:
                continue
            tables.append(pacsv.read_csv(f, convert_options=pacsv.ConvertOptions(
                column_types={fl.name: fl.type for fl in arrow_schema})))
    if not tables:
        return [fl.name for fl in arrow_schema], []
    cols = tables[0].column_names
    rows = [tuple(r.values()) for t in tables for r in t.to_pylist()]
    return cols, rows


# ---- curate_batch: properties recomputed in NumPy / pure Python


def shingle_sets(texts, k: int = 5) -> list[frozenset]:
    out = []
    for t in texts:
        s = (t or "").lower()
        out.append(frozenset(s[i:i + k] for i in range(max(len(s) - k + 1, 1))))
    return out


def similar_pairs(ids, sets, threshold: float) -> dict[tuple[int, int], float]:
    """(a, b) -> exact Jaccard for every a < b at or above ``threshold``: the AllPairs
    prefix filter (a pair at the threshold must share a token among each
    set's rarest |x| - ceil(t|x|) + 1 tokens), then exact verification."""
    from collections import Counter, defaultdict

    freq = Counter(s for st in sets for s in st)
    index: dict[str, list[int]] = defaultdict(list)
    cand: set[tuple[int, int]] = set()
    for i, st in enumerate(sets):
        toks = sorted(st, key=lambda s: (freq[s], s))
        prefix = toks[:len(toks) - math.ceil(threshold * len(toks)) + 1]
        for s in prefix:
            for j in index[s]:
                cand.add((j, i))
            index[s].append(i)
    out = {}
    for j, i in cand:
        a, b = sets[j], sets[i]
        inter = len(a & b)
        union = len(a) + len(b) - inter
        if inter >= threshold * union:
            x, y = ids[j], ids[i]
            out[(min(x, y), max(x, y))] = inter / union
    return out


def min_id_survivors(ids, pairs) -> set[int]:
    """Connected components over ``pairs``; the minimum id of each survives."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in ids if find(i) == i}

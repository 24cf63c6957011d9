"""Independent output checks.

Each checker recomputes the expected answer without the program under
test (numpy, pyarrow, plain Python or DuckDB) and returns a list of
problems; an empty list means the output is correct. The only thing taken
from the package is the registry's MinHash oracle SQL text, which DuckDB
evaluates.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow.parquet as pq

from inputs import POINT_COLUMNS


def layout_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def read_layout(path: str, columns: list[str]) -> dict[str, np.ndarray]:
    files = layout_files(path)
    tables = [pq.read_table(f, columns=columns) for f in files]
    return {c: np.concatenate([t.column(c).to_numpy() for t in tables]) for c in columns}


def _sorted_rows(cols: dict[str, np.ndarray]) -> np.ndarray:
    keys = [np.asarray(cols[c], dtype=np.float64) for c in POINT_COLUMNS]
    order = np.lexsort(keys[::-1])
    return np.stack([k[order] for k in keys], axis=1)


def check_tile(path: str, expected: dict[str, np.ndarray], bounds) -> list[str]:
    """A tile's layout holds exactly the generated points, compared as a
    sorted multiset of (x, y, z, intensity, classification); ``i`` lies in
    [0, 1); every file's footer x/y range lies inside the tile."""
    problems = []
    files = layout_files(path)
    if not files:
        return [f"{path}: no parquet files"]
    got = read_layout(path, [*POINT_COLUMNS, "i"])
    n_exp, n_got = len(expected["x"]), len(got["x"])
    if n_got != n_exp:
        problems.append(f"{path}: {n_got} points, expected {n_exp}")
    elif not np.array_equal(_sorted_rows(got), _sorted_rows(expected)):
        problems.append(f"{path}: point multiset differs from the generated tile")
    i = got["i"]
    if len(i) and not (i.min() >= 0.0 and i.max() < 1.0):
        problems.append(f"{path}: importance outside [0, 1): {i.min()}..{i.max()}")
    x0, x1, y0, y1 = bounds
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = md.schema.names
        for rg in range(md.num_row_groups):
            for col, lo, hi in (("x", x0, x1), ("y", y0, y1)):
                st = md.row_group(rg).column(names.index(col)).statistics
                if st is None or not st.has_min_max:
                    problems.append(f"{f}: row group {rg} has no {col} statistics")
                elif not (lo <= st.min and st.max < hi):
                    problems.append(f"{f}: footer {col} range [{st.min}, {st.max}] outside tile")
    return problems


# --- point queries -------------------------------------------------------------


class PointOracle:
    """Expected query answers from the generated coordinates and the
    importance column the program added, read back with pyarrow."""

    def __init__(self, generated: dict[str, np.ndarray], table_path: str):
        self.x, self.y = generated["x"], generated["y"]
        self.i = read_layout(table_path, ["i"])["i"].astype(np.float64)
        if len(self.i) != len(self.x):
            raise ValueError(f"table holds {len(self.i)} rows, generated {len(self.x)}")

    def answer(self, kind: str, params):
        x, y = self.x, self.y
        if kind in ("rect_small", "rect_medium"):
            (x0, x1), (y0, y1) = params["x"], params["y"]
            return int(np.count_nonzero((x >= x0) & (x < x1) & (y >= y0) & (y < y1)))
        if kind == "circle":
            cx, cy, r = params
            dx, dy = x - cx, y - cy
            return int(np.count_nonzero(dx * dx + dy * dy < r * r))
        if kind == "knn":
            cx, cy, k = params
            dx, dy = x - cx, y - cy
            d2 = dx * dx + dy * dy
            return sorted(np.partition(d2, k - 1)[:k].tolist())
        if kind == "sample":
            return int(np.count_nonzero(self.i < params))
        raise ValueError(f"unknown query kind {kind!r}")


def check_query(oracle: PointOracle, kind: str, params, got) -> list[str]:
    """Counts must match exactly; kNN must return exactly numpy's k
    smallest squared distances (as a multiset, so ties may pick any id)."""
    want = oracle.answer(kind, params)
    if kind == "knn":
        got = sorted(float(v) for v in got)
    if got != want:
        shown = f"{len(got)} distances" if kind == "knn" else got
        return [f"{kind} {params}: got {shown}, expected {len(want) if kind == 'knn' else want}"]
    return []


# --- dedup stream --------------------------------------------------------------


def expected_verdicts(texts: list[str], ids: range) -> list[tuple[int, int, bool]]:
    """(doc_id, keep_id, kept) by a first-occurrence map over the stream
    (ids rise along the stream, so the first occurrence is the min id)."""
    first: dict[str, int] = {}
    for doc_id, t in enumerate(texts[: ids.stop]):
        first.setdefault(t, doc_id)
    return [(d, first[texts[d]], first[texts[d]] == d) for d in ids]


def check_verdicts(texts: list[str], ids: range, got) -> list[str]:
    want = expected_verdicts(texts, ids)
    got = sorted((int(d), int(k), bool(kept)) for d, k, kept in got)
    if got != want:
        bad = [w for w, g in zip(want, got) if w != g][:3]
        return [f"exact verdicts for ids {ids.start}..{ids.stop - 1} differ (first: {bad or 'count'})"]
    return []


def oracle_pairs_sql() -> str:
    """The registry's MinHash oracle (behind dq21h and dq21k) over the
    whole stream. That SQL keeps pairs touching a new id (``id % 5 = 0``);
    here every document is new when its batch arrives, so the filter
    is dropped."""
    from agile_lakehouse_spark.declared import ORACLES

    sql = ORACLES["dq21h_dedup_incremental"]
    new_id_filter = "AND (id_a % 5 = 0 OR id_b % 5 = 0)"
    if sql.count(new_id_filter) != 1:
        raise RuntimeError("dq21h oracle SQL no longer has its new-id filter")
    return sql.replace(new_id_filter, "")


def oracle_pairs(texts: list[str]) -> dict[tuple[int, int], float]:
    import duckdb
    import pyarrow as pa

    documents = pa.table(  # noqa: F841 — read by name from the SQL
        {"doc_id": pa.array(range(len(texts)), pa.int64()), "text": pa.array(texts)}
    )
    con = duckdb.connect()
    try:
        rows = con.execute(oracle_pairs_sql()).fetchall()
    finally:
        con.close()
    return {(int(a), int(b)): float(j) for a, b, j in rows}


def check_pairs(
    oracle: dict[tuple[int, int], float],
    exact_sources: dict[int, int],
    ids: range,
    got,
    threshold: float,
) -> list[str]:
    """One batch's near-dup pairs: every pair has est_jaccard >= the
    threshold, every planted exact copy in the batch is paired with its
    source, and the set equals the oracle's pairs whose later id is in
    the batch."""
    problems = []
    got = {(int(a), int(b)): float(j) for a, b, j in got}
    low = [p for p, j in got.items() if j < threshold]
    if low:
        problems.append(f"{len(low)} pairs below the threshold, e.g. {low[0]}")
    missing = [
        (src, d) for d, src in exact_sources.items()
        if d in ids and (min(src, d), max(src, d)) not in got
    ]
    if missing:
        problems.append(f"{len(missing)} planted exact copies not paired, e.g. {missing[0]}")
    want = {p: j for p, j in oracle.items() if p[1] in ids}
    if got != want:
        problems.append(
            f"pairs for ids {ids.start}..{ids.stop - 1}: {len(set(got) - set(want))} extra, "
            f"{len(set(want) - set(got))} missing, "
            f"{sum(1 for p in set(got) & set(want) if got[p] != want[p])} with another estimate"
        )
    return problems

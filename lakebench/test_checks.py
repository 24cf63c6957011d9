"""The output checkers accept a correct result and reject a perturbed one.

    python3 -m pytest lakebench/test_checks.py -q

No Spark session: the "program output" here is built from the generated
inputs directly, then perturbed by one point, one count, one distance,
one verdict or one pair.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import inputs  # noqa: E402

N = 2000


def _write_layout(path, pts, n_files=2):
    os.makedirs(path)
    rng = np.random.default_rng(0)
    i = rng.random(len(pts["x"]), dtype=np.float32)
    order = np.argsort(pts["x"], kind="stable")
    for f, part in enumerate(np.array_split(order, n_files)):
        cols = {c: pts[c][part] for c in inputs.POINT_COLUMNS}
        cols["i"] = i[part]
        pq.write_table(pa.table(cols), os.path.join(path, f"part-{f}.parquet"))


def test_tile_check_accepts_exact_points_and_rejects_a_dropped_point(tmp_path):
    pts = inputs.tile_points(7, 3, N)
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    _write_layout(good, pts)
    _write_layout(bad, {c: v[1:] for c, v in pts.items()})
    assert checks.check_tile(good, pts, inputs.tile_bounds(3)) == []
    assert checks.check_tile(bad, pts, inputs.tile_bounds(3))


def test_tile_check_rejects_a_moved_point_and_footers_outside_the_tile(tmp_path):
    pts = inputs.tile_points(7, 3, N)
    moved = {c: v.copy() for c, v in pts.items()}
    moved["x"][5] += inputs.SCALE
    path = str(tmp_path / "moved")
    _write_layout(path, moved)
    assert checks.check_tile(path, pts, inputs.tile_bounds(3))
    # the right points, checked against a neighbouring tile's extent
    path = str(tmp_path / "elsewhere")
    _write_layout(path, pts)
    assert any("outside tile" in p for p in checks.check_tile(path, pts, inputs.tile_bounds(4)))


def test_las_tile_header_matches_the_expected_points(tmp_path):
    from agile_lakehouse_spark.sources import las_native

    path = str(tmp_path / "t.las")
    inputs.write_las_tile(path, 7, 3, N)
    got = las_native.decode_points(path)
    want = inputs.tile_points(7, 3, N)
    for c in inputs.POINT_COLUMNS:
        np.testing.assert_array_equal(got[c], want[c])


@pytest.fixture
def oracle(tmp_path):
    src = str(tmp_path / "points.parquet")
    generated = inputs.write_point_table(src, 5, N, 200.0)
    table = str(tmp_path / "table")
    _write_layout(table, generated)
    return checks.PointOracle(generated, table)


def test_query_check_rejects_a_rectangle_count_off_by_one(oracle):
    box = {"x": (50.0, 90.0), "y": (20.0, 60.0)}
    n = oracle.answer("rect_small", box)
    assert n > 0
    assert checks.check_query(oracle, "rect_small", box, n) == []
    assert checks.check_query(oracle, "rect_small", box, n + 1)
    assert checks.check_query(oracle, "rect_small", box, n - 1)


def test_query_check_rejects_a_wrong_knn_distance(oracle):
    params = (100.0, 100.0, 25)
    d2 = oracle.answer("knn", params)
    assert checks.check_query(oracle, "knn", params, list(reversed(d2))) == []
    wrong = list(d2)
    wrong[3] += 1e-9
    assert checks.check_query(oracle, "knn", params, wrong)
    assert checks.check_query(oracle, "knn", params, d2[:-1])


def test_query_check_counts_circle_and_sample_exactly(oracle):
    circle = (100.0, 100.0, 30.0)
    n = oracle.answer("circle", circle)
    assert checks.check_query(oracle, "circle", circle, n) == []
    assert checks.check_query(oracle, "circle", circle, n + 1)
    m = oracle.answer("sample", 0.25)
    assert checks.check_query(oracle, "sample", 0.25, m) == []
    assert checks.check_query(oracle, "sample", 0.25, m - 1)


def _stream(batches=3, size=60):
    s = inputs.DocStream(9, size)
    for b in range(batches):
        s.batch(b)
    return s


def test_verdict_check_rejects_a_flipped_verdict():
    s = _stream()
    ids = range(60, 120)
    got = checks.expected_verdicts(s.texts, ids)
    assert any(not kept for _, _, kept in got)  # the stream plants copies
    assert checks.check_verdicts(s.texts, ids, got) == []
    d, k, kept = got[7]
    flipped = got[:7] + [(d, k, not kept)] + got[8:]
    assert checks.check_verdicts(s.texts, ids, flipped)


def test_pair_check_rejects_a_missing_planted_pair():
    s = _stream()
    oracle = checks.oracle_pairs(s.texts)
    ids = range(60, 120)
    planted = [(src, d) for d, src in s.exact_sources.items() if d in ids]
    assert planted
    got = [(a, b, j) for (a, b), j in oracle.items() if b in ids]
    assert checks.check_pairs(oracle, s.exact_sources, ids, got, 0.5) == []
    src, d = planted[0]
    without = [p for p in got if (p[0], p[1]) != (src, d)]
    problems = checks.check_pairs(oracle, s.exact_sources, ids, without, 0.5)
    assert any("planted exact copies" in p for p in problems)
    low = [(a, b, 0.25 if (a, b) == (src, d) else j) for a, b, j in got]
    assert checks.check_pairs(oracle, s.exact_sources, ids, low, 0.5)


def test_stream_batches_hold_unrelated_documents_and_planted_copies():
    s = _stream(batches=2, size=200)
    oracle = checks.oracle_pairs(s.texts)
    assert {(src, d) for d, src in s.exact_sources.items()} <= set(oracle)
    # the later document of every pair is a planted copy: unrelated
    # documents never pair
    copies = set(s.exact_sources) | set(s.near_sources)
    assert oracle and all(b in copies for _, b in oracle)

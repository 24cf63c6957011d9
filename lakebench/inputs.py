"""Seeded input generators.

Everything here depends only on numpy, pyarrow and the seed: the program
under test receives the files and DataFrames built from these values and
never computes its own inputs.

- LAS tiles are written from integer grid coordinates with a power-of-two
  scale, so every decoded coordinate is an exactly representable double
  and the expected points are known bit for bit.
- The point table for the query workload is written as a plain Parquet
  file of the same columns the LAS source yields.
- The document stream draws every word afresh from 26^8 letter strings, so
  unrelated documents share (almost) no 5-character shingles. Exact copies
  and near-copies are planted on purpose, within a batch and across
  batches.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 1.0 / 128.0  # grid step of the LAS tiles; exact in binary
TILE_SIDE_M = 400.0  # tile edge in metres
Z_SPAN_M = 60.0
LAS_HEADER_SIZE = 227  # LAS 1.2, point format 0, no VLRs
LAS_RECORD = np.dtype(
    [
        ("X", "<i4"), ("Y", "<i4"), ("Z", "<i4"), ("intensity", "<u2"),
        ("flags", "u1"), ("classification", "u1"), ("scan_angle", "i1"),
        ("user_data", "u1"), ("point_source_id", "<u2"),
    ]
)
POINT_COLUMNS = ("x", "y", "z", "intensity", "classification")


def tile_origin(index: int) -> tuple[float, float]:
    """Tiles sit on a row of 16 and then wrap, one tile edge apart."""
    return (index % 16) * TILE_SIDE_M, (index // 16) * TILE_SIDE_M


def _grid_points(rng: np.random.Generator, n: int, side_m: float) -> dict[str, np.ndarray]:
    """Integer grid coordinates in [0, side) plus LAS attributes."""
    cells = int(side_m / SCALE)
    return {
        "X": rng.integers(0, cells, n, dtype=np.int32),
        "Y": rng.integers(0, cells, n, dtype=np.int32),
        "Z": rng.integers(0, int(Z_SPAN_M / SCALE), n, dtype=np.int32),
        "intensity": rng.integers(0, 65536, n, dtype=np.int32),
        "classification": rng.integers(0, 32, n, dtype=np.int32),
    }


def _decoded(g: dict[str, np.ndarray], ox: float, oy: float) -> dict[str, np.ndarray]:
    """The coordinates a correct LAS reader returns: grid * scale + offset."""
    return {
        "x": g["X"] * SCALE + ox,
        "y": g["Y"] * SCALE + oy,
        "z": g["Z"] * SCALE,
        "intensity": g["intensity"],
        "classification": g["classification"],
    }


def _tile_grid(seed: int, index: int, n_points: int) -> dict[str, np.ndarray]:
    return _grid_points(np.random.default_rng([seed, 1, index]), n_points, TILE_SIDE_M)


def tile_points(seed: int, index: int, n_points: int) -> dict[str, np.ndarray]:
    """Expected decoded columns of tile ``index`` of stream ``seed``."""
    return _decoded(_tile_grid(seed, index, n_points), *tile_origin(index))


def write_las_tile(path: str, seed: int, index: int, n_points: int) -> None:
    """Write tile ``index`` of stream ``seed`` as an uncompressed LAS 1.2
    file (point format 0)."""
    g = _tile_grid(seed, index, n_points)
    ox, oy = tile_origin(index)
    rec = np.zeros(n_points, dtype=LAS_RECORD)
    for c in ("X", "Y", "Z", "intensity", "classification"):
        rec[c] = g[c]
    rec["flags"] = 0x09  # return 1 of 1
    pts = _decoded(g, ox, oy)
    hdr = bytearray(LAS_HEADER_SIZE)
    hdr[0:4] = b"LASF"
    hdr[24], hdr[25] = 1, 2
    struct.pack_into("<H", hdr, 94, LAS_HEADER_SIZE)
    struct.pack_into("<I", hdr, 96, LAS_HEADER_SIZE)
    hdr[104] = 0
    struct.pack_into("<H", hdr, 105, LAS_RECORD.itemsize)
    struct.pack_into("<I", hdr, 107, n_points)
    struct.pack_into("<I", hdr, 111, n_points)
    struct.pack_into("<6d", hdr, 131, SCALE, SCALE, SCALE, ox, oy, 0.0)
    struct.pack_into(
        "<6d", hdr, 179,
        pts["x"].max(), pts["x"].min(), pts["y"].max(), pts["y"].min(),
        pts["z"].max(), pts["z"].min(),
    )
    with open(path, "wb") as f:
        f.write(hdr)
        f.write(rec.tobytes())


def tile_bounds(index: int) -> tuple[float, float, float, float]:
    """Half-open x/y extent [x0, x1) x [y0, y1) of tile ``index``."""
    ox, oy = tile_origin(index)
    return ox, ox + TILE_SIDE_M, oy, oy + TILE_SIDE_M


def write_point_table(path: str, seed: int, n_points: int, side_m: float) -> dict[str, np.ndarray]:
    """A square point set of edge ``side_m`` as one Parquet file with the
    LAS source's schema; returns the columns written."""
    rng = np.random.default_rng([seed, 2])
    pts = _decoded(_grid_points(rng, n_points, side_m), 0.0, 0.0)
    pq.write_table(
        pa.table({c: pts[c] for c in POINT_COLUMNS}), path, row_group_size=1 << 20
    )
    return pts


# --- query mix ---------------------------------------------------------------

# one round of the reference's query mix (pc-cli/src/benchmark.rs:95-265,
# as bench.py's w_* entries run it): 70 m and 220 m rectangles, circles of
# r = 25 m and 100 m, exact kNN with k = 1000 and 5000, and importance
# sampling at p = 0.05, 0.25 and 0.35, one query of each per round.
# Rectangles and circles prune to a few files; kNN and sampling read every
# file.
QUERY_ROUND = (
    ("rect_small", 70.0), ("rect_medium", 220.0), ("circle", 25.0), ("circle", 100.0),
    ("knn", 1000), ("knn", 5000), ("sample", 0.05), ("sample", 0.25), ("sample", 0.35),
)
QUERY_KINDS = ("rect_small", "rect_medium", "circle", "knn", "sample")


def query_stream(seed: int, side_m: float):
    """Endless list of (kind, params) queries over a square table: the
    round above, repeated, with seeded positions.

    Corners and centres are multiples of the LAS grid step, so the
    half-open and strict-circle predicates have exact expected counts.
    """
    rng = np.random.default_rng([seed, 3])
    margin = max(size for kind, size in QUERY_ROUND if kind == "rect_medium")

    def at():
        return float(np.round(rng.uniform(margin, side_m - margin) / SCALE) * SCALE)

    while True:
        for kind, size in QUERY_ROUND:
            if kind in ("rect_small", "rect_medium"):
                x0, y0 = at(), at()
                yield kind, {"x": (x0, x0 + size), "y": (y0, y0 + size)}
            elif kind in ("circle", "knn"):
                yield kind, (at(), at(), size)
            else:
                yield kind, size


# --- document stream ---------------------------------------------------------

WORDS_PER_DOC = 40
WORD_LEN = 8
EXACT_COPY_SHARE = 0.04  # of each batch: verbatim copies of an earlier doc
NEAR_COPY_SHARE = 0.04  # of each batch: an earlier doc with two words swapped out
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def _fresh_words(rng: np.random.Generator, n: int) -> list[str]:
    codes = _LETTERS[rng.integers(0, 26, (n, WORD_LEN))]
    return [bytes(row).decode() for row in codes]


class DocStream:
    """Endless seeded stream of (doc_id, text) batches with planted copies.

    Batch ``b`` holds ids ``b * size .. b * size + size - 1`` (ids rise
    along the stream). A copy's source is any earlier document, in the
    same batch or an earlier one, so planted pairs fall both within and
    across batches. ``exact_sources`` and ``near_sources`` map every
    planted copy to the document it copies.
    """

    def __init__(self, seed: int, batch_size: int):
        self.seed = seed
        self.size = batch_size
        self.texts: list[str] = []
        self.exact_sources: dict[int, int] = {}
        self.near_sources: dict[int, int] = {}

    def batch(self, b: int) -> list[tuple[int, str]]:
        if b * self.size != len(self.texts):
            raise ValueError("batches must be drawn in order")
        rng = np.random.default_rng([self.seed, 4, b])
        out = []
        for j in range(self.size):
            doc_id = b * self.size + j
            u = rng.random()
            if doc_id and u < EXACT_COPY_SHARE:
                src = int(rng.integers(0, doc_id))
                text = self.texts[src]
                self.exact_sources[doc_id] = src
            elif doc_id and u < EXACT_COPY_SHARE + NEAR_COPY_SHARE:
                src = int(rng.integers(0, doc_id))
                words = self.texts[src].split(" ")
                for pos, w in zip(rng.choice(len(words), 2, replace=False), _fresh_words(rng, 2)):
                    words[pos] = w
                text = " ".join(words)
                self.near_sources[doc_id] = src
            else:
                text = " ".join(_fresh_words(rng, WORDS_PER_DOC))
            self.texts.append(text)
            out.append((doc_id, text))
        return out

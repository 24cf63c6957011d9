"""The three workloads: seeded inputs, one timed operation, checks, metrics.

Each workload drives the package only through its public functions. An
operation is timed on its own; its output is kept and checked after the
timed loop. In a traced run every call into a layer runs in its own span
(see ``spans.py``), and ``layer_metrics`` turns the spans into the
per-layer figures.
"""

from __future__ import annotations

import json
import os

import checks
import inputs
from spans import median

# pc_ingest: one tile per op (one 524,288-point LAS chunk, so one scan task)
TILE_POINTS = 500_000
WARM_TILES = 1
GRID_M = 100.0  # grid-layout cell edge, both workloads
# pc_query: the table whose set-up still fits the run budget; kNN costs
# about 2x a pruned rectangle on it (README.md)
QUERY_POINTS = 4_000_000
QUERY_SIDE_M = 2000.0
# dedup_stream
BATCH_DOCS = 250  # the cost is mostly per job, not per document
# the first batch meets empty stores and skips the store probes, so the
# warm-up feeds two batches before timing starts
WARM_BATCHES = 2
SHINGLE_K = 5
MINHASH_T = 0.5


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def data_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in checks.layout_files(path))


class Workload:
    """One workload on one Spark session. Ops run in whole rounds of
    ``round_ops``, so every run attempts the same mix of ops."""

    name = ""
    round_ops = 1

    def __init__(self, spark, tracer, workdir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.dir = os.path.join(workdir, self.name)
        os.makedirs(self.dir)
        self.seed = seed
        self.times: list[float] = []  # seconds per timed op

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int):
        """Run op ``i`` (0-based); return the timed seconds."""
        raise NotImplementedError

    def check(self) -> list[list[str]]:
        """Problems per completed op, in op order."""
        raise NotImplementedError

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        raise NotImplementedError

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        raise NotImplementedError

    def _latency(self) -> dict[str, tuple[float, str]]:
        # the median alone: no run holds enough ops for a tail (README.md)
        return {"op_p50_ms": (median([t * 1000.0 for t in self.times]), "ms")}


class PcIngest(Workload):
    """LAS tile -> importance -> grid layout, one tile per op."""

    name = "pc_ingest"

    def setup(self):
        from agile_lakehouse_spark.sources.las_datasource import LasDataSource

        self.spark.dataSource.register(LasDataSource)
        self.done: list[int] = []
        # warm-up: JIT, codegen and Python workers
        self.warm = WARM_TILES
        for i in range(-self.warm, 0):
            self._tile(i)
            self._ingest(i)

    def _paths(self, i):
        return os.path.join(self.dir, f"tile{i + 1}.las"), os.path.join(self.dir, f"layout{i + 1}")

    def _tile(self, i):
        inputs.write_las_tile(self._paths(i)[0], self.seed, i + 1, TILE_POINTS)

    def _ingest(self, i):
        from agile_lakehouse_spark.plans import layout
        from agile_lakehouse_spark.schema import add_importance

        las, out = self._paths(i)
        with self.tracer.span("plans.layout"):
            df = add_importance(self.spark.read.format("las").load(las))
            layout.write_grid_layout(df, out, GRID_M, GRID_M)

    def op(self, i):
        self._tile(i)
        if self.tracer.enabled:
            with self.tracer.span("sources.scan"):
                self.spark.read.format("las").load(self._paths(i)[0]).write.format(
                    "noop"
                ).mode("overwrite").save()
        with self.tracer.span("op") as s:
            self._ingest(i)
        self.done.append(i)
        return s.wall_s

    def check(self):
        return [
            checks.check_tile(
                self._paths(i)[1],
                inputs.tile_points(self.seed, i + 1, TILE_POINTS),
                inputs.tile_bounds(i + 1),
            )
            for i in self.done
        ]

    def _layout_bytes(self):
        return sum(data_bytes(self._paths(i)[1]) for i in self.done)

    def end_to_end(self):
        pts = TILE_POINTS * len(self.done)
        return {
            **self._latency(),
            "items_per_s": (pts / sum(self.times), "1/s"),
            "stored_bytes_per_item": (self._layout_bytes() / pts, "B"),
        }

    def layer_metrics(self):
        t = self.tracer
        scans = t.by_layer("sources.scan")
        writes = t.by_layer("plans.layout")[self.warm:]
        n = TILE_POINTS
        return {
            "sources.las_scan_pts_per_s": (n / median([s.wall_s for s in scans]), "1/s"),
            "sources.decode_passes": (median([s.input_records / n for s in writes]), "ratio"),
            "sources.scan_tasks_per_tile": (median([s.max_stage_tasks for s in scans]), "count"),
            "plans.layout.write_s": (median([s.wall_s for s in writes]), "s"),
            "plans.layout.jobs": (median([s.jobs for s in writes]), "count"),
            "plans.layout.stages": (median([s.stages for s in writes]), "count"),
            "plans.layout.tasks": (median([s.tasks for s in writes]), "count"),
            "plans.layout.executor_run_s": (median([s.executor_run_s for s in writes]), "s"),
            "plans.layout.executor_busy": (t.busy(writes), "ratio"),
            "plans.layout.shuffle_write_bytes_per_point": (
                median([s.shuffle_write_bytes / n for s in writes]), "B",
            ),
            "plans.layout.files_per_tile": (
                median([len(checks.layout_files(self._paths(i)[1])) for i in self.done]), "count",
            ),
        }


class PcQuery(Workload):
    """A seeded mix of rectangle, circle, kNN and sampling queries against
    a grid-laid-out table built in setup."""

    name = "pc_query"
    round_ops = len(inputs.QUERY_ROUND)

    def setup(self):
        from agile_lakehouse_spark.plans import layout
        from agile_lakehouse_spark.schema import add_importance

        src = os.path.join(self.dir, "points.parquet")
        self.table_path = os.path.join(self.dir, "grid")
        self.generated = inputs.write_point_table(src, self.seed, QUERY_POINTS, QUERY_SIDE_M)
        layout.write_grid_layout(
            add_importance(self.spark.read.parquet(src)), self.table_path, GRID_M, GRID_M
        )
        self.table = self.spark.read.parquet(self.table_path)
        self.stream = inputs.query_stream(self.seed, QUERY_SIDE_M)
        self.results: list[tuple[str, object, object]] = []
        warm = inputs.query_stream(self.seed + 1_000_003, QUERY_SIDE_M)
        for _ in range(self.round_ops):  # warm-up: one untimed round
            self._run(*next(warm))

    def _build(self, kind, params):
        from pyspark.sql import functions as F

        from agile_lakehouse_spark.operators import pointcloud as pc

        t = self.table
        if kind in ("rect_small", "rect_medium"):
            q = pc.range_query(t, params)
        elif kind == "circle":
            q = pc.circle_query(t, *params)
        elif kind == "knn":
            cx, cy, k = params
            # kNN breaks distance ties by an id column; any column serves,
            # the check compares the distance multiset
            return pc.knn(t, cx, cy, k, id_col="intensity").select("dist2")
        else:
            q = pc.sample(t, p=params)
        return q.agg(F.count(F.lit(1)))

    def _run(self, kind, params):
        tr = self.tracer
        with tr.span("op", kind=kind) as s:
            with tr.span("operators.pointcloud.plan", kind=kind):
                df = self._build(kind, params)
                if tr.enabled:
                    df._jdf.queryExecution().executedPlan()
            with tr.span("operators.pointcloud.exec", kind=kind) as e:
                rows = df.collect()
        out = [r[0] for r in rows] if kind == "knn" else int(rows[0][0])
        e.attrs["returned"] = len(out) if kind == "knn" else out
        return s.wall_s, out

    def op(self, i):
        kind, params = next(self.stream)
        dt, out = self._run(kind, params)
        self.results.append((kind, params, out))
        return dt

    def check(self):
        oracle = checks.PointOracle(self.generated, self.table_path)
        return [checks.check_query(oracle, k, p, out) for k, p, out in self.results]

    def end_to_end(self):
        return {
            **self._latency(),
            "items_per_s": (len(self.times) / sum(self.times), "1/s"),
            "stored_bytes_per_item": (data_bytes(self.table_path) / len(self.generated["x"]), "B"),
        }

    def layer_metrics(self):
        t = self.tracer
        n_warm = self.round_ops
        ops = t.by_layer("op")[n_warm:]
        plans = t.by_layer("operators.pointcloud.plan")[n_warm:]
        execs = t.by_layer("operators.pointcloud.exec")[n_warm:]
        out = {}
        for kind in inputs.QUERY_KINDS:
            ms = [s.wall_s * 1000.0 for s in ops if s.attrs["kind"] == kind]
            out[f"operators.pointcloud.{kind}_p50_ms"] = (median(ms), "ms")
        pruned = [s for s in execs if s.attrs["kind"] in ("rect_small", "rect_medium", "circle")]
        both = list(zip(plans, execs))
        out.update({
            "operators.pointcloud.plan_ms": (median([p.wall_s * 1000.0 for p in plans]), "ms"),
            "operators.pointcloud.jobs_per_query": (median([p.jobs + e.jobs for p, e in both]), "count"),
            "operators.pointcloud.stages_per_query": (
                median([p.stages + e.stages for p, e in both]), "count",
            ),
            "operators.pointcloud.tasks_per_query": (
                median([p.tasks + e.tasks for p, e in both]), "count",
            ),
            "operators.pointcloud.rows_scanned_per_row_returned": (
                sum(s.input_records for s in pruned)
                / max(1, sum(s.attrs["returned"] for s in pruned)),
                "ratio",
            ),
            "operators.pointcloud.executor_busy": (t.busy(plans + execs, ops), "ratio"),
        })
        return out


class DedupStream(Workload):
    """Fixed-size document batches through the exact and MinHash
    store-backed incremental dedup, both stores growing every batch."""

    name = "dedup_stream"
    # later batches meet bigger stores and run slower, so every run should
    # time the same batches: --seconds 20 fits one round of two while a
    # batch takes 5 s or more
    round_ops = 2
    STORES = ("exact/state", "minhash/sigs")

    def setup(self):
        self.stream = inputs.DocStream(self.seed, BATCH_DOCS)
        self.store = os.path.join(self.dir, "stores")
        self.results: list[tuple[range, list, list]] = []
        # (store files, log bytes, store bytes) after each batch
        self.after: list[tuple[int, int, int]] = []
        # warm-up: the stream's first batches
        self.warm = WARM_BATCHES
        for b in range(self.warm):
            self._batch(b)

    def _batch(self, b):
        from agile_lakehouse_spark.operators import dedup

        docs = self.stream.batch(b)
        df = self.spark.createDataFrame(docs, "doc_id bigint, text string")
        caches: list = []
        tr = self.tracer
        with tr.span("op") as s:
            with tr.span("operators.dedup.exact"):
                verdicts = dedup.exact_dedup_store_backed_update(
                    self.spark, df, os.path.join(self.store, "exact"), caches=caches
                ).collect()
            with tr.span("operators.dedup.minhash") as m:
                pairs = dedup.minhash_store_backed_update(
                    self.spark, df, os.path.join(self.store, "minhash"),
                    k=SHINGLE_K, threshold=MINHASH_T, caches=caches,
                ).collect()
        for c in caches:
            c.unpersist()
        m.attrs["pairs"] = len(pairs)
        ids = range(docs[0][0], docs[-1][0] + 1)
        self.results.append((ids, verdicts, pairs))
        self.after.append(self._store_state())
        return s.wall_s

    def _store_state(self):
        files = log = 0
        for sub in self.STORES:
            log_dir = os.path.join(self.store, sub, "_log")
            manifests = sorted(f for f in os.listdir(log_dir) if f.endswith(".json"))
            with open(os.path.join(log_dir, manifests[-1])) as f:
                files += len(json.load(f)["files"])
            log += tree_bytes(log_dir)
        return files, log, tree_bytes(self.store)

    def op(self, i):
        return self._batch(i + self.warm)

    def check(self):
        texts = self.stream.texts
        oracle = checks.oracle_pairs(texts)
        return [
            checks.check_verdicts(texts, ids, verdicts)
            + checks.check_pairs(oracle, self.stream.exact_sources, ids, pairs, MINHASH_T)
            for ids, verdicts, pairs in self.results[self.warm:]
        ]

    def end_to_end(self):
        docs = BATCH_DOCS * len(self.times)
        # the stores after the first timed batch, so that the figure does
        # not depend on how many batches a run fits
        fed = BATCH_DOCS * (self.warm + 1)
        return {
            **self._latency(),
            "items_per_s": (docs / sum(self.times), "1/s"),
            "stored_bytes_per_item": (self.after[self.warm][2] / fed, "B"),
        }

    def layer_metrics(self):
        t = self.tracer
        w = self.warm
        ex = t.by_layer("operators.dedup.exact")[w:]
        mh = t.by_layer("operators.dedup.minhash")[w:]
        ops = t.by_layer("op")[w:]
        n = BATCH_DOCS
        both = list(zip(ex, mh))
        after = self.after[w:]
        return {
            "operators.dedup.exact_update_s": (median([s.wall_s for s in ex]), "s"),
            "operators.dedup.minhash_update_s": (median([s.wall_s for s in mh]), "s"),
            "operators.dedup.exact_jobs_per_batch": (median([s.jobs for s in ex]), "count"),
            "operators.dedup.minhash_jobs_per_batch": (median([s.jobs for s in mh]), "count"),
            "operators.dedup.stages_per_batch": (median([e.stages + m.stages for e, m in both]), "count"),
            "operators.dedup.shuffle_write_bytes_per_doc": (
                median([(e.shuffle_write_bytes + m.shuffle_write_bytes) / n for e, m in both]), "B",
            ),
            "operators.dedup.executor_busy": (t.busy(ex + mh, ops), "ratio"),
            "operators.dedup.pairs_per_batch": (median([m.attrs["pairs"] for m in mh]), "count"),
            "plans.snapshots.store_rows_read_per_batch_doc": (
                median([(e.input_records + m.input_records) / n for e, m in both]), "ratio",
            ),
            "plans.snapshots.store_files": (median([f for f, _, _ in after]), "count"),
            "plans.snapshots.log_bytes": (median([b for _, b, _ in after]), "B"),
        }


WORKLOADS = {w.name: w for w in (PcIngest, PcQuery, DedupStream)}

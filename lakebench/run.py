"""Lakehouse benchmark: LAS ingest, spatial queries and incremental dedup.

    python3 lakebench/run.py --workload pc_query --seed 1 --seconds 15 --trace 0

One process, one Spark session of ``local[<usable cores>]``, one
closed-loop client: the next operation starts when the previous one has
returned. After set-up (JVM start, input generation, table build, warm-up)
the client runs operations for ``--seconds``, then checks every output
against an independent computation and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps every
call into a layer in its own Spark job group and reports the per-layer
metrics of BENCHMARK.json instead (see README.md). All inputs, Spark local
dirs and temporary files live in a per-run directory under
``.lakebench_run/`` at the repository root, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "agile_lakehouse_spark"


def log(msg: str) -> None:
    print(f"lakebench: {msg}", file=sys.stderr, flush=True)


def declared_metrics(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def isolate(tmp: str, cores: int) -> None:
    """Point every temporary path of this process, the JVM and the Python
    workers at ``tmp``, and let workers import the package from any
    working directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # no hsperfdata files in /tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(tmp: str, cores: int):
    from agile_lakehouse_spark import get_session

    spark = get_session(
        "lakebench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.driver.memory": "3g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Py4JError:  # a terminated run can lose the gateway mid-call
        log("Spark did not stop cleanly; waiting for the JVM to exit")
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run_ops(w, seconds: float | None, rounds: int | None) -> tuple[int, int]:
    """Closed loop: ops back to back in whole rounds of ``w.round_ops``,
    ``rounds`` of them, or for ``seconds``: after the first round, the
    next one starts only if a round of the median length so far still
    ends within ``seconds``, so a run never overshoots by most of a round.
    Returns (attempted, raised)."""
    from spans import median

    attempted = raised = 0
    lengths = []
    start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        for _ in range(w.round_ops):
            try:
                w.times.append(w.op(attempted))
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                raised += 1
                log(f"{w.name} op {attempted} failed:\n{traceback.format_exc()}")
            attempted += 1
        now = time.perf_counter()
        lengths.append(now - t0)
        if rounds is not None:
            if len(lengths) >= rounds:
                return attempted, raised
        elif now - start + median(lengths) > seconds:
            return attempted, raised


def cpu_steal() -> tuple[int, int] | None:
    """(steal, total) jiffies of the machine so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (ticks[7], sum(ticks)) if len(ticks) > 7 else None


def checked_failures(w) -> int:
    bad = 0
    for i, problems in enumerate(w.check()):
        if problems:
            bad += 1
            log(f"{w.name} op {i} output is wrong: {'; '.join(problems)}")
    return bad


def run(args, tmp: str) -> dict:
    t0 = time.perf_counter()
    from spans import Tracer, median
    from workloads import WORKLOADS

    spark = start_session(tmp, len(os.sched_getaffinity(0)))
    try:
        w = WORKLOADS[args.workload](spark, Tracer(spark, bool(args.trace)), tmp, args.seed)
        w.setup()
        setup_s = time.perf_counter() - t0
        log(f"{args.workload}: set up in {setup_s:.2f} s, measuring for {args.seconds} s")
        steal0 = cpu_steal()
        attempted, raised = run_ops(w, args.seconds, None)
        steal1 = cpu_steal()
        wrong = checked_failures(w)
        log(f"{args.workload}: {attempted} ops, {raised} raised, {wrong} wrong")
        if steal0 and steal1 and steal1[1] > steal0[1]:
            # time the hypervisor gave to other machines: the main source
            # of run-to-run spread on a shared host
            share = (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
            log(f"{args.workload}: CPU steal during the timed loop {share:.1%}")
        if args.trace:
            metrics = {"trace.op_p50_ms": (median([t * 1000.0 for t in w.times]), "ms")}
            metrics.update(w.layer_metrics())
            # the other workloads, set up as declared, one timed round
            # each, so that each traced run reports every layer
            for name, cls in WORKLOADS.items():
                if name == args.workload:
                    continue
                p = cls(spark, Tracer(spark, True), tmp, args.seed)
                p.setup()
                _, p_raised = run_ops(p, None, 1)
                wrong += checked_failures(p) + p_raised
                metrics.update(p.layer_metrics())
        else:
            metrics = {"setup_s": (setup_s, "s"), **w.end_to_end()}
    finally:
        stop_session(spark)
    return {
        "correct": wrong == 0,
        "attempted": attempted,
        "failed": raised + wrong,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["pc_ingest", "pc_query", "dedup_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ package next to {os.path.basename(HERE)}/; nothing to measure")
        return 2
    expected = declared_metrics(bool(args.trace))
    work_root = os.path.join(ROOT, ".lakebench_run")
    os.makedirs(work_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=work_root)
    try:
        isolate(tmp, len(os.sched_getaffinity(0)))
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass  # another run still uses it
    got = {k: m["unit"] for k, m in result["metrics"].items()}
    if got != expected:
        log(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(expected))} "
            f"or units {[(k, got[k], expected[k]) for k in got if k in expected and got[k] != expected[k]]}")
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

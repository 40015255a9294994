#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload codex_maintain --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see each module's docstring):

  * ``codex_maintain`` (``codex_workload.py``): the CODEX product built and
    bootstrapped, then maintained by add / remove / metadata-refresh
    batches interleaved with consumer reads and h5mu exports.
  * ``registry_sf0.1`` (``registry_workload.py``): a pinned list of
    registered queries over seeded sf0.1 tables, forced to the noop sink;
    it bypasses every CODEX layer.

Set-up (session start, input generation, the bootstrap build or the
warm-up pass) is timed as ``setup_s``; then whole cycles of the
workload's op mix run until ``--seconds`` have passed (and at least the
workload's minimum number of cycles). End-to-end metrics, the same on
every workload: ``setup_s``; ``cycle_s``, one pass of the op mix (the sum
over op kinds of each kind's median time); ``read_s``, the mean over the
read-only op kinds of each kind's median time. With ``--trace 0``
nothing is traced and the end-to-end metrics are printed; with
``--trace 1`` every call into a layer is a span (``spans.py``), the
tracing overhead is measured against the same work untraced, and the
per-layer metrics are printed. Each metric is printed on its own line
with its unit; the last line of standard output is one JSON object.

Everything the run writes goes under ``.perfbench/`` in the checkout: a
scratch directory removed at exit, and the span dump of a traced run.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

WORKLOADS = {
    "codex_maintain": "codex_workload",
    "registry_sf0.1": "registry_workload",
}

END_TO_END = {"setup_s": "s", "cycle_s": "s", "read_s": "s"}

# layers whose spans start Spark jobs: time plus the Spark counters
SPARK_LAYERS = (
    "sources.hdf5.decode",
    "sources.aux_read",
    "plans.codex_pipeline.plan",
    "plans.codex_pipeline.state",
    "plans.codex_pipeline.write",
    "plans.codex_pipeline.wide_matrix",
    "plans.codex_pipeline.export_rest",
    "plans.codex_pipeline.read",
    "streaming.product_ivm.add",
    "streaming.product_ivm.remove",
    "streaming.product_ivm.refresh",
    "streaming.product_ivm.expire",
    "queries",
)
COUNTER_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "task_busy_s": "s", "shuffle_write_mb": "MB", "input_mb": "MB",
}
EXTRA_LAYER_METRICS = {
    "session.get_spark_s": "s",
    "functions.antibodies_s": "s",
    "sources.hdf5.rows": "count",
    "plans.codex_pipeline.read_files": "count",
    "streaming.product_ivm.bytes_written_per_added_byte": "B/B",
    "spark.spill_mb": "MB",
    "spark.failed_tasks": "count",
    "trace.overhead_pct": "%",
}


def per_layer_units() -> dict[str, str]:
    from registry_workload import QUERIES

    units = {}
    for layer in SPARK_LAYERS:
        units[f"{layer}_s"] = "s"
        units.update({f"{layer}.{c}": u for c, u in COUNTER_UNITS.items()})
    units.update(EXTRA_LAYER_METRICS)
    for module in sorted(set(QUERIES.values())):
        units[f"queries.{module}_s"] = "s"
    return units


class Op:
    """One timed operation: only the calls inside ``timing()`` count."""

    def __init__(self, kind: str, traced: bool) -> None:
        self.kind, self.traced = kind, traced
        self.s = 0.0
        self.problem: str | None = None

    @contextmanager
    def timing(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.s += time.perf_counter() - t

    def fail(self, why: str) -> None:
        self.problem = self.problem or why


class Context:
    """What a workload gets: the session, the tracer, the seeded RNG, a
    scratch directory, and the op recorder and measurement loop."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str, t0: float):
        import numpy as np

        self.spark, self.tracer = spark, tracer
        self.seed, self.seconds, self.work = seed, seconds, work
        self.rng = np.random.default_rng(seed)
        self.t0 = t0
        self.ops: list[Op] = []
        self.setup_s = 0.0
        self.cycles = 0
        self.overhead_pct: float | None = None

    @contextmanager
    def op(self, kind: str):
        """Record one op; an exception inside fails it and is reported
        on stderr, and the loop goes on."""
        rec = Op(kind, self.tracer.enabled)
        self.tracer.op = f"{kind}#{len(self.ops)}"
        try:
            yield rec
        except Exception as exc:  # noqa: BLE001 - a failed op is a result
            traceback.print_exc(file=sys.stderr)
            rec.fail(f"{kind}: {exc!r}"[:300])
        finally:
            self.tracer.op = None
            self.ops.append(rec)

    def fail_ops(self, kinds, why: str) -> None:
        for rec in self.ops:
            if rec.kind in kinds:
                rec.fail(why)

    def measure(self, cycle, baseline: bool = True, min_cycles: int = 1) -> None:
        """End set-up, then run whole cycles for ``seconds``, and at least
        ``min_cycles`` of them. With
        ``baseline``, a traced run runs every cycle twice, untraced and
        traced in alternating order, and the tracing overhead is the
        difference; a workload that measures its overhead another way
        sets ``overhead_pct`` itself."""
        self.setup_s = time.perf_counter() - self.t0
        traced = self.tracer.enabled
        passes = [traced]
        if traced and baseline:
            passes = [False, True]
        start = time.perf_counter()
        while self.cycles < min_cycles or time.perf_counter() - start < self.seconds:
            for enabled in passes[:: 1 if self.cycles % 2 == 0 else -1]:
                self.tracer.enabled = enabled
                cycle(self.cycles)
            self.cycles += 1
        self.tracer.enabled = traced


def pin_environment(work: str) -> dict:
    """Fix everything the session reads from the environment, so runs
    compare across machines and shells: the master from the CPUs this
    process may use, a driver heap well below physical memory, the repo
    on the Python workers' path, and all scratch inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    for var in ("SPARK_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_CONF_DIR"):
        os.environ.pop(var, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, mem_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job and stage back at exit
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def kind_medians(ops) -> dict[str, float]:
    """Median time per op kind."""
    by_kind = defaultdict(list)
    for o in ops:
        by_kind[o.kind].append(o.s)
    return {k: statistics.median(v) for k, v in by_kind.items()}


def end_to_end(ctx: Context, reads) -> dict[str, float]:
    """``cycle_s``: one pass of the op mix, the sum over op kinds of the
    kind's median time. ``read_s``: the mean over read kinds of the kind's
    median time."""
    medians = kind_medians(ctx.ops)
    return {
        "setup_s": ctx.setup_s,
        "cycle_s": sum(medians.values()),
        "read_s": statistics.mean(medians[k] for k in reads),
    }


def per_layer(ctx: Context, session_s: float) -> dict[str, float]:
    from spans import COUNTERS

    tr = ctx.tracer
    totals = tr.attach_counters()
    layers = tr.layer_medians()
    zero = defaultdict(float)
    export, wide = layers.get("plans.codex_pipeline.export", zero), layers.get(
        "plans.codex_pipeline.wide_matrix", zero
    )
    layers["plans.codex_pipeline.export_rest"] = {
        k: export[k] - wide[k] for k in ("s", *COUNTERS)
    }
    queries = defaultdict(float)
    for name, layer in list(layers.items()):
        if name.startswith("queries."):
            for k in ("s", *COUNTERS):
                queries[k] += layer[k]
    layers["queries"] = queries

    m: dict[str, float] = {}
    for name in SPARK_LAYERS:
        layer = layers.get(name, zero)
        m[f"{name}_s"] = layer["s"]
        m.update({f"{name}.{c}": layer[c] for c in COUNTERS})
    for name, layer in layers.items():
        if name.startswith("queries.") or name == "functions.antibodies":
            m[f"{name}_s"] = layer["s"]
    m["session.get_spark_s"] = session_s
    m["sources.hdf5.rows"] = layers.get("sources.hdf5.decode", zero)["rows"]
    m["plans.codex_pipeline.read_files"] = layers.get(
        "plans.codex_pipeline.read", zero
    )["read_files"]
    m["streaming.product_ivm.bytes_written_per_added_byte"] = layers.get(
        "streaming.product_ivm.add", zero
    )["bytes_written_per_added_byte"]
    m["spark.spill_mb"] = totals["spill_mb"]
    m["spark.failed_tasks"] = totals["failed_tasks"]

    if ctx.overhead_pct is None:
        base = sum(kind_medians(o for o in ctx.ops if not o.traced).values())
        traced = sum(kind_medians(o for o in ctx.ops if o.traced).values())
        ctx.overhead_pct = 100.0 * (traced / base - 1)
    m["trace.overhead_pct"] = ctx.overhead_pct
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its scratch (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t0 = time.perf_counter()
    work = os.path.join(OUT, f"run-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        extra_conf = pin_environment(work)
        sys.path.insert(0, ROOT)
        from codex_data_products_spark.session import get_spark

        from spans import Tracer

        workload = importlib.import_module(WORKLOADS[args.workload])
        s0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra_conf)
        session_s = time.perf_counter() - s0
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        print(
            f"env master={sc.master} defaultParallelism={sc.defaultParallelism} "
            f"shuffle.partitions={spark.conf.get('spark.sql.shuffle.partitions')} "
            f"driver.memory={spark.conf.get('spark.driver.memory')} "
            f"workload={args.workload} seed={args.seed} trace={args.trace}",
            flush=True,
        )
        ctx = Context(spark, Tracer(spark, bool(args.trace)), args.seed, args.seconds, work, t0)
        result = workload.run(ctx)

        if args.trace:
            metrics = per_layer(ctx, session_s)
            units = per_layer_units()
            os.makedirs(OUT, exist_ok=True)
            ctx.tracer.dump(
                os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
            )
        else:
            metrics = end_to_end(ctx, result["reads"])
            units = END_TO_END
        measured = [o for o in ctx.ops if o.traced == bool(args.trace)]
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    failed = sum(o.problem is not None for o in measured)
    samples = Counter(o.kind for o in measured)
    for kind, median in sorted(kind_medians(measured).items()):
        print(f"op {kind}: median {median:.4f} s over {samples[kind]} samples")
    for name, value in sorted(result["info"].items()):
        print(f"info {name} = {value:.6g}")
    for p in result["problems"] + [o.problem for o in measured if o.problem]:
        print(f"FAILED {p}")
    print(f"metric error_rate = {failed / len(measured):.4f} ratio "
          f"({failed} of {len(measured)} ops, {ctx.cycles} cycles)")
    for name in units:
        print(f"metric {name} = {metrics.get(name, 0.0):.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0 and not result["problems"],
        "attempted": len(measured),
        "failed": failed,
        "metrics": {
            name: {"value": metrics.get(name, 0.0), "unit": unit}
            for name, unit in units.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Seeded end-to-end benchmark of the jsonschema_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload small_requests --seed 1 --seconds 8 --trace 0

One driver process runs Spark at ``local[<cores>]`` with one client issuing
operations in a closed loop. The run generates its inputs from ``--seed``
(untimed), sets up ``SETUPS`` times (session start through the warm-up
operation; the first set-up also launches the JVM and is followed by the
workload's untimed warm-up period) and reports the median,
runs operations until they have taken ``--seconds``, checks every output
against the oracles and prints, as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
reports its per-layer metrics: it sets up once, runs the same loop untraced
and then traced (the difference is the tracing overhead), reads Spark task
metrics per operation from the status store, probes the layers the loop cannot
time from outside, and writes the spans to .perfbench_work/traces/. Scratch
files live under .perfbench_work/ in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
MAX_ERRORS = 3  # a loop stops early after this many failed operations


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "jsonschema_spark", "__init__.py")):
        print(f"perfbench: no jsonschema_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # before pyspark is imported: the JVMs, the Python workers and Python's
    # tempfile all inherit these, so every scratch file stays in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)
    try:
        result = Run(args, spec, run_dir).execute()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


@dataclass
class Loop:
    """One closed-loop measurement: results and timings of its operations."""

    results: dict[int, Any] = field(default_factory=dict)
    times: dict[int, float] = field(default_factory=dict)
    docs: int = 0
    attempted: int = 0
    errors: int = 0
    stages: dict[int, list] = field(default_factory=dict)  # op -> [(section, OpStages)]


class Run:
    def __init__(self, args, spec: dict, run_dir: str):
        self.args = args
        self.spec = spec
        self.dir = run_dir
        self.cores = len(os.sched_getaffinity(0))

    def session(self):
        from pyspark.sql import SparkSession

        from jsonschema_spark.session import apply_engine_confs

        spark = (
            apply_engine_confs(SparkSession.builder.master(f"local[{self.cores}]"))
            .appName("perfbench")
            .config("spark.driver.memory", "2g")
            .config("spark.sql.warehouse.dir", os.path.join(self.dir, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(2 * self.cores))
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def execute(self) -> dict:
        import workloads as W
        from tracing import StageReader, Tracer, tree_peak_rss

        wl = W.WORKLOADS[self.args.workload]()
        untraced = W.Context(Tracer(False), None)
        phase = _Phases()
        wl.generate(os.path.join(self.dir, "data"), self.args.seed, self.cores)
        phase("generate")
        spark = None
        try:
            setups = []
            for k in range(1 if self.args.trace else SETUPS):
                payload = wl.prepare(k, warmup=True)
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = self.session()  # the first set-up launches the JVM
                res = wl.op(spark, untraced, payload)
                setups.append(time.perf_counter() - t0)
                wl.release(res)
                if k == 0:
                    self.warm_up(spark, wl, untraced)
            phase("setup")
            base = self.loop(spark, wl, untraced, 0)
            phase("loop")
            traced = tracer = probes = None
            if self.args.trace:
                tracer = Tracer(True)
                ctx = W.Context(tracer, StageReader(spark))
                traced = self.loop(spark, wl, ctx, max(base.results, default=-1) + 1)
                probes = wl.probes(spark, ctx)
                peak_rss = tree_peak_rss()  # Python workers are alive until Spark stops
                phase("trace")
            checked = wl.check(spark, {**base.results, **(traced.results if traced else {})})
            phase("check")
        finally:
            _shutdown(spark)
        phase("shutdown")
        print(f"perfbench: phases {phase} setups {_rounded(setups)} ops {_rounded(base.times.values())}",
              file=sys.stderr)

        loops = [base] + ([traced] if traced else [])
        checks = [checked] + ([probes] if probes else [])
        attempted = sum(lp.attempted for lp in loops) + sum(c.attempted for c in checks)
        failed = sum(lp.errors for lp in loops) + sum(len(c.failed_ops) for c in checks)
        ratio = _ratio(checks)
        if self.args.trace:
            metrics = self.layer_metrics(base, traced, tracer, probes, checked, peak_rss)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "traces", f"{self.args.workload}-{self.args.seed}.json"))
        else:
            metrics = self.end_to_end(base, setups, ratio)
        return {
            "correct": failed == 0 and ratio == 1.0,
            "attempted": attempted,
            "failed": failed,
            "metrics": self.label(metrics, "per_layer" if self.args.trace else "end_to_end"),
        }

    def warm_up(self, spark, wl, ctx) -> None:
        """Untimed operations until ``wl.warmup_s`` have passed. The JIT
        compiler keeps speeding up driver-bound operations for tens of seconds
        after the JVM starts; the later set-ups and the loop run after it."""
        end = time.perf_counter() + wl.warmup_s
        k = SETUPS
        while time.perf_counter() < end:
            wl.release(wl.op(spark, ctx, wl.prepare(k, warmup=True)))
            k += 1

    def loop(self, spark, wl, ctx, first: int) -> Loop:
        """Operations back to back until they have taken --seconds and at
        least ``wl.min_ops`` have run; each operation's input is made before
        its clock starts."""
        out = Loop()
        busy = 0.0
        i = first
        while (i - first < wl.min_ops or busy < self.args.seconds) and out.errors < MAX_ERRORS:
            payload = wl.prepare(i)
            ctx.tracer.op_id, ctx.op_group, ctx.groups = i, f"op{i}", []
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("op"), (ctx.reader.group(ctx.op_group) if ctx.reader else nullcontext()):
                    res = wl.op(spark, ctx, payload)
            except Exception:  # noqa: BLE001 — a failed operation is counted, the loop goes on
                traceback.print_exc()
                out.errors += 1
            else:
                out.times[i] = time.perf_counter() - t0
                out.results[i] = res
                out.docs += wl.docs(res)
            busy += time.perf_counter() - t0
            if ctx.reader:
                out.stages[i] = [(name, ctx.reader.read(gid)) for name, gid in [("", ctx.op_group)] + ctx.groups]
            i += 1
        return out

    # ---------------------------------------------------------------- metrics

    def end_to_end(self, base: Loop, setups: list[float], ratio: float) -> dict:
        from tracing import median

        times = list(base.times.values())
        return {
            "setup_s": median(setups),
            "docs_per_s": base.docs / sum(times) if times else 0.0,
            "op_p50_s": median(times),
            "violation_match": ratio,
        }

    def layer_metrics(self, base: Loop, traced: Loop, tracer, probes, checked, peak_rss: int) -> dict:
        from tracing import OpStages, median, tail

        ops = sorted(traced.times)
        wall = sum(traced.times.values())
        docs = traced.docs or 1

        def per_op(span: str) -> list[float]:
            """Summed duration of the named spans within each operation."""
            acc: dict[int, float] = {}
            for s in tracer.spans:
                if s.name == span and s.op_id in traced.times:
                    acc[s.op_id] = acc.get(s.op_id, 0.0) + s.end - s.start
            return list(acc.values())

        # an operation's jobs are split over its own job group and those of
        # its sections: each job is in exactly one of them
        stages: list[OpStages] = [st for i in ops for _, st in traced.stages[i]]

        def total(attr: str) -> float:
            return sum(getattr(st, attr) for st in stages)

        busy = {i: sum(st.job_busy_s for _, st in traced.stages[i]) for i in ops}
        base_times = list(base.times.values())
        pct, tail_s = tail(base_times)
        n_ops = len(ops) or 1
        m = {
            "trace.overhead_frac": median(list(traced.times.values())) / median(base_times) - 1,
            "op.samples": len(base_times),
            "op.tail_pct": pct,
            "op.tail_s": tail_s,
            "peak_rss_mb": peak_rss / 2**20,
            **probes.layer,
            **checked.layer,
            "ingest.create_df_s": median(per_op("ingest.create_df")),
            "reporting.render_s": median(per_op("reporting.render")),
            "spark.plan_s": median(per_op("spark.plan")),
            "spark.exec_s": median(list(busy.values())),
            "spark.driver_s": median([traced.times[i] - busy[i] for i in ops]),
            "spark.jobs": total("jobs") / n_ops,
            "spark.tasks": total("tasks") / n_ops,
            "spark.executor_cpu_s_per_1k_docs": 1e3 * total("cpu_s") / docs,
            "spark.core_busy_frac": total("run_s") / (wall * self.cores),
            "spark.gc_s": total("gc_s") / n_ops,
            "spark.shuffle_write_bytes_per_doc": total("shuffle_write_bytes") / docs,
            "spark.spill_bytes": total("spill_bytes") / n_ops,
            "runner.batch_s": median(tracer.durations("runner.batch")),
            "runner.batches": len(tracer.durations("runner.batch")) / n_ops,
            "runner.distributions_s": median(per_op("runner.distributions")),
            "runner.finalize_s": median(per_op("runner.finalize")),
            "runner.rows_scanned_per_doc": total("input_records") / docs if per_op("runner.job") else 0.0,
        }
        if per_op("columns.compile"):  # the loop itself compiles: time it there
            m["columns.compile_s"] = median(per_op("columns.compile"))
        return m

    def label(self, values: dict, kind: str) -> dict:
        """Every metric BENCHMARK.json declares for this mode, with its unit;
        a layer the workload does not exercise reads 0."""
        declared = self.spec[kind]
        unknown = set(values) - {m["name"] for m in declared}
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json {kind}: {sorted(unknown)}")
        return {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in declared
        }


def _rounded(xs) -> list[float]:
    return [round(x, 2) for x in xs]


def _ratio(checks) -> float:
    """Share of oracle rows matched exactly, over every check of the run."""
    agree = sum(c.match.agree for c in checks)
    total = sum(c.match.total for c in checks)
    return agree / total if total else 1.0


class _Phases:
    """Wall time of each phase of a run, for the stderr summary."""

    def __init__(self):
        self.t = time.perf_counter()
        self.done: dict[str, float] = {}

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        self.done[name] = round(now - self.t, 2)
        self.t = now

    def __str__(self) -> str:
        return json.dumps(self.done)


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — TimeoutExpired: make sure it ends
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())

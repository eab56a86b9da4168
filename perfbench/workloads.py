"""The benchmark's workloads.

Each workload generates its inputs outside every timed window, runs its
operation as the warm-up that closes each set-up, runs one operation per
``op`` call in a closed loop with one client, and afterwards checks every
operation's output against the oracles. Sections name the layer a call
enters; when tracing, each section is a span and a Spark job group.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import functions as F

from jsonschema_spark import synth
from jsonschema_spark.functions.udf import validate_json_column
from jsonschema_spark.plans.columns import validate_dataframe
from jsonschema_spark.reporting import localized_output
from jsonschema_spark.runner import JobConfig, ValidationJob, finalize_report, table_distributions

import inputs
import oracles
from tracing import StageReader, Tracer, median


class Context:
    """What an operation needs besides the session: the tracer and, in a
    traced run, the Spark job groups its sections open."""

    def __init__(self, tracer: Tracer, reader: StageReader | None):
        self.tracer = tracer
        self.reader = reader
        self.op_group = ""
        self.groups: list[tuple[str, str]] = []  # (section, job group) of the current op

    @contextmanager
    def section(self, name: str):
        with self.tracer.span(name):
            if self.reader is None:
                yield
                return
            gid = f"{self.op_group}/{name}"
            self.groups.append((name, gid))
            with self.reader.group(gid):
                yield

    def collect(self, df) -> list:
        """Action the benchmark owns: in a traced run, Catalyst planning is
        forced first so it is timed apart from execution (the planned query
        is cached on the Dataset, so collect does not plan again)."""
        if self.tracer.enabled:
            with self.tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with self.tracer.span("spark.collect"):
            return df.collect()


@dataclass
class Checked:
    """Outcome of checking operations against the oracles."""

    match: oracles.Match = field(default_factory=oracles.Match)
    attempted: int = 0  # checked operations that are not loop operations (probes)
    failed_ops: set = field(default_factory=set)
    layer: dict[str, float] = field(default_factory=dict)


class Workload:
    name = ""
    salt = 0  # separates the generator seeds of workloads sharing a run seed
    warmup_s = 0.0  # untimed operations after the first set-up
    min_ops = 1  # measured operations per run, however long they take

    def generate(self, root: str, seed: int, cores: int) -> None:
        raise NotImplementedError

    def prepare(self, i: int, *, warmup: bool = False) -> Any:
        """The input of operation ``i`` (or of warm-up ``i``), made untimed."""
        raise NotImplementedError

    def op(self, spark, ctx: Context, payload: Any) -> Any:
        raise NotImplementedError

    def release(self, result: Any) -> None:
        """Drop a warm-up's output."""

    def docs(self, result: Any) -> int:
        raise NotImplementedError

    def check(self, spark, results: dict[int, Any]) -> Checked:
        raise NotImplementedError

    def probes(self, spark, ctx: Context) -> Checked:
        """Layer measurements the loop cannot take from outside (traced run)."""
        raise NotImplementedError


# ------------------------------------------------------------------ bulk job


class _SpannedJob(ValidationJob):
    """ValidationJob with a span around each bucket batch."""

    tracer: Tracer

    def run_batch(self, buckets):
        with self.tracer.span("runner.batch"):
            return super().run_batch(buckets)


class BulkJob(Workload):
    """The full north-rule job: ValidationJob.run, table_distributions on the
    reference twin, finalize_report. One batch of 16 buckets: every batch
    costs several seconds of driver-side planning, so JobConfig's default 4
    batches would not fit the benchmark's time budget."""

    name = "bulk_job"
    salt = 1

    def generate(self, root, seed, cores):
        self.root = root
        self.cfg = replace(inputs.BULK, seed=inputs.workload_seed(seed, self.salt))
        self.docs_pdf, self.ref_pdf = inputs.make_docs(self.cfg)
        self.media_pdf = synth.make_media_catalog_pdf(self.cfg)
        self.n_docs = len(self.docs_pdf)
        self.check_chunk = seed % inputs.N_CHUNKS
        files = 2 * cores
        self.docs_path = inputs.write_parquet(self.docs_pdf, os.path.join(root, "docs"), files, inputs.DOCS_ARROW)
        self.ref_path = inputs.write_parquet(self.ref_pdf, os.path.join(root, "ref"), files, inputs.DOCS_ARROW)
        self.media_path = inputs.write_parquet(self.media_pdf, os.path.join(root, "media"), 1)

    def prepare(self, i, *, warmup=False):
        return os.path.join(self.root, "out", f"warm-{i}" if warmup else f"op-{i}")

    def op(self, spark, ctx, out):
        cfg = JobConfig(
            input_path=self.docs_path,
            output_path=out,
            schema=synth.DOCS_SCHEMA,
            media_catalog_path=self.media_path,
            reference_path=self.ref_path,
            n_buckets=16,
            buckets_per_job=16,
        )
        with ctx.section("runner.job"):
            job = _SpannedJob(spark, cfg)
            job.tracer = ctx.tracer
            job.run()
        with ctx.section("runner.distributions"):
            hist, kinds = table_distributions(spark, self.ref_path)
        with ctx.section("runner.finalize"):
            report = finalize_report(spark, cfg, reference_hist=hist, reference_kind_freq=kinds)
        return {"out": out, "total_docs": report["total_docs"]}

    def release(self, result):
        shutil.rmtree(result["out"])

    def docs(self, result):
        return self.n_docs

    def probes(self, spark, ctx):
        out = Checked()
        out.layer.update(probe_columns(spark.read.parquet(self.docs_path), synth.DOCS_SCHEMA))
        return out

    def check(self, spark, results):
        out = Checked()
        expected = oracles.job_rows(self.docs_pdf, self.ref_pdf, set(self.media_pdf["media_ref"]))
        chunk = synth.make_docs_pdf(inputs.chunk_cfg(self.cfg, self.check_chunk))[0]
        scalar = oracles.ScalarCore(synth.DOCS_SCHEMA, assert_format=True)
        expected["schema"] = scalar.rows(chunk)
        chunk_ids = set(chunk["doc_id"])
        out.layer["evaluator.docs_per_s_1core"] = scalar.docs / scalar.seconds

        reference = None
        sizes = []
        for i, res in sorted(results.items()):
            viol = spark.read.parquet(os.path.join(res["out"], "violations"))
            fingerprint = tuple(viol.select(
                F.count(F.lit(1)),
                F.sum(F.xxhash64("doc_id", "instance_path", "keyword", "code").cast("decimal(38,0)")),
            ).first())
            ok = res["total_docs"] == self.n_docs
            if reference is None:
                # the first operation is compared row by row with the oracles,
                # every later one with the first by count and row-hash sum
                reference = fingerprint
                pdf = viol.select("doc_id", "instance_path", "code", "keyword").toPandas()
                rows = Counter(zip(pdf.doc_id, pdf.instance_path, pdf.code, pdf.keyword))
                actual: dict[str, Counter] = {k: Counter() for k in expected}
                for key, n in rows.items():
                    kw = key[3]
                    if kw in oracles.JOB_KEYWORDS:
                        actual[kw][key] += n
                    elif key[0] in chunk_ids:
                        actual["schema"][key] += n
                for kind in expected:
                    ok &= out.match.add(expected[kind], actual[kind])
                out.layer["runner.violation_rows"] = fingerprint[0]
            else:
                ok &= fingerprint == reference
            sizes.append(_tree_bytes(res["out"]))
            shutil.rmtree(res["out"])
            if not ok:
                out.failed_ops.add(i)
        out.layer["runner.output_bytes_per_doc"] = median(sizes) / self.n_docs
        return out


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# ------------------------------------------------------------ small requests


class SmallRequests(Workload):
    """One client, closed loop; each request validates a fresh 500-doc
    DataFrame (createDataFrame, validate_dataframe, localized_output,
    collect). 90% of requests use one of three recurring tenant schemas, 10%
    a schema seen for the first time."""

    name = "small_requests"
    salt = 2
    # a request's latency falls by about a third over the first ~10 requests
    # of a JVM while the JIT compiler catches up; measure after most of that
    warmup_s = 12.0
    # a request now and then stalls for 2-4x its usual time; with three
    # samples the median passes over it instead of being it
    min_ops = 3

    def generate(self, root, seed, cores):
        self.root = root
        self.seed = inputs.workload_seed(seed, self.salt)
        self.requests: dict[int, inputs.Request] = {}

    def prepare(self, i, *, warmup=False):
        req = inputs.make_request(self.seed, i, warmup=warmup)
        if not warmup:
            self.requests[i] = req
        return req

    def op(self, spark, ctx, req):
        with ctx.section("ingest.create_df"):
            df = spark.createDataFrame(req.docs, schema=synth.DOCS_DDL)
        with ctx.section("columns.compile"):
            validated = validate_dataframe(df, req.schema)
        with ctx.section("reporting.render"):
            out = localized_output(validated, ["doc_id"])
        return ctx.collect(out)

    def docs(self, result):
        return inputs.REQUEST_DOCS

    def check(self, spark, results):
        out = Checked()
        done = sorted(results)
        novel = [i for i in done if self.requests[i].tenant < 0]
        picked = sorted({done[0], done[-1], *novel[:1]})
        docs = seconds = 0.0
        for i in picked:
            req = self.requests[i]
            scalar = oracles.ScalarCore(req.schema, assert_format=True)
            expected = scalar.rows(req.docs, messages=True)
            actual = Counter((r.doc_id, r.instance_path, r.code, r.message) for r in results[i])
            if not out.match.add(expected, actual):
                out.failed_ops.add(i)
            docs += scalar.docs
            seconds += scalar.seconds
        out.layer["evaluator.docs_per_s_1core"] = docs / seconds
        return out

    def probes(self, spark, ctx):
        # parquet, not createDataFrame: Spark evaluates projections over an
        # in-memory relation on the driver, and these probes time executors
        docs = inputs.json_probe_docs(self.seed)
        files = 2 * len(os.sched_getaffinity(0))
        raw = spark.read.parquet(inputs.write_parquet(inputs.json_frame(docs), os.path.join(self.root, "probe-json"), files))
        out = Checked()
        typed = spark.createDataFrame(docs, schema=synth.DOCS_DDL)
        out.layer["columns.expr_nodes"] = plan_nodes(validate_dataframe(typed, synth.DOCS_SCHEMA))
        verdicts = {}
        for layer, schema, work, work_metric in (
            ("variant", synth.DOCS_SCHEMA, "cpu_s", "variant.executor_cpu_s_per_1k_docs"),
            # executor CPU time counts only the JVM: the UDF's Python work shows in task time
            ("udf", inputs.residue_schema(), "run_s", "udf.task_s_per_1k_docs"),
        ):
            out.attempted += 1
            t0 = time.perf_counter()
            # the first call in a session compiles the plan (or, for the
            # residue, fails the variant compile and falls back to the UDF)
            warm = validate_json_column(raw, "json", schema)
            out.layer[f"{layer}.compile_s"] = time.perf_counter() - t0
            warm.select("valid").write.format("noop").mode("overwrite").save()
            gid = f"probe/{layer}"
            with ctx.reader.group(gid):
                t0 = time.perf_counter()
                rows = validate_json_column(raw, "json", schema).select("doc_id", "valid").collect()
                seconds = time.perf_counter() - t0
            st = ctx.reader.read(gid)
            verdicts[layer] = Counter((r.doc_id, r.valid) for r in rows)
            out.layer[f"{layer}.docs_per_s"] = len(docs) / seconds
            out.layer[work_metric] = 1e3 * getattr(st, work) / len(docs)
        # the scalar core on a sample of doc ids (every copy of a duplicated id)
        ids = set(docs["doc_id"].head(inputs.REQUEST_DOCS))
        scalar = oracles.ScalarCore(synth.DOCS_SCHEMA, assert_format=False)
        sample = scalar.verdicts(docs[docs["doc_id"].isin(ids)])
        ok = out.match.add(verdicts["variant"], verdicts["udf"])
        ok &= out.match.add(sample, Counter({k: n for k, n in verdicts["variant"].items() if k[0] in ids}))
        if not ok:
            out.failed_ops.add("probe/json")
        return out


WORKLOADS = {w.name: w for w in (BulkJob, SmallRequests)}


# -------------------------------------------------------------- layer probes


def probe_columns(df, schema: dict) -> dict[str, float]:
    """Typed-plan compile time, plan size and validate-only throughput (the
    violations projection into the noop sink) on the workload's docs."""
    t0 = time.perf_counter()
    validated = validate_dataframe(df, schema)
    compile_s = time.perf_counter() - t0
    nodes = plan_nodes(validated)
    n = df.count()
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        validated.select("violations").write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    return {
        "columns.compile_s": compile_s,
        "columns.expr_nodes": nodes,
        "columns.eval_docs_per_s": n / median(runs),
    }


def plan_nodes(df) -> int:
    """Catalyst nodes in a DataFrame's analyzed plan: operators plus
    expression nodes."""

    def count(plan) -> int:
        n = 1
        exprs = plan.expressions()
        for i in range(exprs.size()):
            n += exprs.apply(i).treeString().count("\n")
        children = plan.children()
        for i in range(children.size()):
            n += count(children.apply(i))
        return n

    return count(df._jdf.queryExecution().analyzed())

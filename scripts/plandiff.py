"""Dump the normalized analyzed plans of the benchmark schemas, for checking
whether a planner refactor moves the typed or the raw-JSON plans, and count
the py4j commands a plan build sends.

Usage: python scripts/plandiff.py <checkout> <out.txt>

Run it once on a checkout of the parent commit (for example
``git archive HEAD~1 --prefix=parent/ | tar x -C <dir>``) and once on the
change, then ``diff -a`` the two output files. Each plan sits under a ``###``
header naming its entry point and schema, so the diff shows which plans
moved; an empty diff means all are identical. It covers the three tenant
schemas and ``novel_schema(7)`` from ``perfbench/inputs.py``, each through
``validate_dataframe`` and ``ValidationJob._validated`` on the typed docs,
and through ``validate_json_column`` on the same docs as JSON text.
Expression ids, stage-name counters and lambda-variable suffixes are
normalized away. The 64 generated docs are written as parquet next to
``out.txt`` on first use, and the job's (empty) output directory goes there
too.

It also prints, per planner, the py4j commands one warm ``DOCS_SCHEMA``
build sends (``SparkPlanCompiler.violations_column`` /
``VariantPlanCompiler.violations_column`` with staging). The
garbage-collection release commands (``m\\nd\\n…``) are left out: Python
finalizers send them at arbitrary times, and the rest of the count is
deterministic.
"""

import os
import re
import sys

root, out_path = sys.argv[1], sys.argv[2]
sys.path[:0] = [root, os.path.join(root, "perfbench")]
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
from jsonschema_spark import synth  # noqa: E402
from jsonschema_spark.functions.udf import validate_json_column  # noqa: E402
from jsonschema_spark.plans.columns import SparkPlanCompiler, validate_dataframe  # noqa: E402
from jsonschema_spark.plans.variant import VariantPlanCompiler  # noqa: E402
from jsonschema_spark.runner import JobConfig, ValidationJob, _bucket_expr  # noqa: E402
import inputs  # noqa: E402


def norm(s):  # expression ids, stage-name counters, lambda-variable suffixes
    s = re.sub(r"#\d+L?", "#N", s)
    s = re.sub(r"__js[sv]_stage_\d+", "__stage_N", s)
    return re.sub(r"\b(x|y|i|k|a|acc|kv|s|p|e)_\d+\b", r"\1_N", s)


def plan(df):
    return norm(df._jdf.queryExecution().analyzed().toString())


def py4j_commands(build):
    """Non-release py4j commands sent by the second of two ``build()`` calls."""
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counting(cmd, *args, **kwargs):
        sent.append(cmd)
        return send(cmd, *args, **kwargs)

    build()
    client.send_command = counting
    try:
        build()
    finally:
        client.send_command = send
    return sum(not c.startswith("m\nd\n") for c in sent)


schemas = inputs.tenant_schemas() + [inputs.novel_schema(7)]  # [0] is DOCS_SCHEMA
pdf, _ = synth.make_docs_pdf(synth.SynthConfig(n_docs=64))
typed = spark.createDataFrame(pdf, schema=synth.DOCS_DDL)
raw = typed.select(F.to_json(F.struct(*typed.columns)).alias("doc"))
work = os.path.dirname(os.path.abspath(out_path))
pq = os.path.join(work, "plandocs")
if not os.path.exists(pq):
    typed.write.parquet(pq)
out = []
for i, s in enumerate(schemas):
    cfg = JobConfig(input_path=pq, output_path=os.path.join(work, "planjob"), schema=s)
    docs = spark.read.parquet(pq).withColumn("_bucket", _bucket_expr(cfg))
    out += [
        f"### typed validate_dataframe schema {i}\n" + plan(validate_dataframe(typed, s)),
        f"### typed ValidationJob._validated schema {i}\n" + plan(ValidationJob(spark, cfg)._validated(docs)),
        f"### variant validate_json_column schema {i}\n" + plan(validate_json_column(raw, "doc", s)),
    ]
open(out_path, "w").write("\n=====\n".join(out))

S = synth.DOCS_SCHEMA
counts = {
    "typed": py4j_commands(lambda: SparkPlanCompiler(S).violations_column(typed.schema, stages=[])),
    "variant": py4j_commands(lambda: VariantPlanCompiler(S).violations_column(F.col("__variant__"), stages=[])),
}
print("py4j commands per warm DOCS_SCHEMA build:", ", ".join(f"{k} {v}" for k, v in counts.items()))

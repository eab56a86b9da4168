"""Dump the normalized analyzed plans of the benchmark schemas, for checking
that a planner refactor leaves the typed plans unchanged.

Usage: python scripts/plandiff.py <checkout> <out.txt>

Run it once on a checkout of the parent commit (for example
``git archive HEAD~1 --prefix=parent/ | tar x -C <dir>``) and once on the
change, then ``diff`` the two output files: an empty diff means the typed
plans are identical. It covers the three tenant schemas and
``novel_schema(7)`` from ``perfbench/inputs.py``, each through
``validate_dataframe`` and ``ValidationJob._validated``. Expression ids,
stage-name counters and lambda-variable suffixes are normalized away. The
64 generated docs are written as parquet next to ``out.txt`` on first use.
"""

import os
import re
import sys

root, out_path = sys.argv[1], sys.argv[2]
sys.path[:0] = [root, os.path.join(root, "perfbench")]
from pyspark.sql import SparkSession  # noqa: E402

spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
from jsonschema_spark import synth  # noqa: E402
from jsonschema_spark.plans.columns import validate_dataframe  # noqa: E402
from jsonschema_spark.runner import JobConfig, ValidationJob, _bucket_expr  # noqa: E402
import inputs  # noqa: E402


def norm(s):  # expression ids, stage-name counters, lambda-variable suffixes
    s = re.sub(r"#\d+L?", "#N", s)
    s = re.sub(r"__js[sv]_stage_\d+", "__stage_N", s)
    return re.sub(r"\b(x|y|i|k|a|acc|kv|s|p|e)_\d+\b", r"\1_N", s)


def plan(df):
    return norm(df._jdf.queryExecution().analyzed().toString())


schemas = inputs.tenant_schemas() + [inputs.novel_schema(7)]  # [0] is DOCS_SCHEMA
pdf, _ = synth.make_docs_pdf(synth.SynthConfig(n_docs=64))
typed = spark.createDataFrame(pdf, schema=synth.DOCS_DDL)
pq = os.path.join(os.path.dirname(os.path.abspath(out_path)), "plandocs")
if not os.path.exists(pq):
    typed.write.parquet(pq)
out = []
for s in schemas:
    cfg = JobConfig(input_path=pq, output_path="unused", schema=s)
    docs = spark.read.parquet(pq).withColumn("_bucket", _bucket_expr(cfg))
    out += [plan(validate_dataframe(typed, s)), plan(ValidationJob(spark, cfg)._validated(docs))]
open(out_path, "w").write("\n=====\n".join(out))

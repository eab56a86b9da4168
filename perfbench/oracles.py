"""Independent oracles for the benchmark's outputs.

Expected rows are rebuilt from the generator's pandas frames on the driver:
schema-violation rows by the scalar core (``CompiledSchema``), duplicate,
dangling-reference and span-sequence rows by plain Python over the frames.
Rows are compared as multisets; ``Match`` accumulates agreeing rows over the
larger of the two sides, so an exact match scores 1.0.
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass

import pandas as pd

from jsonschema_spark.compiler import Compiler
from jsonschema_spark.errors import render_message

from inputs import json_text

JOB_KEYWORDS = ("uniqueness", "referential", "span_sequence")


@dataclass
class Match:
    agree: int = 0
    total: int = 0
    mismatches: int = 0  # comparisons that were not exact

    def add(self, expected: Counter, actual: Counter) -> bool:
        agree = sum((expected & actual).values())
        total = max(sum(expected.values()), sum(actual.values()))
        self.agree += agree
        self.total += total
        exact = agree == total
        self.mismatches += not exact
        return exact

    @property
    def ratio(self) -> float:
        return self.agree / self.total if self.total else 1.0


class ScalarCore:
    """The scalar evaluator on the driver, one core; also times itself, which
    gives the evaluator layer's docs/s on the workload's own docs."""

    def __init__(self, schema: dict, *, assert_format: bool):
        self.schema = schema
        self._compiled = Compiler().set_assert_format(assert_format).compile(schema)
        self.docs = 0
        self.seconds = 0.0

    def results(self, docs: pd.DataFrame) -> list[tuple[str, object]]:
        texts = [json_text(d) for d in docs.to_dict("records")]
        t0 = time.perf_counter()
        res = [self._compiled.validate_json(t) for t in texts]
        self.seconds += time.perf_counter() - t0
        self.docs += len(texts)
        return list(zip(docs["doc_id"], res))

    def rows(self, docs: pd.DataFrame, *, messages: bool = False) -> Counter:
        out: Counter = Counter()
        for doc_id, r in self.results(docs):
            for v in r.violations:
                key = (doc_id, v.instance_path, v.code)
                out[key + (render_message(v.code, v.params),) if messages else key + (v.keyword,)] += 1
        return out

    def verdicts(self, docs: pd.DataFrame) -> Counter:
        return Counter((doc_id, r.valid) for doc_id, r in self.results(docs))


def job_rows(docs_pdf: pd.DataFrame, ref_pdf: pd.DataFrame, media: set[str]) -> dict[str, Counter]:
    """Expected duplicate, dangling-reference and span-sequence rows of a
    bulk job, as (doc_id, path, code, keyword)."""
    docs = docs_pdf.to_dict("records")
    refs = ref_pdf.to_dict("records")

    ids = Counter(d["doc_id"] for d in docs)
    dup = Counter({(i, "", "duplicate_doc_id", "uniqueness"): 1 for i, n in ids.items() if n > 1})

    dangling: Counter = Counter()
    for d in docs:
        for pos, s in enumerate(d["spans"]):
            if s["media_ref"] is not None and s["media_ref"] not in media:
                dangling[(d["doc_id"], f"/spans/{pos}/media_ref", "dangling_media_ref", "referential")] += 1

    def seq(doc: dict) -> tuple:
        return tuple((s["kind"], s["text"], s["media_ref"]) for s in doc["spans"])

    ref_seqs: dict[str, list[tuple]] = {}
    for r in refs:
        ref_seqs.setdefault(r["doc_id"], []).append(seq(r))
    sequence: Counter = Counter()
    for d in docs:
        theirs = ref_seqs.get(d["doc_id"])
        if not theirs:
            sequence[(d["doc_id"], "/spans", "doc_not_in_reference", "span_sequence")] += 1
            continue
        for r in theirs:
            if seq(d) != r:
                sequence[(d["doc_id"], "/spans", "span_sequence_mismatch", "span_sequence")] += 1
    return {"uniqueness": dup, "referential": dangling, "span_sequence": sequence}

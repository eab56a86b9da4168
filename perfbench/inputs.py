"""Seeded input generation. Everything is generated outside every timed
window; the engine receives only these generated inputs. The same seed always
yields the same inputs."""

from __future__ import annotations

import copy
import json
import os
import random
from dataclasses import dataclass, replace

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from jsonschema_spark import synth

# Bulk job input at the generator's defaults: 1% duplicates, 1% dangling
# media refs, 2% constraint violations, 0.2% skewed media-heavy docs.
BULK = synth.SynthConfig(n_docs=8_192)
N_CHUNKS = 64  # generator chunks; chunk i is seeded cfg.seed * 1000 + i

REQUEST_DOCS = 500
NOVEL_SHARE = 0.10
JSON_PROBE_DOCS = 2_048


DOCS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))),
])


def workload_seed(seed: int, salt: int) -> int:
    """Distinct non-negative generator seed per (run seed, workload)."""
    return seed * 16 + salt


def chunk_cfg(cfg: synth.SynthConfig, i: int) -> synth.SynthConfig:
    """The config make_docs_distributed uses for chunk ``i``."""
    return replace(cfg, n_docs=cfg.n_docs // N_CHUNKS, seed=cfg.seed * 1000 + i)


def make_docs(cfg: synth.SynthConfig) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(docs, reference twin) with the rows make_docs_distributed produces —
    chunk by chunk with the same per-chunk seeds — generated on the driver,
    which at this size is faster than starting Python workers."""
    parts = [synth.make_docs_pdf(chunk_cfg(cfg, i)) for i in range(N_CHUNKS)]
    return (
        pd.concat([d for d, _ in parts], ignore_index=True),
        pd.concat([r for _, r in parts], ignore_index=True),
    )


def write_parquet(pdf: pd.DataFrame, path: str, files: int, schema: pa.Schema | None = None) -> str:
    """``pdf`` as a directory of ``files`` parquet files."""
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    os.makedirs(path)
    step = -(-len(pdf) // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))
    return path


def json_text(doc: dict) -> str:
    """A generated doc as a JSON producer would send it: null fields absent."""
    spans = [{k: v for k, v in s.items() if v is not None} for s in doc["spans"]]
    return json.dumps({"doc_id": doc["doc_id"], "spans": spans}, separators=(",", ":"))


def json_frame(docs: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, json) rows: ``docs`` as raw JSON text."""
    return pd.DataFrame({"doc_id": docs["doc_id"], "json": [json_text(d) for d in docs.to_dict("records")]})


@dataclass
class Request:
    tenant: int  # 0..2 recurring tenant schemas, -1 for a first-seen schema
    schema: dict
    docs: pd.DataFrame


def tenant_schemas() -> list[dict]:
    """The three recurring tenant schemas; all compile on the typed path."""
    closed = copy.deepcopy(synth.DOCS_SCHEMA)
    closed["properties"]["spans"]["items"]["additionalProperties"] = False
    bounded = copy.deepcopy(synth.DOCS_SCHEMA)
    bounded["properties"]["spans"]["maxItems"] = 64
    bounded["properties"]["spans"]["items"]["properties"]["text"]["maxLength"] = 60
    return [synth.DOCS_SCHEMA, closed, bounded]


def novel_schema(tag: int) -> dict:
    """A schema no earlier request used: DOCS_SCHEMA with a text length bound
    that no generated text reaches, so its verdicts match DOCS_SCHEMA's."""
    out = copy.deepcopy(synth.DOCS_SCHEMA)
    out["properties"]["spans"]["items"]["properties"]["text"]["maxLength"] = 4096 + tag
    return out


def make_request(seed: int, i: int, *, warmup: bool = False) -> Request:
    """Request ``i`` of a run: fresh docs, and with 90% odds one of the three
    tenant schemas, else a schema seen for the first time. A warm-up request
    always uses the first tenant schema; its docs are disjoint from every
    measured request's."""
    rng = random.Random(seed * 1_000_003 + i)
    cfg = synth.SynthConfig(n_docs=REQUEST_DOCS, seed=seed * 1000 + i + (500 if warmup else 0))
    docs = synth.make_docs_pdf(cfg)[0]
    if warmup:
        return Request(0, synth.DOCS_SCHEMA, docs)
    if rng.random() < NOVEL_SHARE:
        return Request(-1, novel_schema(seed * 1000 + i), docs)
    t = rng.randrange(3)
    return Request(t, tenant_schemas()[t], docs)


def json_probe_docs(seed: int) -> pd.DataFrame:
    """Docs for the raw-JSON probe, disjoint from every request's."""
    return synth.make_docs_pdf(synth.SynthConfig(n_docs=JSON_PROBE_DOCS, seed=seed * 1000 + 999))[0]


def residue_schema() -> dict:
    """DOCS_SCHEMA's constraints in $defs/$ref form with
    unevaluatedProperties:false beside the $ref — outside the variant
    compiler's subset, so validate_json_column routes it to the Arrow UDF and
    the scalar core. Generated docs carry no undeclared span fields, so its
    verdicts match DOCS_SCHEMA's."""
    base = copy.deepcopy(synth.DOCS_SCHEMA)
    base["$defs"] = {"span": base["properties"]["spans"]["items"]}
    base["properties"]["spans"]["items"] = {"$ref": "#/$defs/span", "unevaluatedProperties": False}
    return base

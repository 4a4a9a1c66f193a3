"""Benchmark inputs, made from the repo's seeded generator
(``docling_api_spark.corpus``), and their fingerprints.

A fingerprint is the doc count, the raw bytes (sum of ``size_bytes``),
the format mix and a SHA-256 over the rows in doc_id order. The
fingerprints of the default seed are pinned in ``inputs.lock.json``; a
run whose generator no longer reproduces them refuses to report, so an
edit to the generator cannot change a workload silently.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

LOCK_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "inputs.lock.json")
DEFAULT_SEED = 1


class InputDrift(RuntimeError):
    """The generator's output differs from the pinned fingerprint."""


def fingerprint(docs: list[dict]) -> dict:
    """docs: rows with doc_id, fmt, size_bytes, spans[{kind,text,media_ref,offset}]."""
    h = hashlib.sha256()
    for d in sorted(docs, key=lambda d: d["doc_id"]):
        spans = [[s["kind"], s["text"], s["media_ref"], int(s["offset"])] for s in d["spans"]]
        h.update(json.dumps([d["doc_id"], d["fmt"], int(d["size_bytes"]), spans]).encode())
        h.update(b"\n")
    return {
        "docs": len(docs),
        "raw_bytes": sum(int(d["size_bytes"]) for d in docs),
        "formats": dict(sorted(Counter(d["fmt"] for d in docs).items())),
        "sha256": h.hexdigest(),
    }


def generate(indices: list[int], seed: int) -> tuple[list[dict], dict[str, list[dict]]]:
    """In-process twin of ``corpus_df`` / ``golden_df`` (both are
    ``gen_doc`` per index): raw doc rows and golden spans by doc_id."""
    from docling_api_spark.corpus import gen_doc

    docs, golden = [], {}
    for i in indices:
        doc, gold = gen_doc(i, seed)
        docs.append(doc)
        golden[doc["doc_id"]] = gold
    return docs, golden


def read_parquet_rows(path: str, columns: list[str] | None = None) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pylist()


def write_docs_parquet(docs: list[dict], path: str, files: int) -> None:
    """Write corpus rows as ``files`` parquet files with the CORPUS_DDL schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    schema = pa.schema(
        [("doc_id", pa.string()), ("fmt", pa.string()), ("size_bytes", pa.int64()), ("spans", pa.list_(span))]
    )
    os.makedirs(path, exist_ok=True)
    step = -(-len(docs) // files)
    for k in range(files):
        part = docs[k * step : (k + 1) * step]
        pq.write_table(pa.Table.from_pylist(part, schema=schema), os.path.join(path, f"part-{k:05d}.parquet"))


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(suffix))
    return total


def check_pinned(workload: str, fp: dict) -> None:
    with open(LOCK_PATH) as f:
        pinned = json.load(f)["workloads"][workload]
    if pinned != fp:
        raise InputDrift(
            f"{workload}: generator output for seed {DEFAULT_SEED} no longer matches "
            f"{os.path.basename(LOCK_PATH)}: pinned {pinned}, generated {fp}"
        )

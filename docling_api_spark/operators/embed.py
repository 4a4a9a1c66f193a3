"""Embedding (reference D7, core/embeddings.py:9-54).

The reference batches texts through a pluggable ``EmbeddingProvider``
(MiniLM-L6-v2, dim 384, core/embeddings.py:26-54) and stores float32
vectors (core/vector_store.py:9-31). Model weights aren't available in
this container, so the default provider is a **deterministic
feature-hash embedder** of the same dim-384 float32 shape: each token
hashes (md5-prefix-32, the engine's portable hash family — see
functions/hashing.py) to a bucket with a ±1 sign bit, signed counts
accumulate, and the vector is L2-normalized. The provider protocol
mirrors the reference's: any callable ``list[str] -> np.ndarray`` drops
in (a real sentence-transformers provider would plug here unchanged).

Spark realization: scalar ``pandas_udf`` (Arrow batches) so provider
state initializes once per Python worker and amortizes across batches
(fixes the reference's converter-rebuilt-per-request anti-pattern).
Shuffle-free; at 100 TB the cost model is pure CPU, scaling linearly
with executors.

Scale note — **dedup-before-embed**: the reference caches embeddings
per text (core/cache.py:22-50). The batch-scalable equivalent used by
``embed_chunks_deduped`` is ``dropDuplicates`` on the text hash, embed
once per distinct text, broadcast-join back — at 100 TB this turns the
cache hit-rate into a shuffle-cheap exact computation.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from docling_api_spark import EMBEDDING_DIM

MASK31 = 1 << 31


# Token→hash memo, per Python worker. Natural-language token frequency
# is Zipfian, so even a modest memo absorbs almost every md5 call; the
# cap bounds worker memory at ~100 MB worst case for 1M entries.
_HASH_MEMO: dict[str, int] = {}
_HASH_MEMO_CAP = 1_000_000


def _token_hashes(tokens: list[str]) -> np.ndarray:
    memo = _HASH_MEMO
    out = np.empty(len(tokens), dtype=np.int64)
    for i, t in enumerate(tokens):
        h = memo.get(t)
        if h is None:
            h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16)
            if len(memo) < _HASH_MEMO_CAP:
                memo[t] = h
        out[i] = h
    return out


def hash_counts(text: str, dim: int = EMBEDDING_DIM) -> np.ndarray:
    """Signed bucket counts (int64): bucket = h % dim, sign = bit 31."""
    toks = text.split()
    if not toks:
        return np.zeros(dim, dtype=np.int64)
    h = _token_hashes(toks)
    signs = np.where(h & MASK31, 1, -1)
    return np.bincount(h % dim, weights=signs, minlength=dim).astype(np.int64)


def feature_hash_embed(texts: list[str], dim: int = EMBEDDING_DIM) -> np.ndarray:
    """Default provider: L2-normalized signed feature-hash vectors."""
    out = np.zeros((len(texts), dim), dtype=np.float32)
    for i, t in enumerate(texts):
        v = hash_counts(t, dim).astype(np.float32)
        n = np.linalg.norm(v)
        out[i] = v / n if n > 0 else v
    return out


def embedding_udf(dim: int = EMBEDDING_DIM, provider=None):
    """Column UDF: text → array<float> of length ``dim``."""
    fn = provider or (lambda ts: feature_hash_embed(ts, dim))

    @pandas_udf("array<float>")
    def embed(texts: pd.Series) -> pd.Series:
        mat = fn(texts.fillna("").tolist())
        return pd.Series(list(np.asarray(mat, dtype=np.float32)))

    return embed


def hash_counts_udf(dim: int = EMBEDDING_DIM):
    """Column UDF: text → array<long> raw signed counts (the exactly
    oracle-checkable integer core of the embedder — normalization is
    float-only and covered by unit tests)."""

    @pandas_udf("array<long>")
    def counts(texts: pd.Series) -> pd.Series:
        return pd.Series([hash_counts(t or "", dim) for t in texts])

    return counts


def embed_chunks(chunks: DataFrame, text_col: str = "context", dim: int = EMBEDDING_DIM) -> DataFrame:
    """chunks → + embedding column (reference embeds chunk *contexts*,
    services/rag_service.py:205-206)."""
    return chunks.withColumn("embedding", embedding_udf(dim)(F.col(text_col)))


def embed_chunks_deduped(
    chunks: DataFrame, text_col: str = "context", dim: int = EMBEDDING_DIM
) -> DataFrame:
    """Embed each distinct text once, join back (scalable cache).

    The join key is null-safe so NULL-text rows behave exactly like
    ``embed_chunks`` (which embeds '' for NULL via the UDF's fillna)
    instead of silently getting a NULL embedding.
    """
    distinct = chunks.select(text_col).dropDuplicates([text_col])
    embedded = distinct.withColumn("embedding", embedding_udf(dim)(F.col(text_col))).withColumnRenamed(
        text_col, "__embed_key"
    )
    return chunks.join(
        embedded, chunks[text_col].eqNullSafe(F.col("__embed_key")), how="left"
    ).drop("__embed_key")

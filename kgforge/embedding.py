"""Embeddings + vector top-k (S8/Q7, SURVEY.md §2.1/2.5).

The reference embeds entity/relationship/chunk text through an
``EmbeddingFunc`` (storage/embed.go:6) and answers top-k cosine
queries via Chromem/Milvus (chromem.go:49-95, milvus.go:65-179;
Milvus applies a 0.2 score threshold, milvus.go:31).

Spark shape:
- embedding generation is an Arrow-batched pandas UDF producing
  ``array<float>`` — here a deterministic FEATURE-HASHING embedding
  (bag of tokens hashed into DIM buckets, L2-normalized) so tests are
  hermetic; a real model client plugs into the same UDF slot;
- top-k = dot product on normalized vectors (built-in higher-order
  functions, JVM-side) -> orderBy desc -> limit k.  Brute force is
  exact and fine up to ~10^7 vectors per query batch; the LSH-bucketed
  scale path lives in :mod:`kgforge.similarity`.
"""

from __future__ import annotations

import hashlib
from typing import List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

from kgforge.session import one_wave

DIM = 64
MODEL_NAME = "feature-hash-64"


def embed_text(text: str, dim: int = DIM) -> List[float]:
    """Deterministic feature-hashing embedding (pure function)."""
    vec = np.zeros(dim, dtype=np.float64)
    if text:
        for tok in text.lower().split():
            h = hashlib.md5(tok.encode("utf-8")).digest()
            idx = int.from_bytes(h[:4], "little") % dim
            sign = 1.0 if h[4] % 2 == 0 else -1.0
            vec[idx] += sign
    norm = np.linalg.norm(vec)
    if norm > 0:
        vec /= norm
    return [float(x) for x in vec]


@pandas_udf(ArrayType(FloatType()))
def embed_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: embed_text(t if t is not None else ""))


def cosine_col(vec_col, query_vec: List[float]):
    """Dot product against a literal query vector, JVM-side via
    zip_with + aggregate (vectors are already L2-normalized)."""
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return F.aggregate(
        F.zip_with(vec_col, qcol, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def unembedded_chunks(chunks: DataFrame, embeddings: DataFrame | None) -> DataFrame:
    """GetUnembeddedChunks (chunk_storage.go:9-30): chunks lacking an
    embedding row — the embed-backfill entry point.  One anti-join on
    the chunk id; at scale both sides are bucketed on the same key so
    the join co-locates."""
    if embeddings is None:
        return chunks
    done = embeddings.filter(F.col("kind") == "chunk").select(
        F.col("id").alias("chunk_id")
    )
    return chunks.join(done, "chunk_id", "left_anti")


def backfill_chunk_embeddings(store) -> int:
    """Embed-backfill loop body: find unembedded chunks, embed them,
    upsert kind='chunk' embedding rows.  Returns rows written."""
    chunks = store.read("chunks")
    if chunks is None:
        return 0
    # the store reads chunks as about one partition per bucket file
    # (32 by default): embed them on one task wave instead
    todo = one_wave(unembedded_chunks(chunks, store.read("embeddings")))
    rows = todo.select(
        F.col("chunk_id").alias("id"),
        F.lit("chunk").alias("kind"),
        F.col("content").alias("text"),
        embed_udf(F.col("content")).alias("vector"),
        F.lit(MODEL_NAME).alias("model"),
        F.lit(None).cast("timestamp").alias("created_at"),
        F.lit(None).cast("string").alias("src"),
        F.lit(None).cast("string").alias("dst"),
    ).persist()
    n = rows.count()
    if n:
        store.upsert("embeddings", rows, ["id", "kind"])
    rows.unpersist()
    return n


def top_k(
    embeddings: DataFrame,
    query_vec: List[float],
    k: int,
    threshold: float | None = None,
    vec_col: str = "vector",
) -> DataFrame:
    """Q7: brute-force cosine top-k with optional Milvus-parity radius
    threshold (milvus.go:31, 75-80).  TakeOrderedAndProject physical
    plan: no full sort, no shuffle of payload columns beyond k rows
    per partition."""
    scored = embeddings.withColumn(
        "score", cosine_col(F.col(vec_col), query_vec)
    )
    if threshold is not None:
        scored = scored.filter(F.col("score") > threshold)
    # deterministic tie-break on id so the seed SET is reproducible
    # across runs/engines (score ties happen with short texts)
    order = [F.desc("score")]
    if "id" in embeddings.columns:
        order.append(F.asc("id"))
    return scored.orderBy(*order).limit(k)

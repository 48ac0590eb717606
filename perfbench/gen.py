"""Seeded input generation.

The tables themselves are fixed (like a checked-in dataset); ``--seed`` only
chooses which rows become queries, which rows are added or removed, and how
the document corpus is split into ingest batches. Every such choice orders
ids by Spark's ``xxhash64(id, seed)`` and cuts the order into slices, so a
seed always yields the same inputs and the engine sees only DataFrames.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neighborly_spark.functions.embedding import hash_embedding_fast

DIM = 64
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_STATUSES = ["F", "O", "P"]


def orders_vectors(spark: SparkSession, start: int, n: int, parts: int) -> DataFrame:
    """(id, embedding) rows for order keys [start, start + n): an
    orders-like text (priority, status, total price) hash-embedded at
    DIM dims, the same recipe as the sf-scaled ``orders`` vector table."""
    def pick(values, salt):
        arr = F.array(*[F.lit(v) for v in values])
        return F.element_at(arr, (F.pmod(F.xxhash64("id", F.lit(salt)), len(values)) + 1).cast("int"))

    price = (F.pmod(F.xxhash64("id", F.lit(3)), 50_000_000) / 100 + 900).cast("string")
    text = F.concat_ws(" ", pick(_PRIORITIES, 1), pick(_STATUSES, 2), price)
    return spark.range(start, start + n, numPartitions=parts).select(
        F.col("id"), hash_embedding_fast(text, DIM).alias("embedding")
    )


def as_queries(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_embedding"),
    )


def seeded_cuts(df: DataFrame, id_col: str, seed: int, sizes: list[int]) -> list[tuple]:
    """Consecutive slices of ``df``'s ids in ``xxhash64(id, seed)`` order,
    one per entry of ``sizes``, as (predicate, ids) pairs. The predicate is
    a hash-range filter, so a slice of any table with that id column stays
    a plain scan (no python-backed relation)."""
    h = F.xxhash64(F.col(id_col), F.lit(seed))
    order = sorted((r[0], r[1]) for r in df.select(h.alias("h"), F.col(id_col)).collect())
    if sum(sizes) > len(order):
        raise ValueError(f"slices of {sum(sizes)} rows from a table of {len(order)}")
    out, pos = [], 0
    for n in sizes:
        part = order[pos : pos + n]
        out.append((h.between(part[0][0], part[-1][0]), [i for _, i in part]))
        pos += n
    return out


# --- documents ------------------------------------------------------------

_VOCAB = (
    "a the batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join customer index shard graph cell probe code build store ingest "
    "dedup token text model train rank score"
).split()


def documents(n: int, seed: int = 42) -> pa.Table:
    """(doc_id, text) corpus of ``n`` word-bag documents with planted
    duplicates: ~3% exact copies of an earlier document and ~10% near
    copies (one to three words replaced, 3-shingle Jaccard ~0.6-0.9)."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 0 and u < 0.03:
            texts.append(texts[int(rng.integers(i))])
        elif i > 0 and u < 0.13:
            words = texts[int(rng.integers(i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(len(words)))] = _VOCAB[int(rng.integers(len(_VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 65))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(len(_VOCAB), size=k)))
    return pa.table({"doc_id": pa.array(np.arange(n, dtype=np.int64)), "text": texts})

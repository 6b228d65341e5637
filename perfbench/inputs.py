"""Seeded benchmark inputs.

Every input derives from the run's ``--seed``: the same seed gives the same
rows. Tables are Catalyst expressions over ``spark.range`` (code table,
TPC-H-like ``lineitem``/``orders``, ``events``, probe digests); the
document corpus is drawn with numpy on the driver, which keeps the exact
reference answers (duplicate texts, lookup counts) on hand without a
Spark job.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

VOCAB = ("a the key agg row scan slow fast table value part hash merge "
         "batch line spark sort window data column join small big query "
         "order group filter customer stream vector index probe sketch "
         "bloom shard digest bucket filter").split()


def _h(seed: int, tag: str) -> "F.Column":
    """Non-negative hash of (seed, tag, id)."""
    return F.abs(F.xxhash64(F.lit(f"{tag}-{seed}"), F.col("id")))


def code_table(spark: SparkSession, rows: int, seed: int,
               partitions: int) -> DataFrame:
    from fastbloom_spark.sources import synth_code_table

    return synth_code_table(spark, rows, num_repos=200, seed=seed,
                            num_partitions=partitions)


def orders(spark: SparkSession, n: int, seed: int,
           partitions: int) -> DataFrame:
    base = spark.range(0, n, 1, partitions)
    return base.select(
        F.col("id").alias("o_orderkey"),
        (F.pmod(_h(seed, "price"), F.lit(50_000_000)) / F.lit(100.0))
        .alias("o_totalprice"))


def lineitem(spark: SparkSession, n_orders: int, seed: int,
             partitions: int, lines_per_order: int = 4) -> DataFrame:
    base = spark.range(0, n_orders * lines_per_order, 1, partitions)
    return base.select(
        F.pmod(_h(seed, "lkey"), F.lit(n_orders)).alias("l_orderkey"),
        (F.pmod(_h(seed, "lprice"), F.lit(10_000_000)) / F.lit(100.0))
        .alias("l_extendedprice"))


def events(spark: SparkSession, n: int, seed: int,
           partitions: int) -> DataFrame:
    # skewed event mix: views take half the rows
    u = F.pmod(_h(seed, "etype"), F.lit(16)).cast("int")
    idx = (F.when(u < 8, 0).when(u < 12, 1).when(u < 14, 2)
           .when(u < 15, 3).otherwise(4))
    types = F.array(*[F.lit(t) for t in EVENT_TYPES])
    return spark.range(0, n, 1, partitions).select(
        F.col("id").alias("event_id"),
        F.pmod(_h(seed, "user"), F.lit(5000)).alias("user_id"),
        F.element_at(types, idx + 1).alias("event_type"))


def digests(spark: SparkSession, n: int, seed: int, tag: str,
            partitions: int) -> DataFrame:
    """``n`` digest64 longs; distinct ``tag`` values give disjoint sets
    (up to 64-bit collisions, which a probe check would count)."""
    return spark.range(0, n, 1, partitions).select(
        F.xxhash64(F.lit(f"{tag}-{seed}"), F.col("id")).alias("d"))


def base_documents(n: int, seed: int) -> pd.DataFrame:
    """``n`` documents of 10-99 words over a small vocabulary. About one
    in eight is a near-copy of an earlier document (a few words
    replaced) and one in sixteen an exact copy, so dedup has pairs to
    find and point lookups can match more than one row."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 8 and r < 1 / 16:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 8 and r < 3 / 16:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = str(
                    vocab[int(rng.integers(0, len(vocab)))])
            texts.append(" ".join(words))
        else:
            length = int(rng.integers(10, 100))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     size=length)]))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                         "text": texts})


def widened_documents(base: pd.DataFrame, replicas: int,
                      seed: int) -> pd.DataFrame:
    """The tagged-replica widening of ``bench.py``'s soak: replica ``i``
    prefixes every token with a seed-derived tag, so each replica's
    shingle space is an isomorphic copy of the base corpus (dup structure
    and Jaccard values preserved) while replicas never share a shingle."""
    n = len(base)
    parts = []
    for i in range(replicas):
        tag = f"r{seed % 1000}x{i}_"
        parts.append(pd.DataFrame({
            "doc_id": base["doc_id"] + i * n,
            "text": [" ".join(tag + w for w in t.split())
                     for t in base["text"]],
        }))
    return pd.concat(parts, ignore_index=True)


def documents_frame(spark: SparkSession, pdf: pd.DataFrame,
                    partitions: int) -> DataFrame:
    return spark.createDataFrame(pdf, "doc_id long, text string") \
        .repartition(partitions, "doc_id")

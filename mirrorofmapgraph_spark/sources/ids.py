"""Dense vertex-id dictionary encoding (string key -> long id 0..n-1).

The reference assumes dense 0-based int vertex ids (the market parser
converts 1-based ids, b40c/graph/builder/market.cuh:124-125). Our input
keys are strings (``repo`` or ``repo/path``); we dictionary-encode them to
dense longs.

Scale note: the naive ``row_number() OVER (ORDER BY key)`` forces a single
partition — unusable at 10^12 keys. Instead the distinct keys are sorted
(one range-partitioned shuffle) and numbered by Spark's built-in
distributed sequence (``AttachDistributedSequenceExec``, the default index
of pandas-on-Spark): a ``zipWithIndex`` over the sorted rows, which counts
each partition once and adds the preceding partitions' counts on the
executors. Fully parallel, ids dense and deterministic (= rank in key sort
order) whatever range bounds the sort samples; Spark caches the sorted
child for the two passes and drops that cache when the query ends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.internal import InternalFunction


def assign_dense_ids(keys: DataFrame) -> DataFrame:
    """Map each distinct ``key`` value to a dense long id in [0, n)
    ordered by key. Returns DataFrame(key, id)."""
    return (
        keys.select("key")
        .distinct()
        .orderBy("key")
        .select("key", InternalFunction.distributed_sequence_id().alias("id"))
    )


def encode_edges(raw_edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Encode a (src_key, dst_key) string-keyed edge list into
    (edges(src long, dst long, w double), vertices(id long, key string)),
    every edge with weight 1.0.

    Both joins shuffle on the key; when the dictionary is small AQE
    replicates it to every task at runtime instead (we don't force that —
    at 10^12-file scale the dictionary itself is huge and must
    shuffle-join).
    """
    ids = assign_dense_ids(
        raw_edges.select(F.col("src_key").alias("key")).unionByName(
            raw_edges.select(F.col("dst_key").alias("key"))
        )
    )
    edges = (
        raw_edges.join(ids.toDF("src_key", "src"), on="src_key")
        .join(ids.toDF("dst_key", "dst"), on="dst_key")
        .select("src", "dst", F.lit(1.0).alias("w"))
    )
    vertices = ids.select("id", "key")
    return edges, vertices

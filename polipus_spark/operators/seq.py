"""Deterministic global sequence assignment (SURVEY §4 custom #2).

The reference's crawl order is only well-defined single-threaded (FIFO Redis
list). Our oracle fixes a total order — every frontier row gets a dense
``seq`` assigned by (parent_seq, link_pos, url), so crawl order is
reproducible under ANY parallelism.

A naive ``row_number() OVER (ORDER BY ...)`` forces all rows into one
partition. This implements the scalable two-phase version:

  1. distributed range-partitioned sort on the order key;
  2. per-partition counts → exclusive prefix offsets (tiny driver collect,
     one int per partition);
  3. one mapInPandas adding offset + local index (vectorized, no per-row
     Python).

The sorted frame stays persisted between the two passes, and for as long as
the result is read, so the range partitioner's sampled boundaries cannot
shift; callers receive it through ``persisted`` and release it with the result.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_global_seq(
    df: DataFrame,
    order_cols: list[str],
    start: int = 0,
    out_col: str = "seq",
    persisted: list | None = None,
) -> DataFrame:
    """Add dense ``out_col`` = start + global rank by order_cols (a total order).
    ``persisted`` receives the persisted sorted frame (exact_top_k pattern)."""
    from pyspark import StorageLevel

    sorted_df = df.repartitionByRange(*[F.col(c) for c in order_cols]).sortWithinPartitions(
        *[F.col(c) for c in order_cols]
    )
    sorted_df = sorted_df.persist(StorageLevel.MEMORY_AND_DISK)
    if persisted is not None:
        persisted.append(sorted_df)
    with_pid = sorted_df.withColumn("_pid", F.spark_partition_id())
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    schema_out = df.schema.add(out_col, "long", False)

    def _assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = offsets.get(pid, 0)
        for pdf in it:
            n = len(pdf)
            pdf = pdf.copy()
            pdf[out_col] = range(base, base + n)
            base += n
            yield pdf

    out = sorted_df.mapInPandas(_assign, schema_out)
    return out

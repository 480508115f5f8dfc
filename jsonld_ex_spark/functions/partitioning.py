"""Session-level execution helpers shared across operator families.

`spread_input` is the r7 single-split-input fix (optimization guide
§2.5: "one huge unsplittable file … repartition immediately after the
read"): the test corpus ships each table as ONE parquet file under the
128 MB split size, so every CPU-heavy per-row stage before the first
exchange runs single-threaded (measured: the sf0.1 shingle tokenize
stage alone was 7.8 s on one core).  The guard on the actual scan
partition count makes it a no-op on a properly-split production table
— no extra exchange at scale; the key is a deterministic column hash
(never rand() — SPARK-38388 row-loss under retries).

`capped_shuffle` is the one shuffle-width rule for iterative and
small-table phases, and `session_memo` the one per-session memo for
work shared across gate queries.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Hashable, Iterator, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

T = TypeVar("T")


def spread_input(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition an UNDER-PARTITIONED input to the cluster's
    parallelism before a CPU-heavy per-row stage (tokenization, shingle
    explosion, vector math, per-document JSON-LD kernels).  Returns
    ``df`` untouched when the scan already has at least
    defaultParallelism partitions."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *[F.col(k) for k in keys])


@contextmanager
def capped_shuffle(spark: SparkSession) -> Iterator[None]:
    """Cap spark.sql.shuffle.partitions to the core count (at least 2)
    for the block, restoring the previous value on exit.

    A localCheckpointed DataFrame reports UnknownPartitioning, so every
    join/aggregate over one re-shuffles at the session's full width —
    at the bench's 128 partitions (AQE coalescing off) an iterative
    loop over small frontier/edge tables pays hundreds of near-empty
    tasks per superstep.  The conf is read when a plan EXECUTES, so the
    cap only helps what materializes inside the block (an eager
    localCheckpoint, a count, a stream run to completion); a lazy plan
    returned out of it runs at the restored width."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    cap = min(int(prev), max(spark.sparkContext.defaultParallelism, 2))
    spark.conf.set("spark.sql.shuffle.partitions", str(cap))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def session_memo(
    store: dict,
    spark: SparkSession,
    key: Hashable,
    build: Callable[[], T],
    max_entries: int | None = None,
) -> T:
    """Return ``store``'s value for ``key`` in this Spark application,
    calling ``build()`` once on a miss.

    Entries are keyed (applicationId, key): a checkpoint or temp table
    built under a stopped session is dead in a new one, so entries of
    other applications are evicted before the build.  ``max_entries``
    bounds the store by evicting its oldest entries before the insert."""
    app = spark.sparkContext.applicationId
    full = (app, key)
    if full in store:
        return store[full]
    for k in [k for k in store if k[0] != app]:
        del store[k]
    value = build()
    if max_entries is not None:
        while len(store) >= max_entries:
            del store[next(iter(store))]
    store[full] = value
    return value

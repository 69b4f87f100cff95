"""Partitioning helpers: one-slice query relations, the stats-memo
key, and the fan-out of poorly-split scans.

X1, the reference's partition-by-primary-key (DMS routes each change
record to a Kinesis shard by the table's primary key,
dms_aurora_mysql_to_kinesis.py:121-123), needs no helper here: every
per-key step already requires HashPartitioning on the key, so
Catalyst plans that one exchange itself (plans/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def local_relation(spark, data, schema: str) -> DataFrame:
    """A driver-built query relation as ONE partition.

    ``spark.createDataFrame(list)`` parallelizes even a handful of
    rows across ``defaultParallelism`` slices, so every broadcast
    build or collect over the relation runs a defaultParallelism-task
    job (measured 0.23–0.3 s per BroadcastExchange at local[32] for a
    ≤40-row relation; the r17 phrase_suggest/percolate decomposition).
    One slice makes those builds one ~5 ms task while evaluating the
    exact same expressions. Use for bounded query-side relations
    (query terms, standing-query specs, bucket bounds) — never for
    data-sized inputs.
    """
    rows = list(data)
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def stats_memo_key(df: DataFrame, *extra) -> tuple | None:
    """Memo key for collected model/index statistics — the shared key
    shape for every stats memo (the BM25 corpus stats of the search,
    query-string and DSL operators).

    ``(appId, analyzed-plan semanticHash, input file set, *extra)``:
    the plan hash keys the computation, the FILE SET keys staleness —
    an in-place overwrite of a source table at the same path writes
    new part files, so the memo re-collects (r17 verdict ask #5 — a
    semanticHash-only key served stale stats after an in-place
    overwrite within one session). The semanticHash raises exactly
    where the former hash-only keys raised; a file-set lookup failure
    degrades to the old hash-only behavior (never worse).
    """
    h = df._jdf.queryExecution().analyzed().semanticHash()
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:  # pragma: no cover — degrade to hash-only
        files = ("<files-unavailable>",)
    try:
        app = df.sparkSession.sparkContext.applicationId
    except Exception:  # pragma: no cover
        app = None
    return (app, h, files, *extra)


def fan_out_scan(
    df: DataFrame,
    *,
    min_fraction: float = 0.5,
    min_bytes_per_partition: int = 1024 * 1024,
) -> DataFrame:
    """Spread a poorly-split input across the cluster before per-row-
    heavy work (shingling, tokenization, media decode).

    File sources split at parquet row-group boundaries, so a corpus
    delivered as few files with large row groups scans as a handful
    of tasks no matter how many cores exist — and a downstream map
    pass that costs 1000× the scan inherits that parallelism (the
    sf1 fixture's single-row-group documents table ran minhash
    shingling on ONE task of 32: measured 37 s of a 50 s cold run).
    This guard pays one narrow round-robin exchange of the raw rows
    to restore parallelism — strictly when BOTH hold:

    - the scan is under ``min_fraction`` of default parallelism, and
    - each scan partition carries ≥ ``min_bytes_per_partition`` of
      source data (plan-statistics estimate) — below that, the work
      a partition holds is smaller than the exchange's own cost
      (measured +0.5 s per text query on the 0.6 MB sf0.1 corpus
      for zero win; the single-row-group sf1 corpus, 5.9 MB in one
      split, gains 6×). The bar is read against the OPTIMIZED-plan
      size estimate, which reports compressed, column-pruned bytes —
      a 2-4× under-count of the row payload the downstream map pass
      actually touches (the sf1 documents table: 5.9 MB file, 2.5 MB
      estimate, 2 splits → 1.28 MB/partition, which a 2 MB bar left
      tokenizing on 2 of 32 cores; r13 A/B). 1 MB against the
      estimate ≈ 2-4 MB of real per-partition text — still safely
      above the measured exchange-overhead floor.

    A properly-split source (any real 100 TB layout) passes through
    untouched, so the guard is a no-op exactly where the shuffle
    would be a 100 TB write. Batch-only (streaming plans have no
    static partition count).

    The fan-out DECISION (repartition or not) is memoized per
    (analyzed-plan semanticHash, session, split conf, parallelism):
    probing the scan's partition count instantiates the physical RDD
    chain — ~50 ms of driver planning PER BUILD (profiled r17), paid
    by every text-family query on every call. The inputs the decision
    reads are all in the key, so a hit is exactly the choice the probe
    would make; nothing about the data or results is cached.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        key = (
            df._jdf.queryExecution().analyzed().semanticHash(),
            spark.sparkContext.applicationId,
            spark.conf.get("spark.sql.files.maxPartitionBytes", ""),
            target,
            min_fraction,
            min_bytes_per_partition,
        )
    except Exception:
        key = None
    if key is not None and key in _FAN_OUT_MEMO:
        return df.repartition(target) if _FAN_OUT_MEMO[key] else df
    try:
        n = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        return df
    fan_out = True
    if n >= max(2, int(target * min_fraction)):
        fan_out = False
    else:
        try:
            size = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            size = None
        if size is not None and size // max(1, n) < min_bytes_per_partition:
            fan_out = False
    if key is not None:
        _FAN_OUT_MEMO[key] = fan_out
    return df.repartition(target) if fan_out else df


_FAN_OUT_MEMO: dict = {}

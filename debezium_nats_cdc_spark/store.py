"""Columnar event store (SURVEY.md §2.A8/E1/F7).

The reference lands domain events in ClickHouse MergeTree partitioned by
toYYYYMM(event_timestamp) and sorted by (event_type, event_timestamp,
aggregate_id) (docs/design.md:170-183).  Parquet equivalent:
partitionBy(event_month) directories (→ dynamic partition pruning) +
sortWithinPartitions clustering (→ row-group min/max skipping on the
same keys).  Compression zstd ≙ the reference's compressed columnar
store.  Retention = partition-level delete (age predicate never scans
surviving data).
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from .io import local_frame
from .operators.layout import zorder_write


def to_store_rows(events: DataFrame) -> DataFrame:
    """Domain envelope -> hr_events storage schema (FIXTURES §2.3).
    Select-list built once per SparkContext (runs per micro-batch in
    foreachBatch — speccache.py / BENCHLOG r6).

    ``created_at`` is the one column whose generated code changes every
    micro-batch: the optimizer folds ``current_timestamp()`` into a long
    literal that whole-stage codegen inlines into the source, so each
    table-batch compiles its two store-write classes afresh (everything
    else in the pipeline hits the generated-class cache)."""
    from .speccache import per_context

    cols = per_context("store.to_store_rows", lambda: [
        F.col("eventId").alias("event_id"),
        F.col("eventType").alias("event_type"),
        F.col("timestamp").alias("event_timestamp"),
        F.col("aggregateId").alias("aggregate_id"),
        F.col("aggregateType").alias("aggregate_type"),
        F.col("version").alias("event_version"),
        F.col("payload"),
        F.to_json("metadata").alias("metadata"),
        F.lit("hr-cdc-engine").alias("source_system"),
        F.current_timestamp().alias("created_at"),
        F.date_format("timestamp", "yyyyMM").alias("event_month"),
    ])
    return events.select(*cols)


def clustered_store_rows(events: DataFrame) -> DataFrame:
    """Storage rows, task-locally sorted for row-group min/max skipping.

    No repartition("event_month"): a micro-batch usually spans one month,
    and hashing on it would collapse the write to a single task.  Instead
    each task sorts its slice by (month, clustering keys) and writes one
    file per month — parallel writes, per-file clustering preserved.
    Closed months are re-clustered off the hot path by `optimize_zorder`,
    a maintenance job run by hand; nothing compacts the store
    automatically.
    """
    return to_store_rows(events).sortWithinPartitions(
        "event_month", "event_type", "event_timestamp", "aggregate_id"
    )


def append_events(events: DataFrame, path: str) -> None:
    """Plain (at-least-once) append of domain events, month-partitioned
    and cluster-sorted.  The streaming pipeline instead publishes via
    streaming/txn.py's epoch-keyed commit protocol for replay safety."""
    (
        clustered_store_rows(events)
        .write.mode("append")
        .partitionBy("event_month")
        .parquet(path)
    )


def _zdim_encode(df: DataFrame, col: str, max_codes: int) -> tuple[DataFrame, str]:
    """Order-preserving numeric encoding of one z-order dimension.

    Numeric/timestamp columns pass through (zorder_write min-max scales
    them).  String columns get a dense dictionary code: the distinct
    values are collected SORTED (bounded at ``max_codes`` — event-type /
    aggregate-type vocabularies are enumerable by construction, and a
    month of aggregate ids is bounded by the active-entity population;
    anything larger should be pre-encoded numerically by the caller) and
    broadcast-joined back as a rank.  Rank order == lexicographic order,
    so parquet footer min/max on the ORIGINAL string column prunes
    consistently with the clustering.
    """
    if dict(df.dtypes)[col] != "string":
        return df, col
    spark = df.sparkSession
    # NULLs filtered BEFORE the limit: Spark ASC sorts NULLS FIRST, so a
    # NULL would consume one slot of limit(max_codes+1) and let an
    # over-limit vocabulary slip past the guard below (its largest
    # values would then silently get NULL codes -> z-bucket 0)
    vals = [r[0] for r in (df.select(col).filter(F.col(col).isNotNull())
                           .distinct()
                           .orderBy(col).limit(max_codes + 1).collect())]
    if len(vals) > max_codes:
        raise ValueError(
            f"optimize_zorder: string dim {col!r} has > {max_codes} "
            "distinct values in this partition — pre-encode it "
            "numerically or drop it from the clustering dims")
    enc = f"_zenc_{col}"
    codes = local_frame(
        spark, [(v, i) for i, v in enumerate(vals)],
        f"`{col}` string, `{enc}` bigint")
    return df.join(F.broadcast(codes), col, "left"), enc


def optimize_zorder(
    spark: SparkSession,
    path: str,
    dims: list[str] = ("event_type", "event_timestamp", "aggregate_id"),
    *,
    keep_open_months: int = 1,
    files_per_month: int = 8,
    max_codes: int = 100_000,
) -> list[str]:
    """OPTIMIZE-style Z-order compaction of closed event-store month
    partitions (multi-dim clustering, where each micro-batch file is
    sorted only by the single key of `clustered_store_rows`).

    The reference's analytics workload (docs/system-design.md:130-134)
    filters by event type AND by time window AND by aggregate; the
    MergeTree ORDER BY (docs/design.md:183) serves only its key prefix.
    This job rewrites each CLOSED month partition (the newest
    ``keep_open_months`` still receive appends and are skipped) with
    `operators.layout.zorder_write` on ``dims``, so parquet footer
    min/max becomes tight on EVERY dim at once and a reader skips most
    files for any of the three predicates — verified by
    `file_minmax_stats` / `skipped_fraction` in tests/test_store_zorder.

    Cost shape: per month, one bounded dictionary collect per string
    dim plus exactly ONE range shuffle (the zorder_write contract),
    paid off the hot path like a MergeTree background merge.  The
    directory swap is rm+rename, a non-atomic maintenance-window
    contract: run it when no reader races the partition.

    Returns the list of months rewritten.
    """
    root = Path(path)
    months = sorted(
        p.name.split("=", 1)[1] for p in root.glob("event_month=*") if p.is_dir()
    )
    # max(0, ...): keep_open_months > len(months) must skip EVERYTHING
    # (a negative slice bound would instead rewrite a still-open month
    # and race its appends)
    closed = months[: max(0, len(months) - keep_open_months)]
    for m in closed:
        part = root / f"event_month={m}"
        df = spark.read.parquet(str(part))
        enc_df, zdims, drop = df, [], []
        for c in dims:
            enc_df, enc_col = _zdim_encode(enc_df, c, max_codes)
            zdims.append(enc_col)
            if enc_col != c:
                drop.append(enc_col)
        # staging lives OUTSIDE the store root: a tmp dir named
        # event_month=<m>.zorder inside it would match both Spark
        # partition discovery and this function's own glob after a
        # crash, permanently duplicating the month
        tmp = f"{str(root)}.zorder-{m}"
        shutil.rmtree(tmp, ignore_errors=True)  # leftover from a crash
        zorder_write(enc_df, zdims, tmp, n_files=files_per_month, drop=drop)
        shutil.rmtree(part)
        Path(tmp).rename(part)
    return list(closed)


def read_events_pruned(
    spark: SparkSession,
    path: str,
    event_types: list[str] | None = None,
    ts_range: tuple | None = None,
    aggregate_ids: list[str] | None = None,
) -> DataFrame:
    """Predicate-first reader for the analytics workload the layout
    serves (docs/system-design.md:130-134: filter by type AND time AND
    aggregate).

    The point is WHERE the predicates land, not what they compute:

      * ``ts_range`` additionally derives the ``event_month`` bounds,
        so directory-level partition pruning drops whole months before
        any file is opened (yyyyMM strings compare in time order);
      * type/time/aggregate predicates reach the parquet scan as
        PushedFilters (pinned by tests/test_store_zorder.py), where the
        row-group/footer min-max statistics that `optimize_zorder`
        tightened skip most files of the surviving months without
        reading a data page.

    Plain column filters would eventually push too; this helper exists
    so the month-derivation isn't re-derived (or forgotten) at every
    call site, and as the documented read-side contract of the
    clustered layout.
    """
    df = spark.read.parquet(path)
    if ts_range is not None:
        lo, hi = ts_range
        df = df.filter(
            F.col("event_month").between(
                F.date_format(F.lit(lo).cast("timestamp"), "yyyyMM"),
                F.date_format(F.lit(hi).cast("timestamp"), "yyyyMM"))
            & F.col("event_timestamp").between(
                F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp"))
        )
    if event_types:
        df = df.filter(F.col("event_type").isin(list(event_types)))
    if aggregate_ids:
        df = df.filter(F.col("aggregate_id").isin(list(aggregate_ids)))
    return df


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int = 64,
                   sort_cols: list[str] | None = None) -> None:
    """Persist a table hash-bucketed (and optionally sorted) on its join
    key — the co-located-join layout for 100 TB fact-to-fact joins.

    Two tables bucketed on the same key with the same bucket count join
    with ZERO exchanges: each task reads matching bucket files from both
    sides (and with sort_cols, skips the sort too).  This is the Spark
    analog of the reference's ClickHouse ORDER BY clustering
    (docs/design.md:183) applied to join locality rather than scans:
    pre-shuffle once at write time, join shuffle-free forever after.
    Bucket count is a layout contract — size it to (largest fact size /
    target task input) and keep it stable across writers.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def expire_partitions(spark: SparkSession, path: str, keep_months: int) -> list[str]:
    """Retention job (F7): drop whole month partitions older than the
    horizon — pure directory-level delete, no data scan (the JetStream
    max_age / binlog expire_logs_days analog)."""
    root = Path(path)
    months = sorted(
        p.name.split("=", 1)[1] for p in root.glob("event_month=*") if p.is_dir()
    )
    doomed = months[:-keep_months] if keep_months < len(months) else []
    for m in doomed:
        shutil.rmtree(root / f"event_month={m}")
    return doomed

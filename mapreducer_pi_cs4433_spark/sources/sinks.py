"""Write-side connectors: the layout decisions that make 100 TB readable.

The reference's only sink is a TSV part-file directory (SURVEY.md §2.1
S7/S8, with a hand-forced single reducer). At scale the sink IS the
optimization surface: partition pruning and co-located (bucketed) joins are
decided at write time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    max_partitions: int | None = 10_000,
) -> None:
    """Hive-style partitioned parquet: readers filtering on partition_cols
    scan only matching directories (PartitionFilters in the plan — static
    pruning for literal predicates, DYNAMIC pruning when a selective join
    supplies the values at runtime; layout_partition_pruned_rollup pins
    the latter). Choose low-cardinality columns (date, event_type).

    Cardinality guard (ROADMAP r10 candidate #5): a high-cardinality
    partition column — a user id, a near-unique timestamp — turns the
    write into one directory per distinct tuple, each holding a
    near-empty file, and every later listing into the job's real cost;
    the mistake is silent at test scale and catastrophic at 100 TB. The
    guard prices one distinct-count over the partition columns (partial
    aggregation makes it grain-sized, and the count stops at
    max_partitions + 1 — it never enumerates the full blowup) against
    that unbounded layout error, and REFUSES the write instead of
    producing it. ``max_partitions=None`` skips the probe when the
    cardinality is known by construction (e.g. an enum column)."""
    if max_partitions is not None:
        n = (
            df.select(*partition_cols)
            .distinct()
            .limit(max_partitions + 1)
            .count()
        )
        if n > max_partitions:
            raise ValueError(
                f"write_partitioned({partition_cols}) would create more "
                f"than {max_partitions} partition directories — a "
                "small-file explosion. Partition on a lower-cardinality "
                "column, bucket instead (write_bucketed_table), or pass "
                "an explicit higher max_partitions if the layout is "
                "intentional."
            )
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: rows are hash-bucketed by bucket_col at write
    time, so equi-joins and aggregations on that column read co-located
    buckets with NO exchange (the 100 TB answer to repeated joins on the
    same key). Requires saveAsTable (bucket metadata lives in the catalog)."""
    w = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def write_orc(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink (zlib default): the other columnar interchange format —
    same pushdown/pruning/partitioning behavior as parquet in Spark's
    native vectorized reader, preferred by Hive-lineage warehouses.
    Round-trip is schema-exact (tested); read back with
    spark.read.orc(path)."""
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.orc(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one object per line, gzip-friendly, the lingua
    franca of corpus interchange). Timestamps serialize second-truncated so
    re-ingestion through load_jsonl round-trips values exactly."""
    df.write.mode(mode).option(
        "timestampFormat", "yyyy-MM-dd HH:mm:ss"
    ).json(path)


def compact_small_files(
    spark: SparkSession, path: str, target_partitions: int, dest: str | None = None
) -> str:
    """Rewrite a parquet directory at a chosen partition count — the
    maintenance task that keeps file sizes near
    spark.sql.files.maxPartitionBytes after many incremental appends.
    Returns the compacted directory's path.

    Writes to `dest` (default: path + '__compacted') and leaves the swap to
    the caller — deliberately. The round-1 version delete+renamed in place
    through py4j private internals (`sc._jvm` Hadoop FileSystem), which is
    brittle across Spark versions AND unsound at scale: rename is not
    atomic on object stores, so readers racing the swap see a missing or
    half-populated directory either way. Real deployments swap via a
    metadata commit (Iceberg/Delta rewrite-data-files) or by flipping a
    pointer (view/symlink/manifest) — an orchestration concern, not a
    DataFrame one; only public DataFrame APIs are used here.
    """
    out = dest or (path.rstrip("/") + "__compacted")
    spark.read.parquet(path).repartition(target_partitions).write.mode(
        "overwrite"
    ).parquet(out)
    return out


def merge_upsert_snapshot(
    spark: SparkSession,
    base_path: str,
    incoming: DataFrame,
    key: str,
    version_col: str,
    dest: str | None = None,
) -> str:
    """Copy-on-write upsert: merge an incoming batch into a parquet
    snapshot, latest `version_col` per `key` wins (ties go to the incoming
    side), and write a NEW snapshot directory — the table-format-free core
    of what Delta/Iceberg MERGE does, usable anywhere plain parquet lives.

    The winner per key is one max(struct(version, is_incoming, payload))
    aggregate — deterministic tie-break baked into the comparison, single
    shuffle on the key, no window/sort, no join (the two sides just union).
    Like compact_small_files, the swap (pointer flip / metadata commit) is
    left to the caller: in-place rewrites race readers on object stores.

    Returns the new snapshot path.
    """
    base = spark.read.parquet(base_path)
    cols = base.columns
    assert set(incoming.columns) == set(cols), "schema drift between snapshots"
    tagged = base.select(*cols).withColumn(
        "_inc", F.lit(0)
    ).unionByName(incoming.select(*cols).withColumn("_inc", F.lit(1)))
    payload = F.struct(*[F.col(c) for c in cols])
    best = tagged.groupBy(key).agg(
        F.max(
            F.struct(
                F.col(version_col).alias("v"),
                F.col("_inc").alias("i"),
                payload.alias("p"),
            )
        ).alias("b")
    )
    out = dest or (base_path.rstrip("/") + "__merged")
    best.select("b.p.*").write.mode("overwrite").parquet(out)
    return out


_HEX = "0123456789abcdef"


def shard_column(id_col: str, n_shards: int = 16) -> "F.Column":
    """Deterministic shard id 0..n_shards-1 from a key column, engine-neutral.

    shard = (hex0 * 16 + hex1) % n_shards over the first two hex chars of
    md5(key) — a pure codegen expression (no RNG, no engine hash), so the
    assignment is reproducible across engines, runs, and task retries, and
    uniform because md5 is. The DuckDB twin is the identical strpos/substr
    arithmetic; n_shards <= 256 keeps two hex chars sufficient.
    """
    if not 1 <= n_shards <= 256:
        raise ValueError("n_shards must be in [1, 256]")
    c0 = F.expr(f"instr('{_HEX}', substr(md5(cast({id_col} as string)), 1, 1))") - 1
    c1 = F.expr(f"instr('{_HEX}', substr(md5(cast({id_col} as string)), 2, 1))") - 1
    return ((c0 * 16 + c1) % n_shards).cast("int")


def pack_assignments(
    df: DataFrame,
    tokens_col: str,
    partition_col: str,
    order_col: str,
    budget: int,
) -> DataFrame:
    """Assign each row a training-pack id: floor(tokens_before / budget)
    within `partition_col`, rows taken in `order_col` order.

    The deterministic streaming form of sequence packing: no bin-packing
    search, one partitioned window cumsum — so it distributes
    (parallelism = number of partitions; at corpus scale the partition key
    is the ingest shard) and reproduces bit-identically in any engine with
    window SUM. A pack normally fills to >= budget with one straddling
    row; a single row larger than the budget overshoots boundaries, which
    legally skips pack ids and can close the following pack early (the
    property test pins the exact sequential-replay semantics). Adds
    `pack_id` (bigint); input column set is preserved."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(partition_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(tokens_col)).over(w)
    return (
        df.withColumn("_tokens_before", cum - F.col(tokens_col))
        .withColumn("pack_id", F.expr(f"_tokens_before div {int(budget)}"))
        .drop("_tokens_before")
    )


def export_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int = 16,
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Training-data export: hash-sharded, reproducibly ordered parquet.

    The 100 TB export layout: a deterministic shard key (never
    orderBy(rand()) — that is a global sort plus an irreproducible RNG),
    one directory per shard via partitionBy (readers address shards
    independently; a trainer with W workers reads shards w, w+W, ...),
    rows sorted by id WITHIN each shard file (sortWithinPartitions after
    repartitioning on the shard key — no global sort barrier), and
    maxRecordsPerFile bounding file sizes so no shard becomes one
    unsplittable multi-GB file."""
    out = df.withColumn("shard", shard_column(id_col, n_shards))
    (
        out.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", id_col)
        .write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("shard")
        .parquet(path)
    )

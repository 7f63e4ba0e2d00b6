"""Write paths: parquet warehouse sinks and the JDBC/Postgres sink.

The reference's data movement targets Postgres via unlogged staging tables +
server-side merge (rust/src/common.rs:12-13). The Spark equivalents:

- warehouse parquet: atomic directory-swap overwrite (same recipe as the SMO
  snapshot) so readers never see partial writes;
- JDBC append: partitioned parallel INSERT batches (numPartitions writers ×
  batchsize rows, `reWriteBatchedInserts=true` turns them into multi-row
  inserts server-side);
- staged JDBC merge: append into a staging table, then issue one server-side
  INSERT ... ON CONFLICT from staging — bulk ingest without row-by-row
  upserts through the wire. SQL assembly is pure (unit-testable without a
  live server); execution requires a JDBC driver + reachable Postgres.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schemamap_spark.session import batch_shuffle_partitions
from schemamap_spark.sources import fscommit

_IDENT_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_.]*$")


def _stage(target_dir: str, spark) -> tuple[object, str]:
    """Resolve the commit filesystem for `target_dir` (sources/fscommit —
    os.rename for plain paths, the Hadoop FileSystem API for scheme paths
    whose connector has a real metadata rename; copy+delete schemes like
    s3a raise loudly, the round-6 contract) and create the staging temp
    dir next to the target."""
    fs = fscommit.fs_for(target_dir, spark)
    tmp = fs.mktempdir(fscommit.dirname(target_dir), ".write_new_")
    return fs, tmp


def write_parquet_atomic(df: DataFrame, target_dir: str, ordered_by: list[str] | None = None) -> None:
    """Write to a temp dir then swap into place.

    Crash-safe w.r.t. leftovers: a stale '<target>.old' from a previously
    interrupted swap is removed first (os.rename onto a non-empty dir fails
    with ENOTEMPTY on POSIX, which would otherwise wedge every later write).
    The two renames are each atomic but the window between them is not: a
    concurrent reader can see a missing target for an instant, and a crash
    inside the window leaves the previous data in '<target>.old' for manual
    recovery. Single-writer semantics are assumed (the reference's matview
    refresh has the same contract)."""
    fs, tmp = _stage(target_dir, df.sparkSession)
    out = df.orderBy(*ordered_by) if ordered_by else df
    out.write.mode("overwrite").parquet(tmp)
    _swap_into_place(tmp, target_dir, fs)


def _swap_into_place(tmp: str, target_dir: str, fs=None) -> None:
    """Directory-swap tail shared by every warehouse writer (see the
    crash-safety contract in write_parquet_atomic's docstring). `fs` is
    the fscommit filesystem for target_dir; defaults to resolving it
    (plain path → os.rename, scheme path → Hadoop FileSystem rename)."""
    fs = fs or fscommit.fs_for(target_dir)
    old = target_dir.rstrip("/") + ".old"
    if fs.exists(old):
        fs.delete(old)
    if fs.exists(target_dir):
        fs.rename(target_dir, old)
    fs.rename(tmp, target_dir)
    fs.delete(old)


def write_range_sorted(
    df: DataFrame,
    target_dir: str,
    sort_cols: list[str],
    num_files: int | None = None,
) -> None:
    """Range-partitioned, sorted-within-partition parquet write — the layout
    that makes 100 TB scans cheap: every output file covers a DISJOINT
    sort-key range (modulo the boundary value), so parquet min/max footer
    stats let a range predicate skip whole files and row groups instead of
    reading them. Pair with a filter on sort_cols[0]; .explain shows the
    pushed filter, and the footer test asserts the disjointness.

    repartitionByRange samples keys to pick balanced boundaries (no hot
    file); num_files defaults to the batch shuffle width
    (`session.batch_shuffle_partitions`)."""
    if not sort_cols:
        raise ValueError("sort_cols must be non-empty")
    spark = df.sparkSession
    n = num_files or batch_shuffle_partitions(spark)
    out = df.repartitionByRange(n, *sort_cols).sortWithinPartitions(*sort_cols)
    # same atomic temp-dir swap as write_parquet_atomic: readers never see a
    # half-written layout
    fs, tmp = _stage(target_dir, spark)
    out.write.mode("overwrite").parquet(tmp)
    _swap_into_place(tmp, target_dir, fs)


def zorder_column(
    df: DataFrame, cols: list[str], bits: int = 16, binning: str = "minmax"
) -> tuple[DataFrame, str]:
    """Attach a Morton (Z-order) key interleaving `cols` — the multi-column
    generalization of range sorting: clustering by the Z-value keeps rows
    close in EVERY interleaved dimension close on disk, so parquet min/max
    footer stats prune files for predicates on ANY of the columns, not just
    the leading sort key (the Delta/Iceberg OPTIMIZE ZORDER layout, built
    from public Morton-code math).

    Each column is scaled to [0, 2^bits) by its global min/max (a 1-row
    broadcast aggregate — one extra pass, no shuffle), then the scaled
    values' bits interleave: bit i of column j lands at position
    i*len(cols) + j. Pure Column bit arithmetic — whole-stage codegen, no
    UDF. Nulls sort first (scaled to 0). Min/max scaling is the simple
    estimator; heavily skewed columns cluster less evenly than a
    quantile-binned variant would, but pruning stays correct either way
    (footer stats are exact regardless of layout quality).

    binning:
    - "minmax" (default): linear scale by global min/max — one extra
      aggregate pass, no driver data. Skewed columns crowd into few cells
      (pruning stays correct, clustering degrades in the dense region).
    - "quantile": scale by the column's approxQuantile CDF (2^bits
      boundaries, driver-bounded collect like PQ codebooks) — every cell
      holds ~equal mass regardless of skew, at the cost of one sketch pass
      and an O(2^bits) HOF rank per row; pair with a small `bits` (8-10).

    Returns (df_with_key, key_col_name); columns must be numeric/castable
    to double. bits * len(cols) must fit a signed long (<= 62).
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    if bits * len(cols) > 62:
        raise ValueError(
            f"bits*len(cols) must be <= 62 to fit a long, got {bits * len(cols)}"
        )
    if binning not in ("minmax", "quantile"):
        raise ValueError(f"binning must be minmax|quantile, got {binning!r}")
    key = "__zorder"
    top = (1 << bits) - 1

    if binning == "quantile":
        nb = 1 << bits
        if nb > 4096:
            raise ValueError("quantile binning: use bits <= 12 (boundary count)")
        probs = [i / nb for i in range(1, nb)]
        casted = df.select(*df.columns, *[
            F.col(c).cast("double").alias(f"__cast_{j}") for j, c in enumerate(cols)
        ])
        # ONE multi-column approxQuantile pass — the per-column form would
        # re-scan the (potentially huge) input len(cols) times pre-write
        all_bounds = casted.approxQuantile(
            [f"__cast_{j}" for j in range(len(cols))], probs, 0.001
        )
        scaled_cols = []
        for j, bounds in enumerate(all_bounds):
            blit = F.array(*[F.lit(float(b)) for b in bounds])
            # rank = number of boundaries <= value: equal-mass bin in [0, 2^bits)
            scaled_cols.append(
                F.coalesce(
                    F.size(F.filter(blit, lambda b: b <= F.col(f"__cast_{j}"))),
                    F.lit(0),
                ).cast("long")
            )
        out = casted
    else:
        mm = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"__mn_{i}") for i, c in enumerate(cols)],
            *[F.max(F.col(c).cast("double")).alias(f"__mx_{i}") for i, c in enumerate(cols)],
        )
        out = df.crossJoin(F.broadcast(mm))
        scaled_cols = []
        for j, c in enumerate(cols):
            mn, mx = F.col(f"__mn_{j}"), F.col(f"__mx_{j}")
            span = mx - mn
            scaled = F.when(
                span <= F.lit(0.0), F.lit(0).cast("long")
            ).otherwise(
                F.least(
                    F.lit(top).cast("long"),
                    F.floor((F.col(c).cast("double") - mn) / span * F.lit(float(1 << bits))),
                )
            )
            scaled_cols.append(F.coalesce(scaled, F.lit(0).cast("long")))

    z = F.lit(0).cast("long")
    for j, v in enumerate(scaled_cols):
        for i in range(bits):
            bit = F.shiftright(v, i).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, i * len(cols) + j))
    out = out.withColumn(key, z).drop(
        *[f"__mn_{i}" for i in range(len(cols))],
        *[f"__mx_{i}" for i in range(len(cols))],
        *[f"__cast_{i}" for i in range(len(cols))],
    )
    return out, key


def write_zordered(
    df: DataFrame,
    target_dir: str,
    zorder_cols: list[str],
    bits: int = 16,
    num_files: int | None = None,
    binning: str = "minmax",
) -> None:
    """Z-order-clustered parquet write: Morton key -> repartitionByRange
    (sampled balanced boundaries, no hot file) -> sortWithinPartitions ->
    atomic dir swap. The write-side complement to write_range_sorted when
    queries filter on MORE THAN ONE column: a 2-D range predicate prunes
    files in both dimensions instead of only the leading sort key's
    (asserted against the real footers in test_scale_ops)."""
    spark = df.sparkSession
    n = num_files or batch_shuffle_partitions(spark)
    keyed, key = zorder_column(df, zorder_cols, bits, binning)
    out = keyed.repartitionByRange(n, key).sortWithinPartitions(key).drop(key)
    fs, tmp = _stage(target_dir, spark)
    out.write.mode("overwrite").parquet(tmp)
    _swap_into_place(tmp, target_dir, fs)


def write_jdbc_append(
    df: DataFrame,
    url: str,
    table: str,
    num_partitions: int = 8,
    batchsize: int = 10_000,
    properties: dict | None = None,
) -> None:
    """Parallel JDBC append. num_partitions bounds concurrent connections
    (the reference caps connections at 5/role — rust/create_schemamap_users
    .sql:11-17; size accordingly)."""
    (
        df.repartition(num_partitions)
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .option("reWriteBatchedInserts", "true")
        .options(**(properties or {}))
        .mode("append")
        .save()
    )


def staged_merge_sql(
    staging_table: str,
    target_table: str,
    columns: list[str],
    keys: list[str],
    update_cols: list[str] | None = None,
) -> str:
    """Server-side upsert statement from a loaded staging table — the SQL the
    Postgres-backed sink issues after write_jdbc_append(staging). Identifiers
    are validated (the engine never templates unvalidated input, cf. the
    reference's quote_ident guards)."""
    for ident in [staging_table, target_table, *columns, *keys]:
        if not _IDENT_RE.match(ident):
            raise ValueError(f"invalid identifier: {ident!r}")
    update_cols = update_cols or [c for c in columns if c not in keys]
    col_list = ", ".join(columns)
    key_list = ", ".join(keys)
    sets = ", ".join(f"{c} = excluded.{c}" for c in update_cols)
    return (
        f"insert into {target_table} ({col_list})\n"
        f"select {col_list} from {staging_table}\n"
        f"on conflict ({key_list}) do update set {sets}"
    )


def write_point_lookup_optimized(
    df: DataFrame,
    target_dir: str,
    bloom_cols: list[str],
    expected_ndv: int = 1_000_000,
    sort_cols: list[str] | None = None,
) -> None:
    """Parquet layout for needle-in-haystack point lookups: split bloom
    filters on `bloom_cols` (parquet-mr writes one per row group; Spark's
    pushdown consults them for `col = x` predicates, skipping row groups
    min/max stats can't — the high-cardinality, unsorted-column case where
    range stats are useless). Optionally range-sort on `sort_cols` first so
    min/max handles the sorted dimensions and bloom the rest.

    expected_ndv sizes the filter (~1.1 bytes/value at 1% FPP); oversizing
    wastes footer bytes, undersizing inflates the false-positive rate —
    both degrade gracefully, never incorrectly (blooms have no false
    negatives, so results are exact either way)."""
    if not bloom_cols:
        raise ValueError("bloom_cols must be non-empty")
    out = df
    if sort_cols:
        spark = df.sparkSession
        n = batch_shuffle_partitions(spark)
        out = df.repartitionByRange(n, *sort_cols).sortWithinPartitions(*sort_cols)
    writer = out.write.mode("overwrite")
    for c in bloom_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer = writer.option(f"parquet.bloom.filter.expected.ndv#{c}", str(expected_ndv))
    fs, tmp = _stage(target_dir, df.sparkSession)
    writer.parquet(tmp)
    _swap_into_place(tmp, target_dir, fs)


def compact_parquet_dir(
    spark,
    target_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction — the classic ingest debt: streaming appends
    (foreachBatch sinks, rollup stores, dedup fresh dirs) leave thousands
    of KB-sized files whose per-file open/footer cost eventually dominates
    scans. Rewrites the directory into ceil(bytes/target) files via the
    atomic dir swap (readers never see a half-compacted dir), optionally
    re-sorting so footer pruning survives compaction. Returns the new file
    count. Run it off the write path (the store stays readable throughout).
    """
    fs = fscommit.fs_for(target_dir, spark)
    sizes = (
        [s for f, s in fs.listsizes(target_dir) if f.endswith(".parquet")]
        if fs.exists(target_dir)
        else []
    )
    if not sizes:
        raise ValueError(f"no parquet files in {target_dir}")
    n = max(1, -(-sum(sizes) // target_file_bytes))  # ceil
    df = spark.read.parquet(target_dir)
    if sort_cols:
        out = df.repartitionByRange(n, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        out = df.coalesce(n) if n < len(sizes) else df.repartition(n)
    tmp = fs.mktempdir(fscommit.dirname(target_dir), ".write_new_")
    out.write.mode("overwrite").parquet(tmp)
    _swap_into_place(tmp, target_dir, fs)
    return n

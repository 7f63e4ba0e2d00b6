"""Import-time constraint validation.

Validates a typed staging DataFrame against declared column rules before the
merge — the engine-side rendition of the constraints the reference's target
schema declares (not-null, char_length ranges, LIKE checks, uniques, FKs —
docker/test_app_migrations/V001__add_organizations.sql:1-15).

Output contract: a violations DataFrame (row-level, with rule names), so
callers can route clean rows onward and report the rest — never a
driver-side loop. Row-local rules are column expressions. Unique and FK
rules join a key set back: a `unique` rule's duplicate values (a skew-safe
groupBy-count) and an `fk` rule's referenced values.

Each key set is resolved when `validate` is called, one job per `unique` or
`fk` rule, and joined back as an in-memory relation. Every later action over
the result (the import's funnel count, then the write of its merge) reads
those rows instead of recomputing the set, and an empty set (a batch
without duplicates) drops its join from the plan. The set is held on the
driver, as the broadcast that joins it back always did. The result is a
snapshot of the input at call time, which fits an immutable staging batch.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schemamap_spark.session import col_named


@dataclass
class ColumnRule:
    column: str
    not_null: bool = False
    min_length: int | None = None
    max_length: int | None = None
    like: str | None = None          # SQL LIKE pattern the value must match
    unique: bool = False
    fk: tuple[DataFrame, str] | None = None  # (referenced df, referenced column)
    extra: list = field(default_factory=list)  # extra (name, Column-predicate) pairs


def _rule_violation_flags(rule: ColumnRule) -> list[tuple[str, F.Column]]:
    c = col_named(rule.column)
    out: list[tuple[str, F.Column]] = []
    if rule.not_null:
        out.append((f"{rule.column}:not_null", c.isNull()))
    if rule.min_length is not None:
        out.append((f"{rule.column}:min_length", c.isNotNull() & (F.length(c) < rule.min_length)))
    if rule.max_length is not None:
        out.append((f"{rule.column}:max_length", c.isNotNull() & (F.length(c) > rule.max_length)))
    if rule.like is not None:
        out.append((f"{rule.column}:like", c.isNotNull() & ~c.like(rule.like)))
    for name, pred in rule.extra:
        out.append((f"{rule.column}:{name}", pred))
    return out


def _resolved(keys: DataFrame) -> DataFrame:
    """`keys` computed now and re-read as a LocalRelation of the same schema.

    The rows are collected on the JVM and handed straight back to it: no
    Python rows are built and no Python worker starts. Joined through a
    broadcast, the aggregate below `keys` would re-run in every action."""
    spark = keys.sparkSession
    jdf = keys._jdf
    return DataFrame(
        spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema()), spark
    )


def validate(df: DataFrame, rules: list[ColumnRule]) -> DataFrame:
    """Returns df + `violations array<string>` (empty array = clean row).

    Runs one job per `unique` or `fk` rule before it returns: each rule's
    key set is resolved here (see the module docstring), so the set must fit
    in driver memory, the bound the broadcast join already had."""
    flags: list[F.Column] = []
    for rule in rules:
        for name, pred in _rule_violation_flags(rule):
            flags.append(F.when(pred, F.lit(name)))

    out = df
    helper_cols: list[str] = []
    for i, rule in enumerate(rules):
        c = col_named(rule.column)
        if rule.unique:
            # duplicate detection via groupBy + join-back, NOT a window over
            # the raw value: Window.partitionBy(column) sends every row
            # sharing a value to one task, and a constant/low-cardinality
            # staging column (typical of bad import data) hot-spots a single
            # partition. The aggregate gets map-side partial combine, and
            # only the (usually tiny) >1-count key set is joined back.
            dup = f"__dup_{i}"
            dup_keys = _resolved(
                df.filter(c.isNotNull())
                .groupBy(c.alias(dup))
                .agg(F.count(F.lit(1)).alias("__cnt"))
                .filter(F.col("__cnt") > 1)
                .select(dup)
            )
            out = out.join(F.broadcast(dup_keys), c == F.col(dup), "left")
            flags.append(F.when(F.col(dup).isNotNull(), F.lit(f"{rule.column}:unique")))
            helper_cols.append(dup)
        if rule.fk is not None:
            ref_df, ref_col = rule.fk
            fk = f"__fk_{i}"
            ref_keys = _resolved(ref_df.select(col_named(ref_col).alias(fk)).distinct())
            out = out.join(F.broadcast(ref_keys), c == F.col(fk), "left")
            flags.append(
                F.when(c.isNotNull() & F.col(fk).isNull(), F.lit(f"{rule.column}:fk"))
            )
            helper_cols.append(fk)

    out = out.withColumn(
        "violations",
        F.filter(F.array(*flags) if flags else F.array(), lambda x: x.isNotNull()),
    )
    return out.drop(*helper_cols)

"""Import-time constraint validation.

Validates a typed staging DataFrame against declared column rules before the
merge — the engine-side rendition of the constraints the reference's target
schema declares (not-null, char_length ranges, LIKE checks, uniques, FKs —
docker/test_app_migrations/V001__add_organizations.sql:1-15).

Output contract: one pass over the data producing a violations DataFrame
(row-level, with rule names), so callers can route clean rows onward and
report the rest — never a driver-side loop. Unique checks are a skew-safe
groupBy-count joined back; FK checks a broadcast join against the referenced
keys.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def _rule_violation_flags(df: DataFrame, rule: ColumnRule) -> list[tuple[str, F.Column]]:
    c = F.col(rule.column)
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


def validate(df: DataFrame, rules: list[ColumnRule]) -> DataFrame:
    """Returns df + `violations array<string>` (empty array = clean row)."""
    flags: list[F.Column] = []
    for rule in rules:
        for name, pred in _rule_violation_flags(df, rule):
            flags.append(F.when(pred, F.lit(name)))

    out = df
    for rule in rules:
        if rule.unique:
            # duplicate detection via groupBy + join-back, NOT a window over
            # the raw value: Window.partitionBy(column) sends every row
            # sharing a value to one task, and a constant/low-cardinality
            # staging column (typical of bad import data) hot-spots a single
            # partition. The aggregate gets map-side partial combine, and
            # only the (usually tiny) >1-count key set is broadcast back.
            dup_keys = (
                df.filter(F.col(rule.column).isNotNull())
                .groupBy(rule.column)
                .agg(F.count(F.lit(1)).alias("__cnt"))
                .filter(F.col("__cnt") > 1)
                .select(F.col(rule.column).alias(f"__dup_{rule.column}"))
            )
            out = out.join(
                F.broadcast(dup_keys),
                out[rule.column] == dup_keys[f"__dup_{rule.column}"],
                "left",
            )
            flags.append(
                F.when(
                    F.col(f"__dup_{rule.column}").isNotNull(),
                    F.lit(f"{rule.column}:unique"),
                )
            )
        if rule.fk is not None:
            ref_df, ref_col = rule.fk
            ref_keys = ref_df.select(F.col(ref_col).alias(f"__fk_{rule.column}")).distinct()
            out = out.join(
                F.broadcast(ref_keys),
                out[rule.column] == ref_keys[f"__fk_{rule.column}"],
                "left",
            )
            flags.append(
                F.when(
                    F.col(rule.column).isNotNull()
                    & F.col(f"__fk_{rule.column}").isNull(),
                    F.lit(f"{rule.column}:fk"),
                )
            )

    out = out.withColumn(
        "violations",
        F.filter(F.array(*flags) if flags else F.array(), lambda x: x.isNotNull()),
    )
    return out.drop(*[c for c in out.columns if c.startswith("__dup_") or c.startswith("__fk_")])

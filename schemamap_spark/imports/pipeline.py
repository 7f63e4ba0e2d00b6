"""The batch import pipeline.

Reference flow (declared across rust/src/common.rs:10-13, the state machine
SCHEMA:404-450, bidi mapping fns SCHEMA:112-137, staging via unlogged tables):

  staging load (all-string CSV/XLSX/JDBC)        LOADING
    → column mappings (bidi forward fns + casts) LOADED
    → constraint validation                      IMPORTING
    → optimistic merge into the target           IMPORTED (or *_FAILED)

Spark rendition: staging is a plain DataFrame; mappings are Column
expressions; validation emits a row-level violations column; clean rows merge
via merge_upsert; every state change is recorded in a `data_migrations`
bookkeeping frame with version counters (optimistic lock).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from schemamap_spark.imports.states import MigrationState, check_transition
from schemamap_spark.imports.validation import ColumnRule, validate
from schemamap_spark.mapping.bidi import BidiMappingRegistry
from schemamap_spark.session import col_named
from schemamap_spark.sources.merge import merge_upsert


@dataclass
class ImportResult:
    migration_id: int
    state: MigrationState
    loaded_rows: int = 0
    valid_rows: int = 0
    violation_rows: int = 0
    violations: DataFrame | None = None
    merged: DataFrame | None = None
    summary: dict = field(default_factory=dict)


def import_counts(checked: DataFrame) -> DataFrame:
    """One-row funnel accounting over a validated frame: loaded / valid /
    violation_rows computed in a single aggregation, i.e. one scan of the
    staging lineage (scan -> mapping -> validation runs once, not per count)."""
    return checked.agg(
        F.count(F.lit(1)).alias("loaded"),
        F.coalesce(
            F.sum((F.size("violations") == 0).cast("long")), F.lit(0)
        ).alias("valid"),
        F.coalesce(
            F.sum((F.size("violations") > 0).cast("long")), F.lit(0)
        ).alias("violation_rows"),
    )


class ImportPipeline:
    def __init__(self, spark: SparkSession, mappings: BidiMappingRegistry | None = None):
        self.spark = spark
        self.mappings = mappings or BidiMappingRegistry()
        self._migrations: list[dict] = []  # data_migrations bookkeeping rows
        self._next_id = 1

    # --- bookkeeping ---------------------------------------------------
    def _record(self, mde_name: str, source: str) -> int:
        mid = self._next_id
        self._next_id += 1
        self._migrations.append({
            "id": mid,
            "state": MigrationState.LOADING.value,
            "source": source,
            "mde_name": mde_name,
            "import_started_at": dt.datetime.now(dt.timezone.utc),
            "imported_at": None,
            "summary": None,
            "version": 0,
        })
        return mid

    def _transition(self, mid: int, new: MigrationState, summary: dict | None = None) -> None:
        row = next(r for r in self._migrations if r["id"] == mid)
        check_transition(MigrationState(row["state"]), new)
        row["state"] = new.value
        row["version"] += 1
        if summary is not None:
            row["summary"] = str(summary)
        if new is MigrationState.IMPORTED:
            row["imported_at"] = dt.datetime.now(dt.timezone.utc)

    _MIGRATIONS_SCHEMA = (
        "id bigint, state string, source string, mde_name string, "
        "import_started_at timestamp, imported_at timestamp, summary string, "
        "version bigint"
    )

    def data_migrations(self) -> DataFrame:
        return self.spark.createDataFrame(
            [tuple(r.values()) for r in self._migrations], self._MIGRATIONS_SCHEMA
        )

    def save_migrations(self, path: str) -> None:
        """Persist the bookkeeping table (atomic overwrite)."""
        from schemamap_spark.sources.sinks import write_parquet_atomic

        write_parquet_atomic(self.data_migrations(), path, ordered_by=["id"])

    def load_migrations(self, path: str) -> None:
        """Resume bookkeeping from a persisted table (ids continue after max)."""
        rows = self.spark.read.parquet(path).orderBy("id").collect()
        self._migrations = [r.asDict() for r in rows]
        self._next_id = max((r["id"] for r in self._migrations), default=0) + 1

    # --- export (backward) direction -------------------------------------
    def export(
        self,
        df: DataFrame,
        column_mappings: dict[str, tuple[str, str]],
    ) -> DataFrame:
        """Apply BACKWARD mapping functions — target rows → staging-shaped
        output (the reference's bidirectional promise: an `exact` mapping
        round-trips losslessly, SCHEMA:112-137).

        column_mappings: target_col -> (output_col, bidi_mapping_name) —
        the same registry entries used on import, inverted."""
        return df.select(
            *[
                self.mappings.backward(fn_name)(F.col(src)).alias(dst)
                for src, (dst, fn_name) in column_mappings.items()
            ]
        )

    # --- identity reconciliation (pre-merge MDM step) ---------------------
    def reconcile(
        self,
        staging: DataFrame,
        master: DataFrame,
        match_col: str,
        threshold: float = 0.9,
        staging_id_col: str = "id",
        master_id_col: str = "id",
    ) -> DataFrame:
        """Attach each staged row's best-matching master id by fuzzy name
        (normalized char-3-gram Jaccard >= threshold): adds `matched_id`
        (null when nothing clears the threshold — the create-new-entity
        path) and `match_jaccard`. Runs BEFORE merge for sources whose
        natural keys are absent or dirty — the reference stages exactly such
        data (all-string CSV/Sheets payloads) and its master-data premise is
        name-identified entities. Exact prefix-filtered matching; see
        operators/matching.fuzzy_match for the scale posture."""
        from schemamap_spark.operators.matching import fuzzy_match

        matches = fuzzy_match(
            staging,
            master,
            threshold=threshold,
            left_id=staging_id_col,
            left_text=match_col,
            right_id=master_id_col,
            right_text=match_col,
            top=1,
        )
        return staging.join(
            matches.select(
                F.col(staging_id_col + "_left").alias(staging_id_col),
                F.col(master_id_col + "_right").alias("matched_id"),
                F.col("jaccard").alias("match_jaccard"),
            ),
            staging_id_col,
            "left",
        )

    # --- the pipeline ---------------------------------------------------
    def run(
        self,
        staging: DataFrame,
        target: DataFrame,
        keys: list[str],
        column_mappings: dict[str, tuple[str, str]],
        casts: dict[str, str] | None = None,
        rules: list[ColumnRule] | None = None,
        mde_name: str = "unnamed",
        source: str = "CSV",
        version_col: str | None = None,
    ) -> ImportResult:
        """column_mappings: staging_col -> (target_col, bidi_mapping_name);
        casts: target_col -> Spark type string applied after mapping."""
        mid = self._record(mde_name, source)
        loaded = 0
        casts = casts or {}
        try:
            unmapped = set(casts) - {dst for dst, _ in column_mappings.values()}
            if unmapped:
                raise ValueError(f"no mapping produces cast column(s) {sorted(unmapped)}")
            # one projection (one eager analysis) for mappings and casts
            cols = []
            for src, (dst, fn_name) in column_mappings.items():
                c = self.mappings.forward(fn_name)(col_named(src))
                cols.append((c.cast(casts[dst]) if dst in casts else c).alias(dst))
            mapped = staging.select(*cols)
            self._transition(mid, MigrationState.LOADED)
        except Exception as e:  # load/mapping failure path
            self._transition(mid, MigrationState.LOAD_FAILED, {"error": str(e)})
            return ImportResult(mid, MigrationState.LOAD_FAILED, summary={"error": str(e)})

        self._transition(mid, MigrationState.IMPORTING)
        try:
            checked = validate(mapped, rules or [])
            violations = checked.filter(F.size("violations") > 0)
            clean = checked.filter(F.size("violations") == 0).drop("violations")
            # ONE action / ONE scan for the whole funnel accounting — the
            # mapping select preserves row count, so loaded == ok + bad.
            # Counting loaded/violations/clean as three separate actions
            # recomputed scan+mapping+validation three times. validate()
            # has already resolved its key sets, so this count and the
            # later write of `merged` share them; each still parses the
            # staging batch once.
            counts = import_counts(checked).collect()[0]
            loaded, n_ok, n_bad = counts.loaded, counts.valid, counts.violation_rows

            merged = merge_upsert(
                target,
                clean,
                keys=keys,
                version_col=version_col,
                strict=False,
            )
            summary = {"loaded": loaded, "valid": n_ok, "violations": n_bad}
            self._transition(mid, MigrationState.IMPORTED, summary)
            return ImportResult(
                mid, MigrationState.IMPORTED, loaded, n_ok, n_bad,
                violations=violations, merged=merged, summary=summary,
            )
        except Exception as e:
            self._transition(mid, MigrationState.IMPORT_FAILED, {"error": str(e)})
            return ImportResult(mid, MigrationState.IMPORT_FAILED, loaded, summary={"error": str(e)})

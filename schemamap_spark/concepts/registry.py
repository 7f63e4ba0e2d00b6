"""Dynamic concept registry + wide `columns` view builder.

The reference lets users register new boolean "concepts" at runtime
(`define_concept`, reference rust/create_schemamap_schema.sql:1005-1018) and
then regenerates a wide `columns` view with one `is_<name>` column per
registered concept (SCHEMA:1090-1120). Here that metaprogramming is plain
Python: a dict of Column-expression factories and a select() regeneration —
no SQL-string templating of user input.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame

from schemamap_spark.concepts.builtins import BUILTIN_CONCEPTS

_IDENT_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$")

ConceptFn = Callable[[object], Column]


class ConceptRegistry:
    def __init__(self, include_builtins: bool = True):
        self._concepts: dict[str, ConceptFn] = dict(BUILTIN_CONCEPTS) if include_builtins else {}
        # bumped on every (re)definition — lets consumers (engine.columns)
        # memoize the PLAN of the concept-wide view per registry state and
        # still see new concepts immediately (the reference's view is
        # regenerated on define, not on every SELECT)
        self.version = 0

    def define(self, name: str, fn: ConceptFn) -> str:
        """Register (or replace) a concept. Idempotent, like the reference's
        `create or replace function` (SCHEMA:1010)."""
        if not _IDENT_RE.match(name):
            raise ValueError(f"invalid concept name: {name!r}")
        self._concepts[name] = fn
        self.version += 1
        return name

    def builtin_definitions(self) -> tuple:
        """(name, factory) per builtin concept: unchanged by a define of a new
        name, changed by redefining a builtin (functions compare by identity)."""
        return tuple((n, self._concepts.get(n)) for n in sorted(BUILTIN_CONCEPTS))

    def names(self) -> list[str]:
        return sorted(self._concepts)

    def column(self, name: str, smo) -> Column:
        return self._concepts[name](smo)

    def wide_columns(self, smo_df: DataFrame) -> DataFrame:
        """SMO → `columns` view: SMO columns + one is_<concept> boolean each.

        Regenerated on every call, so newly defined concepts appear
        immediately (reference's redefine_smo_view_with_concepts).

        Builtins that have NOT been overridden take the parse-once SQL
        form (BUILTIN_CONCEPT_SQL — one JVM parse each instead of a
        dozen py4j round trips per F.exists lambda; guide §1.2); a
        user-redefined or new concept uses its Column factory. Both
        forms are pinned row-equal by tests/test_concepts.py."""
        from pyspark.sql import functions as F

        from schemamap_spark.concepts.builtins import BUILTIN_CONCEPT_SQL

        cols = []
        for n in self.names():
            fn = self._concepts[n]
            sql = (
                BUILTIN_CONCEPT_SQL.get(n)
                if fn is BUILTIN_CONCEPTS.get(n)
                else None
            )
            cols.append(
                F.expr(sql).alias(f"is_{n}") if sql else fn(smo_df).alias(f"is_{n}")
            )
        return smo_df.select("*", *cols)

"""Catalog: name -> relation (DataFrame) + named schemas + stream metadata.

Parity target: the reference's catalog is a stub HashMap with the comment
"should be logical plan" (fsql/Catalog.scala:9-17); external RDBMS
introspection via schemacrawler (flinkdsl/database.scala:11-31).  Here the
catalog holds real Spark DataFrames (logical plans — exactly what the stub
wanted), `StructType`s for CREATE SCHEMA (incl. single inheritance), and
per-stream engine options (watermark — an extension, SURVEY.md §7.0(4)).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .ast_nodes import ColumnDef
from .errors import ResolutionError

# DDL type name -> Spark type (fsql/parser.scala:355 palette + extensions;
# SURVEY.md §1.2 mapping table).
_TYPE_MAP = {
    "int": T.IntegerType(),
    "string": T.StringType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "byte": T.ByteType(),
    "short": T.ShortType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "character": T.StringType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
    "decimal": T.DecimalType(38, 18),
    "binary": T.BinaryType(),
}


def column_defs_to_struct(cols: list[ColumnDef]) -> T.StructType:
    fields = []
    for c in cols:
        try:
            dt = _TYPE_MAP[c.type_name]
        except KeyError:
            raise ResolutionError(f"unknown type name {c.type_name!r}")
        fields.append(T.StructField(c.name, dt, nullable=True))
    return T.StructType(fields)


@dataclass
class StreamMeta:
    """Engine metadata for a registered stream/table."""

    name: str
    is_stream: bool = False                  # unbounded (readStream) vs bounded
    event_time_col: Optional[str] = None     # default time column for windows
    watermark: Optional[str] = None          # e.g. "10 seconds" (extension)
    source_desc: str = "registered"
    # the DDL kind that created the relation ('stream' | 'table' | None
    # for API registrations).  DROP's kind guard checks this rather than
    # DataFrame.isStreaming: a file/derived CREATE STREAM registers a
    # non-streaming DataFrame in batch mode, so isStreaming alone would
    # let `DROP TABLE <stream>` through (round-7 ADVICE).
    kind: Optional[str] = None
    # the registered plan already contains a stateful streaming pass
    # (applyInPandasWithState — a derived view with streaming OVER or
    # a stateful count/delta window).  The planner adds this to its
    # one-stateful-pass count when the view is used as a leaf, so a
    # second pass layered over it is rejected at PLAN time with the
    # scope message instead of surfacing Spark's raw
    # UnsupportedOperationChecker error at start() (round-10 ADVICE).
    stateful: bool = False


class Catalog:
    """name -> DataFrame registry + CREATE SCHEMA registry."""

    def __init__(self, spark):
        self.spark = spark
        self._relations: dict[str, DataFrame] = {}
        self._meta: dict[str, StreamMeta] = {}
        self._schemas: dict[str, T.StructType] = {}
        # facts about a relation, computed on first use and dropped by
        # register/unregister (the one place a relation changes): its
        # column names (a schema fetch each), and its frame aliased per
        # binding (a Dataset.as re-analysis each)
        self._columns: dict[str, tuple[str, ...]] = {}
        self._aliased: dict[str, dict[str, DataFrame]] = {}

    # --- named schemas (CREATE SCHEMA) ---

    def register_schema(self, name: str, cols: list[ColumnDef],
                        extends: Optional[str] = None) -> T.StructType:
        """CREATE SCHEMA w/ single inheritance: parent fields first, then
        child fields (fsql/Ast.scala:49-51)."""
        own = column_defs_to_struct(cols)
        key = name.lower()
        if extends is not None:
            parent = self.get_schema(extends)
            dup = {f.name.lower() for f in parent.fields} & {
                f.name.lower() for f in own.fields}
            if dup:
                raise ResolutionError(
                    f"schema {name!r} redefines inherited column(s) {sorted(dup)}")
            own = T.StructType(list(parent.fields) + list(own.fields))
        self._schemas[key] = own
        return own

    def get_schema(self, name: str) -> T.StructType:
        try:
            return self._schemas[name.lower()]
        except KeyError:
            raise ResolutionError(f"unknown schema {name!r}")

    def has_schema(self, name: str) -> bool:
        return name.lower() in self._schemas

    # --- relations ---

    def register(self, name: str, df: DataFrame,
                 meta: Optional[StreamMeta] = None) -> None:
        key = name.lower()
        if meta is None:
            # Re-registration without explicit meta (INSERT/UPDATE/DELETE
            # rewrite the relation in place): keep the prior declared
            # kind / event-time column instead of wiping them.
            prior = self._meta.get(key)
            if prior is not None:
                meta = replace(prior, is_stream=df.isStreaming)
            else:
                meta = StreamMeta(name, is_stream=df.isStreaming)
        self._relations[key] = df
        self._meta[key] = meta
        self._forget(key)
        # also expose to spark.sql for the SQL-compilation path
        df.createOrReplaceTempView(name)

    def unregister(self, name: str) -> bool:
        """Remove a relation (and its temp view) from the catalog;
        returns whether it was registered."""
        key = name.lower()
        existed = key in self._relations
        self._relations.pop(key, None)
        self._meta.pop(key, None)
        self._forget(key)
        try:
            self.spark.catalog.dropTempView(name)
        except Exception:    # noqa: BLE001 — view may not exist
            pass
        return existed

    def get(self, name: str) -> DataFrame:
        try:
            return self._relations[name.lower()]
        except KeyError:
            if name.lower() == "dual":
                # `dual` pseudo-table: one row, one dummy column
                # (flinkdsl/typer.scala_:355-357, 368-375)
                from pyspark.sql import functions as F
                return self.spark.range(1).select(
                    F.lit("X").alias("dummy"))
            raise ResolutionError(f"unknown stream or table {name!r}")

    def meta(self, name: str) -> StreamMeta:
        return self._meta[name.lower()]

    def has(self, name: str) -> bool:
        return name.lower() in self._relations

    def columns(self, name: str) -> tuple[str, ...]:
        key = name.lower()
        cols = self._columns.get(key)
        if cols is None:
            cols = self._columns[key] = tuple(self.get(name).columns)
        return cols

    def aliased(self, name: str, binding: str) -> DataFrame:
        """``get(name).alias(binding)``, built once per binding."""
        key = name.lower()
        df = self._aliased.get(key, {}).get(binding)
        if df is None:
            df = self.get(name).alias(binding)
            self._aliased.setdefault(key, {})[binding] = df
        return df

    def _forget(self, key: str) -> None:
        self._columns.pop(key, None)
        self._aliased.pop(key, None)

    def names(self) -> list[str]:
        return sorted(self._relations)

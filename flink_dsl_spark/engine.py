"""FsqlEngine: the user-facing entry point.

Lifecycle parity (SURVEY.md §3.1): SQL text -> parse -> resolve ->
plan (DataFrame emission) -> Catalyst analyzes/optimizes/executes.
The three phases are timed like the reference's Timer
(fsql/parser.scala:414-423).
"""

from __future__ import annotations

import os
import shutil
import threading
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

from .ast_nodes import (
    CreateSchema, CreateStream, DerivedSource, FileSource, HostSource,
    RateSource, Select, SetOp,
)
from .catalog import Catalog, StreamMeta, column_defs_to_struct
from .errors import PlanError, UnsupportedError
from .functions import FunctionRegistry
from .parser import parse, parse_many
from .planner import Planner
from .resolver import Resolver
from .session import get_session
from .streaming.stateful import has_python_state
from .timer import Timer

# Extension -> reader format.  "tsv" is resolved to csv + tab separator
# at reader construction.  .gz/.zst/.bz2 suffixes are transparent to
# Spark's text-based readers, so the map strips one compression suffix
# before matching (corpus dumps ship as .jsonl.gz more often than not).
_EXT_FORMAT = {".parquet": "parquet", ".csv": "csv", ".tsv": "tsv",
               ".json": "json", ".jsonl": "json", ".ndjson": "json",
               ".txt": "text", ".text": "text"}
_COMPRESSION_EXTS = (".gz", ".zst", ".bz2", ".deflate", ".snappy")

# Runtime-settable SQL confs the engine's results depend on.  They are
# applied to whatever SparkSession the caller hands us (callers are NOT
# required to build their session via session.get_session):
#  - nanosAsLong: older driver testdata was parquet TIMESTAMP(NANOS);
#    without this, spark.read.parquet raises PARQUET_TYPE_ILLEGAL.
#  - inferTimestampNTZ disabled: parquet micros WITHOUT a timezone
#    annotation (isAdjustedToUTC=false — what the driver testdata ships
#    now) would otherwise load as TIMESTAMP_NTZ, which Structured
#    Streaming watermarks reject and several epoch-arithmetic paths
#    can't cast.  With the session timezone forced to UTC the LTZ
#    reading denotes the same wall clock, so this is lossless.
#  - UTC session timezone: window bounds and make_timestamp-based
#    oracles assume UTC.
#  - Arrow: pandas-UDF paths (llm_ops) use Arrow batch transfer.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


_START_LOCK = threading.Lock()


def _warehouse_leftover(wh: str, name: str) -> Optional[str]:
    """``<warehouse>/<name.lower()>`` IFF that path is a direct child of
    the warehouse root — else None.  Quoted identifiers reach the engine
    verbatim, so ``name`` may contain ``/`` or ``..``; without this
    containment check, ``drop table "../../victim"`` would rmtree an
    arbitrary directory (round-7 ADVICE, high).  Resolves symlinks via
    realpath so a crafted link inside the warehouse can't escape either."""
    if not wh:
        return None
    cand = os.path.join(wh, name.lower())
    try:
        real_wh = os.path.realpath(wh)
        real_cand = os.path.realpath(cand)
    except OSError:
        return None
    if os.path.dirname(real_cand) != real_wh:
        return None
    return cand


class FsqlEngine:
    """FSQL front-end over a SparkSession.

    SIDE EFFECT: constructing an engine mutates the supplied session's
    runtime SQL confs — it forces ``_REQUIRED_CONFS`` (parquet
    nanosAsLong, UTC session timezone, Arrow) and, when
    ``spark.sql.shuffle.partitions`` still reads Spark's out-of-the-box
    200, rewrites it to the cluster parallelism.  Other workloads
    sharing the session see these values (notably timezone-sensitive
    queries).  ``close()`` restores every conf this constructor
    changed to its prior value, and removes the temporary directories
    the engine made.
    """

    def __init__(self, spark: Optional[SparkSession] = None,
                 streaming: bool = False, timer: bool = False):
        self.spark = spark or get_session()
        self._prior_confs: dict[str, Optional[str]] = {}
        for k, v in _REQUIRED_CONFS.items():
            self._remember_conf(k)
            self.spark.conf.set(k, v)
        # Size the shuffle/state-store partition count to the actual
        # cluster parallelism when the caller's session still has
        # Spark's out-of-the-box 200 (an explicitly-chosen value is
        # indistinguishable from the default, so only 200 is touched):
        # 200 state-store tasks on a 32-core local session multiplies
        # every stateful-streaming and join stage's overhead.
        if self.spark.conf.get("spark.sql.shuffle.partitions",
                               "200") == "200":
            self._remember_conf("spark.sql.shuffle.partitions")
            self.spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(self.spark.sparkContext.defaultParallelism))
        self.streaming = streaming          # CREATE STREAM uses readStream
        self.catalog = Catalog(self.spark)
        self.registry = FunctionRegistry()
        self.resolver = Resolver(self.catalog)
        self.planner = Planner(self.catalog, self.registry, self.resolver)
        self.timer = Timer(enabled=timer)
        self._stream_dirs: dict[str, str] = {}     # see _stream_dir
        # streams start_sink started and close() stops
        self._queries: list = []

    def _remember_conf(self, key: str) -> None:
        """Record ``key``'s pre-engine value (None = unset) once, so
        close() can restore it.  First engine to touch a key wins."""
        if key not in self._prior_confs:
            try:
                prior = self.spark.conf.get(key)
            except Exception:
                prior = None
            self._prior_confs[key] = prior

    def close(self) -> None:
        """Restore every session conf the constructor changed to its
        pre-engine value (unset keys are unset again), stop the
        streams ``start_sink`` started that still run, then remove the
        symlink directories ``register_stream_parquet`` made for
        single files: each was made by this engine, and none of its
        streams reads it any more.  Does not stop the SparkSession —
        the caller owns it."""
        for q in self._queries:
            if q.isActive:
                q.stop()
        self._queries = []
        for d in self._stream_dirs.values():
            shutil.rmtree(d, ignore_errors=True)
        self._stream_dirs = {}
        for k, prior in self._prior_confs.items():
            if prior is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, prior)
        self._prior_confs = {}

    # ------------------------------------------------------------------
    # registration API
    # ------------------------------------------------------------------

    def register(self, name: str, df: DataFrame,
                 event_time_col: Optional[str] = None,
                 watermark: Optional[str] = None,
                 kind: Optional[str] = None,
                 stateful: bool = False) -> None:
        """Register a DataFrame as a stream/table.  ``watermark`` is an
        engine extension (reference has no late-data handling,
        SURVEY.md §7.0(4)).  ``kind`` records the creating DDL form
        ('stream' | 'table') so DROP's kind guard works even when a
        batch-mode CREATE STREAM registers a non-streaming DataFrame.
        ``stateful`` marks a plan that already carries a stateful
        streaming pass (see StreamMeta.stateful)."""
        df = _coerce_ntz(df)
        if watermark and event_time_col and df.isStreaming:
            df = df.withWatermark(event_time_col, watermark)
        if kind is None and self.catalog.has(name):
            # API re-registration of a DDL-created relation: inherit the
            # prior declared kind (mirrors Catalog.register's meta=None
            # preservation) so DROP's kind guard keeps working
            kind = self.catalog.meta(name).kind
        self.catalog.register(
            name, df,
            StreamMeta(name, is_stream=df.isStreaming,
                       event_time_col=event_time_col, watermark=watermark,
                       kind=kind, stateful=stateful))

    def register_parquet(self, name: str, path: str,
                         event_time_col: Optional[str] = None) -> None:
        """Register a parquet file or directory as a batch relation.  A
        file is read with its footer schema (``_parquet_file_schema``),
        so no inference job runs; a directory keeps Spark's inference,
        which chooses the footer or summary file to read."""
        reader = self.spark.read
        if os.path.isfile(path):
            reader = reader.schema(_parquet_file_schema(self.spark, path))
        df = _restore_nano_timestamps(reader.parquet(path), path)
        self.register(name, df, event_time_col=event_time_col)

    def register_bucketed(self, name: str,
                          table: Optional[str] = None) -> None:
        """Register a bucketed catalog table (written with
        ``bucketing.write_bucketed``) as an engine relation.  The scan
        keeps the table's bucket partitioning, so FSQL joins and
        aggregations on the bucket key run without an exchange — the
        shuffle was paid once at write time (see bucketing.py)."""
        self.register(name, self.spark.table(table or name), kind="table")

    def register_stream_parquet(self, name: str, path: str,
                                event_time_col: Optional[str] = None,
                                watermark: Optional[str] = None,
                                max_files_per_trigger: Optional[int] = None
                                ) -> None:
        """Register a parquet file or directory as a STREAMING relation
        (file stream).  A file's schema comes from its footer, through
        Spark's own converter, without a Spark job; a directory's from
        Spark's schema inference.  The file-stream source reads
        directories, so a file is streamed from a directory holding a
        symlink to it, made once per file and engine and shared by
        every name registered on that file.  Nano-timestamp columns are
        restored the same way as the batch path."""
        if os.path.isfile(path):
            schema = _parquet_file_schema(self.spark, path)
            stream_path = self._stream_dir(path)
        else:
            schema = self.spark.read.parquet(path).schema
            stream_path = path
        reader = self.spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   max_files_per_trigger)
        df = _restore_nano_timestamps(reader.parquet(stream_path), path)
        self.register(name, df, event_time_col=event_time_col,
                      watermark=watermark)

    def _stream_dir(self, path: str) -> str:
        """The directory that streams the parquet file ``path``: one
        temporary directory per absolute path, holding a symlink to the
        file, reused whenever the file is registered again."""
        path = os.path.abspath(path)
        d = self._stream_dirs.get(path)
        if d is None:
            import tempfile
            d = tempfile.mkdtemp(prefix="fsql_stream_")
            os.symlink(path, os.path.join(d, os.path.basename(path)))
            self._stream_dirs[path] = d
        return d

    def load_dir(self, sf_dir: str) -> None:
        """Register every ``<table>.parquet`` under a testdata dir.
        The ``events`` table gets ``ts`` as its event-time column."""
        for fname in sorted(os.listdir(sf_dir)):
            if not fname.endswith(".parquet"):
                continue
            name = fname[:-len(".parquet")]
            et = "ts" if name == "events" else None
            self.register_parquet(name, os.path.join(sf_dir, fname),
                                  event_time_col=et)

    # ------------------------------------------------------------------
    # SQL entry points
    # ------------------------------------------------------------------

    def sql(self, text: str, params: Optional[list] = None):
        """Execute one statement.  Queries return a DataFrame; DDL returns
        None; INSERT returns the updated relation."""
        with self.timer.phase("parse"):
            stmt = parse(text)
        return self._run(stmt, params)

    def sql_script(self, text: str, params: Optional[list] = None):
        """Execute a ;-separated script, returning the last result."""
        with self.timer.phase("parse"):
            stmts = parse_many(text)
        result = None
        for stmt in stmts:
            result = self._run(stmt, params)
        return result

    def _run(self, stmt, params):
        from .ast_nodes import Explain
        if isinstance(stmt, Explain):
            with self.timer.phase("resolve"):
                self.resolver.resolve(stmt.query)
            with self.timer.phase("plan"):
                df = self.planner.plan(stmt.query, params)
            import io
            from contextlib import redirect_stdout
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain(mode=stmt.mode)
            lines = buf.getvalue().rstrip("\n").split("\n")
            return self.spark.createDataFrame(
                [(ln,) for ln in lines], "plan string")
        if isinstance(stmt, CreateSchema):
            self.catalog.register_schema(stmt.name, stmt.columns,
                                         stmt.extends)
            return None
        if isinstance(stmt, CreateStream):
            return self._create_stream(stmt, params)
        from .ast_nodes import CreateBucketedTable, DropRelation, Insert
        if isinstance(stmt, CreateBucketedTable):
            return self._create_bucketed_table(stmt, params)
        if isinstance(stmt, DropRelation):
            return self._drop_relation(stmt)
        if isinstance(stmt, Insert) and stmt.source is not None:
            return self._insert_from_source(stmt)
        # RecursiveWith falls through: resolver.resolve is a no-op
        # for it (CTE names are not catalog relations) and
        # planner.plan renders the native WITH RECURSIVE SQL
        with self.timer.phase("resolve"):
            self.resolver.resolve(stmt)
        with self.timer.phase("plan"):
            df = self.planner.plan(stmt, params)
        return df

    # ------------------------------------------------------------------
    # CREATE STREAM (fsql/Ast.scala:70-87)
    # ------------------------------------------------------------------

    def _drop_relation(self, stmt):
        """DROP STREAM|TABLE [IF EXISTS]: both forms unregister the
        relation and its temp view; DROP TABLE additionally removes
        the Spark catalog table and its DATA — including a stale
        warehouse directory a NEW session's in-memory catalog no
        longer owns (mirror of _create_bucketed_table's self-heal).
        Kind guards both ways: DROP STREAM refuses a catalog table,
        DROP TABLE refuses a relation DECLARED as a stream (catalog
        metadata kind, not DataFrame.isStreaming — file/derived streams
        register bounded DataFrames in batch mode) — a typo'd kind can
        never silently delete the wrong thing."""
        import shutil
        from urllib.parse import urlparse
        # backtick-quote: quoted identifiers may contain dots/dashes
        # that tableExists would otherwise parse as name parts
        is_cat_table = self.spark.catalog.tableExists(
            f"default.`{stmt.name}`")
        known = self.catalog.has(stmt.name)
        wh = urlparse(
            self.spark.conf.get("spark.sql.warehouse.dir")).path
        # containment-checked: a quoted name with '/' or '..' must not
        # map to a directory outside the warehouse
        leftover = _warehouse_leftover(wh, stmt.name)
        orphan_dir = (stmt.kind == "table" and not is_cat_table
                      and leftover and os.path.isdir(leftover))
        if not known and not is_cat_table and not orphan_dir:
            if stmt.if_exists:
                return None
            raise PlanError(f"unknown {stmt.kind} {stmt.name!r}")
        declared = self.catalog.meta(stmt.name).kind if known else None
        # honor the DECLARED kind when it matches the DROP form: a
        # CREATE STREAM that shadows a same-named catalog table must
        # stay droppable (DROP STREAM unregisters the stream, then the
        # re-exposed catalog table drops with DROP TABLE)
        if stmt.kind == "stream" and (
                declared == "table"
                or (declared is None and is_cat_table)):
            raise PlanError(
                f"{stmt.name!r} is a table (its data lives in the "
                "session catalog) — use DROP TABLE")
        if stmt.kind == "table" and known and (
                declared == "stream"
                or self.catalog.get(stmt.name).isStreaming):
            raise PlanError(
                f"{stmt.name!r} is a stream — use DROP STREAM")
        self.catalog.unregister(stmt.name)
        if stmt.kind == "table":
            if is_cat_table:
                self.spark.sql(
                    f"DROP TABLE IF EXISTS default.`{stmt.name}`")
            if leftover and os.path.isdir(leftover):
                # cross-session orphan: catalog forgot it, disk didn't
                shutil.rmtree(leftover)
        return None

    def _create_bucketed_table(self, stmt, params):
        """CREATE TABLE ... BUCKETED BY ... AS select: plan the query,
        write it through bucketing.write_bucketed (the write-once
        shuffle), and register the re-read handle so every subsequent
        FSQL join/agg on the bucket key scans pre-partitioned data."""
        from .bucketing import write_bucketed
        with self.timer.phase("resolve"):
            self.resolver.resolve(stmt.query)
        with self.timer.phase("plan"):
            df = self.planner.plan(stmt.query, params)
        missing = [c for c in stmt.bucket_cols + (stmt.sort_cols or [])
                   if c not in df.columns]
        if missing:
            raise PlanError(
                f"bucket/sort column(s) {', '.join(missing)} not in "
                f"query output ({', '.join(df.columns)})")
        # self-heal a stale managed-table location: the default catalog
        # is in-memory, so a NEW session forgets the table while its
        # warehouse directory persists — saveAsTable would then fail
        # with LOCATION_ALREADY_EXISTS on a perfectly reasonable rerun.
        # Only ever removes a directory the catalog does NOT own, and
        # only a containment-checked direct child of the warehouse
        # (same guard as DROP — quoted names may contain '/' or '..').
        if not self.spark.catalog.tableExists(f"default.`{stmt.name}`"):
            import shutil
            from urllib.parse import urlparse
            wh = urlparse(
                self.spark.conf.get("spark.sql.warehouse.dir")).path
            leftover = _warehouse_leftover(wh, stmt.name)
            if leftover and os.path.isdir(leftover):
                shutil.rmtree(leftover)
        handle = write_bucketed(df, stmt.name, stmt.bucket_cols,
                                stmt.num_buckets,
                                sort_cols=stmt.sort_cols)
        self.register(stmt.name, handle, kind="table")
        return None

    def _create_stream(self, stmt: CreateStream, params):
        schema = None
        if isinstance(stmt.schema, str):
            schema = self.catalog.get_schema(stmt.schema)
        elif isinstance(stmt.schema, list):
            schema = column_defs_to_struct(stmt.schema)

        src = stmt.source
        if isinstance(src, DerivedSource):
            with self.timer.phase("resolve"):
                self.resolver.resolve(src.query)
            with self.timer.phase("plan"):
                df = self.planner.plan(src.query, params)
            # the plan's stateful-pass mark, read before the rename,
            # counts toward the one-pass limit of later uses (catalog)
            stateful = has_python_state(df)
            if schema is not None:
                df = df.toDF(*[f.name for f in schema.fields])
            self.register(stmt.name, df, kind="stream", stateful=stateful)
            return None

        if isinstance(src, FileSource):
            fmt = src.format or self._infer_format(src.path)
            if self.streaming:
                reader = self.spark.readStream.format(
                    self._reader_format(fmt))
                if schema is None:
                    raise PlanError(
                        "streaming file source requires an explicit schema")
                reader = reader.schema(schema)
            else:
                reader = self.spark.read.format(self._reader_format(fmt))
                if schema is None and fmt == "parquet" \
                        and os.path.isfile(src.path):
                    schema = _parquet_file_schema(self.spark, src.path)
                if schema is not None:
                    reader = reader.schema(schema)
            reader = self._delimited_options(reader, fmt)
            df = reader.load(src.path)
            if not self.streaming and fmt == "parquet":
                df = _restore_nano_timestamps(df, src.path)
            self.register(stmt.name, df, kind="stream")
            return None

        if isinstance(src, HostSource):
            # TCP text source (fsql/Ast.scala:77-80) — inherently streaming
            df = (self.spark.readStream.format("socket")
                  .option("host", src.host).option("port", src.port).load())
            df = self._parse_text_lines(df, schema)
            self.register(stmt.name, df, kind="stream")
            return None

        if isinstance(src, RateSource):
            df = (self.spark.readStream.format("rate")
                  .option("rowsPerSecond", src.rows_per_second).load())
            self.register(stmt.name, df, event_time_col="timestamp",
                          kind="stream")
            return None

        if src is None:
            # declared stream without a source: empty relation w/ schema
            if schema is None:
                raise PlanError(
                    f"stream {stmt.name!r} needs a schema or a source")
            df = self.spark.createDataFrame([], schema)
            self.register(stmt.name, df, kind="stream")
            return None
        raise UnsupportedError(f"unknown source {type(src).__name__}")

    def _insert_from_source(self, stmt) -> DataFrame:
        """``INSERT INTO stream <source>`` (fsql/parser.scala:268-277) —
        append the source's rows into an existing stream relation.  The
        inserted columns' schema is taken from the target, so the source
        parses/casts to the right types."""
        from pyspark.sql.types import StructType

        target = self.catalog.get(stmt.table)
        lower = {c.lower(): c for c in target.columns}
        try:
            cols = [lower[c.lower()] for c in (stmt.columns
                                               or target.columns)]
        except KeyError as e:
            raise PlanError(f"unknown column {e.args[0]!r} in INSERT "
                            f"into {stmt.table!r}")
        ins_schema = StructType([target.schema[c] for c in cols])

        src = stmt.source
        if isinstance(src, FileSource):
            fmt = src.format or self._infer_format(src.path)
            if self.streaming or target.isStreaming:
                reader = self.spark.readStream.format(
                    self._reader_format(fmt)).schema(ins_schema)
            else:
                reader = self.spark.read.format(
                    self._reader_format(fmt)).schema(ins_schema)
            reader = self._delimited_options(reader, fmt)
            new = reader.load(src.path)
        elif isinstance(src, HostSource):
            lines = (self.spark.readStream.format("socket")
                     .option("host", src.host).option("port", src.port)
                     .load())
            new = self._parse_text_lines(lines, ins_schema)
        elif isinstance(src, RateSource):
            new = (self.spark.readStream.format("rate")
                   .option("rowsPerSecond", src.rows_per_second).load())
        else:
            raise UnsupportedError(
                f"unsupported INSERT source {type(src).__name__}")

        if new.isStreaming != target.isStreaming:
            raise PlanError(
                f"INSERT source is {'streaming' if new.isStreaming else 'batch'} "
                f"but target {stmt.table!r} is not — register the target in "
                "the matching mode (FsqlEngine(streaming=True) for streams)")
        from pyspark.sql import functions as F
        dtypes = dict(target.dtypes)
        for c in target.columns:
            if c not in cols:
                new = new.withColumn(c, F.lit(None).cast(dtypes[c]))
        updated = target.unionByName(new.select(*target.columns))
        self.catalog.register(stmt.table, updated)
        return updated

    def _parse_text_lines(self, df: DataFrame, schema):
        """Socket lines -> typed columns via CSV parsing of the value
        column (comma-separated, matching the reference's socket-text
        intent)."""
        if schema is None:
            return df
        from pyspark.sql import functions as F
        csv_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                               for f in schema.fields)
        return df.select(
            F.from_csv(F.col("value"), csv_schema).alias("r")).select("r.*")

    @staticmethod
    def _reader_format(fmt: str) -> str:
        """Map engine format names to Spark reader formats: "tsv" is
        csv with a tab separator (set in _delimited_options), and the
        jsonl/ndjson names the docs advertise resolve to Spark's json
        reader whether they arrive by extension OR as an explicit
        ``file('path', 'jsonl')`` format argument."""
        return {"tsv": "csv", "jsonl": "json", "ndjson": "json"} \
            .get(fmt, fmt)

    @staticmethod
    def _delimited_options(reader, fmt: str):
        if fmt in ("csv", "tsv"):
            reader = reader.option("header", "false")
        if fmt == "tsv":
            reader = reader.option("sep", "\t")
        return reader

    @staticmethod
    def _infer_format(path: str) -> str:
        def match(name: str) -> str | None:
            base = name
            for c in _COMPRESSION_EXTS:
                if base.endswith(c):
                    base = base[:-len(c)]
                    break
            for ext, fmt in _EXT_FORMAT.items():
                if base.endswith(ext):
                    return fmt
            return None

        if os.path.isdir(path):
            # a stream directory carries no extension itself: sniff the
            # member data files (skips _spark_metadata/dotfiles).  On a
            # remote filesystem the listing is unavailable — declare the
            # format explicitly in the DDL there.
            try:
                for fname in sorted(os.listdir(path)):
                    if fname.startswith((".", "_")):
                        continue
                    fmt = match(fname)
                    if fmt is not None:
                        return fmt
            except OSError:
                pass
            return "parquet"
        return match(path) or "parquet"

    # ------------------------------------------------------------------
    # sinks (engine extension: the reference defines no sink syntax —
    # SURVEY.md §2.1 "Sinks: none exist in the reference")
    # ------------------------------------------------------------------

    def start_sink(self, df: DataFrame, format: str = "memory",
                   path: Optional[str] = None, name: Optional[str] = None,
                   output_mode: str = "append",
                   available_now: bool = True,
                   checkpoint: Optional[str] = None, **options):
        """Write a streaming DataFrame to a sink; returns the
        StreamingQuery.  ``available_now=True`` drains what's available
        then stops (deterministic tests/batch-like runs); False runs
        continuously.

        A stream fixes its state partition count at its first start.  A
        frame declared to carry Python state (``has_python_state``) keeps
        the session's ``spark.sql.shuffle.partitions`` for its per-key
        Python work; any other stream starts with ``max(1,
        defaultParallelism // 8)``, as JVM state pays a state-store
        commit per partition and micro-batch.  The session value is
        restored under a lock shared by all starts.  Results do not
        depend on the count.  A frame derived after ``sql()`` returned
        is undeclared and gets the JVM count.  ``close()`` stops the
        stream if it still runs."""
        w = df.writeStream.format(format).outputMode(output_mode)
        if name:
            w = w.queryName(name)
        if path:
            w = w.option("path", path)
        if checkpoint:
            w = w.option("checkpointLocation", checkpoint)
        for k, v in options.items():
            w = w.option(k, v)
        if available_now:
            w = w.trigger(availableNow=True)
        spark, key = df.sparkSession, "spark.sql.shuffle.partitions"
        with _START_LOCK:
            old = spark.conf.get(key)
            if not has_python_state(df):
                spark.conf.set(key, str(max(
                    1, spark.sparkContext.defaultParallelism // 8)))
            try:
                q = w.start()
            finally:
                spark.conf.set(key, old)
            self._queries = [r for r in self._queries if r.isActive] + [q]
        return q

    # ------------------------------------------------------------------
    # external RDBMS catalog (flinkdsl/database.scala:11-31 used
    # schemacrawler introspection; Spark's JDBC reader + df.schema is
    # the 1:1 replacement — SURVEY.md §1.3/§2.1)
    # ------------------------------------------------------------------

    def register_jdbc(self, name: str, url: str, table: str,
                      properties: Optional[dict] = None,
                      event_time_col: Optional[str] = None) -> None:
        """Register an external JDBC table/query as a relation; schema
        (names, types, nullability) comes from driver metadata exactly
        like the reference's schemacrawler path."""
        df = self.spark.read.jdbc(url, table,
                                  properties=properties or {})
        self.register(name, df, event_time_col=event_time_col)

    # ------------------------------------------------------------------
    # X surface: fluent Table API over expression strings (SURVEY §3.3)
    # ------------------------------------------------------------------

    def table(self, name: str):
        """Fluent Table-API handle consuming X-surface expression strings:
        ``engine.table("events").select("speed.avg as s")``."""
        from .expressions import XTable
        return XTable(self.catalog.get(name))

    # ------------------------------------------------------------------
    # diagnostics
    # ------------------------------------------------------------------

    def explain(self, text: str, params: Optional[list] = None,
                mode: str = "formatted") -> None:
        df = self.sql(text, params)
        if df is not None:
            df.explain(mode)


def _parquet_file_schema(spark: SparkSession, path: str) -> StructType:
    """The Spark schema of one parquet file, read from its footer on
    the driver without a Spark job.

    This is the per-file code of Spark's schema-inference job
    (``ParquetFileFormat.mergeSchemasInParallel``) run in-process: read
    the footer without its row groups, then convert it with
    ``readSchemaFromFooter``, which prefers the Spark row metadata a
    Spark writer leaves in the footer.  The converter reads the
    session's own SQLConf, so nanosAsLong, inferTimestampNTZ,
    binaryAsString and int96AsTimestamp apply exactly as in inference.
    """
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    jpath = jvm.org.apache.hadoop.fs.Path(os.path.abspath(path))
    hin = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jpath, state.newHadoopConf())
    meta = pq.ParquetFooterReader.readFooter(
        hin, jvm.org.apache.parquet.format.converter
        .ParquetMetadataConverter.SKIP_ROW_GROUPS)
    js = pq.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(jpath, meta),
        pq.ParquetToSparkSchemaConverter(state.conf()))
    return _parse_datatype_json_string(js.json())


def _restore_nano_timestamps(df: DataFrame, path: str) -> DataFrame:
    """Normalize parquet timestamp encodings to TimestampType (LTZ).

    Two encodings the driver testdata has shipped:
      * TIMESTAMP(NANOS): with ``spark.sql.legacy.parquet.nanosAsLong``
        Spark reads them as long — detect from the parquet footer
        (pyarrow) and cast back to micro-precision TimestampType.
        pyarrow also reports an INT96 column as nanoseconds, but Spark
        reads that one as a timestamp, so only a column Spark typed
        as long is cast.
      * timestamp[us] with no timezone: loads as TIMESTAMP_NTZ unless
        ``inferTimestampNTZ`` is disabled; _coerce_ntz (applied in
        register()) covers sessions where the conf landed too late or a
        caller reads the file itself.
    The casts are projections on top of the scan — column pruning &
    predicate pushdown on other columns are unaffected."""
    try:
        import pyarrow.dataset as ds
        arrow_schema = ds.dataset(path, format="parquet").schema
    except Exception:
        return df
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType
    import pyarrow as pa
    nanos = [f.name for f in arrow_schema
             if isinstance(f.type, pa.TimestampType) and f.type.unit == "ns"]
    if not nanos:
        return df
    longs = {f.name for f in df.schema.fields
             if isinstance(f.dataType, LongType)}
    for name in nanos:
        if name in longs:
            # integer `div`, not `/`: float division of an ~1.7e18 nano
            # count rounds in the 53-bit mantissa and lands a microsecond
            # off; DuckDB (and arrow) floor-truncate, so must we
            df = df.withColumn(
                name, F.timestamp_micros(F.expr(f"`{name}` div 1000")))
    return df


def _coerce_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TimestampType (LTZ).

    The engine forces the session timezone to UTC, so the NTZ wall
    clock and the LTZ instant denote the same moment — the cast is
    lossless.  Applied at register() so every relation the planner sees
    (batch or streaming, parquet or caller-supplied) carries plain
    TIMESTAMP: watermarks (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and
    epoch arithmetic (CAST ... AS DOUBLE) both require it."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType
    ntz = [f.name for f in df.schema.fields
           if isinstance(f.dataType, TimestampNTZType)]
    for name in ntz:
        df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df

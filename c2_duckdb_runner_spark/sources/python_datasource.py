"""Custom source via the Spark 4 Python DataSource API.

This is the reference's OWN pipeline re-expressed as a first-class Spark
source instead of a driver loop: enumerate the regular files of a data
directory (``main.cc:297-324``), make each independently-scannable unit one
input partition (``main.cc:252-261`` — one task per file; here one per
parquet ROW GROUP so a single big file still parallelizes, which is exactly
Spark's own split mapping), decode columnar batches inside the partition
reader (``main.cc:183-199``'s DataChunk pull loop, as pyarrow RecordBatches),
and apply the ``col > τ`` predicate AT THE SOURCE (``main.cc:164-169``'s
``ke > <Env_ke>`` splice) so rows are dropped before they ever reach the JVM.

Scale notes:
- Partition planning happens on the driver (cheap metadata read of the
  parquet footer per file); reads happen executor-side, one Python worker
  per partition, Arrow-batch interchange — the same batch-columnar boundary
  as mapInArrow.
- The built-in parquet reader remains the production path (codegen, page
  index, vectorized decode); this source is the extension-point proof: any
  format/API Python can read (object stores, scientific formats, the VPIC
  particle files the reference's campaign actually scanned) becomes a
  DataFrame with partition-parallel reads.
- The source-side filter is real pushdown for the Python path: the Arrow
  predicate runs per row group before serialization to Spark. The query
  ALSO re-applies the filter in Spark, so correctness never depends on the
  source honoring the option.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.session import conf_override
from c2_duckdb_runner_spark.tables import load


class _RowGroupPartition(InputPartition):
    def __init__(self, path: str, row_group: int):
        self.path = path
        self.row_group = row_group


def _data_files(path: str, stems: str | None) -> list[str]:
    """Resolve the directory's ``*.parquet`` entries to concrete data
    files. A real dataset's ``<table>.parquet`` is usually a DIRECTORY of
    part files (any engine-written layout); the fixtures use single files
    — both shapes must enumerate identically, file-per-row-group."""
    import os

    files: list[str] = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        if stems is not None and f[: -len(".parquet")] not in stems.split(","):
            continue
        full = os.path.join(path, f)
        if os.path.isdir(full):
            files.extend(
                os.path.join(full, p)
                for p in sorted(os.listdir(full))
                if p.endswith(".parquet")
            )
        else:
            files.append(full)
    return files


class ParquetDirDataSource(DataSource):
    """``spark.read.format("c2_pydir")`` over a directory of parquet files.

    Options:
      path       directory to enumerate (required)
      tables     csv of file stems to include (default: every ``*.parquet``)
      columns    csv of columns to project (required — the Python DS API
                 does not receive Spark's column pruning, so the contract
                 makes projection explicit)
      min_chars  optional source-side predicate ``n_chars > τ`` (the
                 reference's Env_ke analogue)
    """

    @classmethod
    def name(cls) -> str:
        return "c2_pydir"

    def schema(self) -> str:
        import pyarrow.parquet as pq

        cols = self.options["columns"].split(",")
        files = _data_files(self.options["path"], self.options.get("tables"))
        # Arrow schema of the first file, pruned to the projection, mapped to
        # Spark DDL via a tiny fixed type table (fixtures use these 4 types).
        sch = pq.read_schema(files[0])
        ddl = {"int64": "bigint", "int32": "int", "double": "double",
               "string": "string", "large_string": "string"}
        parts = []
        for c in cols:
            t = sch.field(c).type
            parts.append(f"{c} {ddl[str(t)]}")
        return ", ".join(parts)

    def reader(self, schema) -> "ParquetDirReader":
        return ParquetDirReader(dict(self.options))


class ParquetDirReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options

    def partitions(self):
        import pyarrow.parquet as pq

        out = []
        for full in _data_files(
            self.options["path"], self.options.get("tables")
        ):
            for rg in range(pq.ParquetFile(full).metadata.num_row_groups):
                out.append(_RowGroupPartition(full, rg))
        return out

    def read(self, partition: _RowGroupPartition):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        cols = self.options["columns"].split(",")
        table = pq.ParquetFile(partition.path).read_row_group(
            partition.row_group, columns=cols
        )
        thr = self.options.get("min_chars")
        if thr is not None:
            table = table.filter(pc.greater(table.column("n_chars"), int(thr)))
        yield from table.to_batches()


def _pickle_by_value() -> None:
    """Ship this module BY VALUE inside the pickled data source.

    Python DataSource classes are cloudpickled and re-instantiated in Python
    workers. Pickle-by-reference (the default for importable modules) would
    require every worker to be able to ``import c2_duckdb_runner_spark`` —
    true under pytest (cwd = repo root) but NOT for an external driver
    running from another directory. By-value serialization removes the
    import dependency entirely: the source works in any consumer's session,
    which is the whole point of a self-describing format string."""
    import sys

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:
        pass  # very old cloudpickle: fall back to by-reference


def _ensure_registered(spark: SparkSession) -> None:
    # Registration is session-scoped and idempotent-by-overwrite.
    _pickle_by_value()
    spark.dataSource.register(ParquetDirDataSource)


@register(
    "source_python_datasource",
    oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc
FROM documents WHERE n_chars > 600
GROUP BY lang
""",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents read through the custom Python DataSource (per-row-group
    partitions, Arrow batches, source-side ``n_chars > 600`` pushdown), then
    aggregated with ordinary JVM-side operators — proving a Python-defined
    source composes with the whole relational surface. The filter is applied
    both at the source (performance) and in Spark (semantics)."""
    _ensure_registered(spark)
    df = (
        spark.read.format("c2_pydir")
        .option("path", sf_dir)
        .option("tables", "documents")
        .option("columns", "doc_id,lang,n_chars")
        .option("min_chars", "600")
        .load()
    )
    return (
        df.filter(F.col("n_chars") > 600)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
        )
    )


# ---------------------------------------------------------------------------
# streaming: deterministic replay source (Python DataSource stream API)
# ---------------------------------------------------------------------------
class EventsReplayDataSource(DataSource):
    """``spark.readStream.format("c2_replay")`` — replays a parquet file as
    a micro-batch stream of row-ranged offsets ({"row": n} checkpoints, so a
    restarted query resumes mid-file exactly like the file source resumes
    mid-directory). The at-scale analogue is a queue/CDC tail where the
    offset is a log position; the reference's closest shape is its
    per-file task feed (main.cc:252-261) made continuous."""

    @classmethod
    def name(cls) -> str:
        return "c2_replay"

    def schema(self) -> str:
        return "event_id bigint, user_id bigint, event_type string, value double"

    def simpleStreamReader(self, schema):
        return EventsReplayStreamReader(dict(self.options))


class EventsReplayStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.batch_rows = int(options.get("batch_rows", 250))
        self._table = None

    def _load(self):
        if self._table is None:
            import pyarrow.parquet as pq

            self._table = pq.read_table(
                self.path,
                columns=["event_id", "user_id", "event_type", "value"],
            )
        return self._table

    def initialOffset(self):
        return {"row": 0}

    def _rows(self, i: int, j: int):
        t = self._load()
        return iter(
            [tuple(r.values()) for r in t.slice(i, j - i).to_pylist()]
        )

    def read(self, start):
        t = self._load()
        i = start["row"]
        j = min(i + self.batch_rows, t.num_rows)
        return self._rows(i, j), {"row": j}

    def readBetweenOffsets(self, start, end):
        return self._rows(start["row"], end["row"])


@register(
    "stream_python_source",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
""",
)
def stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregation over the custom Python replay source: events
    arrive in row-offset micro-batches, a complete-mode groupBy folds them
    into state, and the query is stopped once the source offset reaches
    end-of-file. The FINAL complete-mode table is batch-equivalent no
    matter how the rows were batched (decimal state merge is associative),
    which is what makes a custom streaming source oracle-checkable at all."""
    import ast
    import time

    _pickle_by_value()
    spark.dataSource.register(EventsReplayDataSource)
    path = f"{sf_dir}/events.parquet"
    total = load(spark, sf_dir, "events").count()
    src = (
        spark.readStream.format("c2_replay")
        .option("path", path)
        .option("batch_rows", str(max(200, total // 4)))
        .load()
    )
    agg = src.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )
    name = "c2s_replay_sink"
    with conf_override(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            p = q.lastProgress
            if p and p["sources"]:
                end = p["sources"][0]["endOffset"]
                # offsets surface as the reader dict's repr (single-quoted)
                row = (ast.literal_eval(end) if isinstance(end, str) else end)[
                    "row"
                ]
                if row >= total:
                    break
            time.sleep(0.2)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    sink = spark.table(name)
    out = spark.createDataFrame(sink.collect(), schema=sink.schema)
    spark.catalog.dropTempView(name)
    return out

"""Source layer: parquet/CSV/JSON readers over the driver testdata layout.

Reference analog: ``dbs/nikon.py:107-115,240-249`` (table scans with
time-range pushdown) and ``eda_query.py:236-238`` (CSV key list). Here every
scan is a lazy ``spark.read`` whose filters/projections Catalyst pushes into
the parquet reader — the reference had to hand-write each WHERE clause into
SQL strings to get the same effect.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_async_sample_spark.sources import hadoop_fs

# The driver-provided star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def pin_reader_conf(spark: SparkSession) -> None:
    """Pin the two session confs every scan depends on.

    * UTC session timezone — timestamp formatting in query outputs must be
      stable regardless of how the driver built the session.
    * ``inferTimestampNTZ`` off — the testdata parquet stores naive
      timestamp[us] (no UTC annotation); Spark 4 would read those as
      TIMESTAMP_NTZ, which ``withWatermark``/event-time ops reject. Reading
      them as instants in a UTC session is value-identical and keeps one
      timestamp type across batch and streaming.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


@lru_cache(maxsize=None)
def _nanos_timestamp_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark cannot read those
    natively; they are read as long and converted (footer-only probe)."""
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    return tuple(
        name
        for name, typ in zip(schema.names, schema.types)
        if str(typ) == "timestamp[ns]"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one parquet table. Filters/column pruning push down.

    Nanosecond-timestamp columns (unsupported by Spark's parquet reader) are
    read as long nanos via ``spark.sql.legacy.parquet.nanosAsLong`` and
    truncated to microsecond timestamps with integer arithmetic (a double
    division would lose precision above 2^53 ns).

    The schema comes from the file's footer (``hadoop_fs.parquet_schema``):
    Spark's own inference is a one-task job per read.
    """
    # The driver owns the session; pin the reader confs at call time.
    pin_reader_conf(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    ns_cols = _nanos_timestamp_columns(path)
    if ns_cols:
        # before the footer read: the converter maps NANOS to long under it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(hadoop_fs.parquet_schema(spark, path)).parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def read_parquet_stream(
    spark: SparkSession, path: str, probe: str | None = None, **options: str
) -> DataFrame:
    """File-source stream over the parquet under ``path``; ``options`` go to
    the stream reader (``maxFilesPerTrigger``, ``pathGlobFilter``).

    Streams declare their schema up front: it is read from the footer of
    ``probe``, a data file of the source (default: the first one under
    ``path``). ``probe``'s TIMESTAMP(NANOS) columns are converted as
    :func:`load_table` converts them. Pass it only for copies of the
    testdata files: pyarrow reports the INT96 timestamps Spark writes as
    nanos too.
    """
    pin_reader_conf(spark)
    ns_cols = _nanos_timestamp_columns(probe) if probe else ()
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(hadoop_fs.parquet_schema(spark, probe or path))
    for key, value in options.items():
        reader = reader.option(key, value)
    stream = reader.parquet(path)
    for c in ns_cols:
        stream = stream.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return stream


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All tables as a dict; each is a lazy scan (no IO until an action)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL entry points."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_keys_csv(spark: SparkSession, path: str, column: str = "glass_id") -> DataFrame:
    """Key-list CSV reader (reference: ``eda_query.py:236-238,262-264`` reads
    sample.csv into a python list; here it becomes a one-column DataFrame so
    the fan-out lookup collapses into a distributed join)."""
    return spark.read.csv(path, header=False).toDF(column)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source — the interchange format LLM corpus pipelines
    ingest alongside parquet.

    An explicit schema skips Spark's inference pass (which reads the whole
    input once before the real scan — forbidden at 100 TB); corrupt lines
    land in ``_corrupt_record`` via PERMISSIVE mode instead of failing the
    job, mirroring the error-row side-output contract (SURVEY §2.1 S10).
    """
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-file ingestion via Spark's ``binaryFile`` source — the canonical
    way media lands in a 100 TB pipeline: one row per file with (path,
    modificationTime, length, content), feeding the multimodal decode seam
    (``operators/multimodal.decode_media``) without any driver-side file
    listing or per-file open loop.

    ``glob`` filters file names (e.g. ``*.bmp``); ``max_bytes`` guards
    against a single pathological file blowing executor memory — rows over
    the cap are KEPT with NULL content and full metadata (path, length,
    fmt), so the caller routes them to a side output by length; their
    bodies are never read (column pruning on the oversized branch).
    The format derives from the file extension, lower-cased, ready for the
    decoder's ``fmt`` dispatch.
    """
    from pyspark.sql import functions as F

    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        # contract: oversized files are KEPT with NULL content (metadata
        # intact) so the caller can dead-letter them by length — filtering
        # them out entirely would make them vanish without a trace. The
        # two-branch union preserves scan efficiency: the oversized branch
        # replaces `content` with a literal, so column pruning means those
        # file bodies are never read into executor memory.
        small = df.where(F.col("length") <= max_bytes)
        big = df.where(F.col("length") > max_bytes).withColumn(
            "content", F.lit(None).cast("binary")
        )
        df = small.unionByName(big)
    return df.select(
        F.col("path"),
        F.col("length"),
        # fmt from the BASENAME only: splitting the full path on '.' breaks on
        # dotted directory names (corpus.v2/frame01 -> 'v2/frame01')
        F.lower(
            F.element_at(
                F.split(F.element_at(F.split(F.col("path"), "/"), -1), r"\."), -1
            )
        ).alias("fmt"),
        F.col("content"),
    )

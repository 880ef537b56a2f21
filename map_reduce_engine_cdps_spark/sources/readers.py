"""Sources (SURVEY.md §2.2, T1-T4).

The reference scans per-worker local directories inside user map code
(reference tasks/example_wordcount.py:9-13, tasks/accident_analysis.py:15-23,
tasks/plants_classifier.py:48-54,141-163). Spark-native: one global path,
declarative readers; Catalyst plans the splits, prunes columns, and pushes
filters down to the scan.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from map_reduce_engine_cdps_spark.operators.state import _stamp

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


def events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` — batch or stream — to TimestampType.

    ``events.ts`` has been written two ways by the data generator:
    parquet TIMESTAMP(NANOS) (Spark's vectorized reader rejects it —
    read as raw nanos via the legacy conf and truncate to micros) and
    plain TIMESTAMP_NTZ. Either way the downstream contract is a
    session-tz TimestampType column whose UTC instant equals the stored
    wall-clock, so watermarks/windows/unix_micros all behave identically
    to the DuckDB oracle (which is tz-naive). Expects the session confs
    ``load_table`` sets.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # integer div: `/` is double division and drifts ±1µs at ns
        # magnitudes (53-bit mantissa); DuckDB truncates ns→µs, so must we
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # wall-clock-is-UTC: under the UTC session tz the NTZ→LTZ
        # cast keeps the instant
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _pin_confs(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet table from a test-data scale-factor directory.

    NOTE: this mutates two session confs on the caller's SparkSession
    (nanosAsLong for the legacy-nanos parquet layout, and
    spark.sql.session.timeZone=UTC). The UTC pin is unconditional —
    wall-clock-derived expressions (hour(ts), date_format, window
    starts) must match the tz-naive oracle regardless of which layout
    generated events.parquet and of the JVM default tz.
    """
    _pin_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    if os.path.isfile(path):
        ((schema, _, _),) = _footers(spark, sf_dir, name)
        df = spark.read.schema(schema).parquet(path)
    else:  # a directory layout: Spark infers schema and partitions
        df = spark.read.parquet(path)
    return events_ts(df) if name == "events" else df


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """The table's ``count(*)`` from its parquet footers: no Spark job."""
    return sum(rows for _, rows, _ in _footers(spark, sf_dir, name))


def table_row_groups(spark: SparkSession, sf_dir: str, name: str) -> int:
    """The table's parquet row groups from its footers: no Spark job."""
    return sum(groups for _, _, groups in _footers(spark, sf_dir, name))


# Session confs ParquetToSparkSchemaConverter reads.
_CONVERTER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)
# (path, table stamp, converter confs) -> (schema, rows, row groups)
_FOOTERS: dict = {}


def _footers(spark: SparkSession, sf_dir: str, name: str) -> list[tuple]:
    """(Spark schema, rows, row groups) of each parquet file of a table:
    the one file, or a directory layout's part files (not the names
    starting with ``_`` or ``.``, which Spark skips too). Read on the
    driver from the footer, the schema through the converter Spark's
    own inference uses: no Spark job. Memoized per table stamp and
    converter confs, so a rewritten file is read again."""
    _pin_confs(spark)  # the converter reads nanosAsLong
    stamp = _stamp(sf_dir, (name,))
    confs = tuple(spark.conf.get(k) for k in _CONVERTER_CONFS)
    jvm, jss = spark._jvm, spark._jsparkSession
    out = []
    for path, _, _ in stamp:
        if os.path.basename(path).startswith(("_", ".")):
            continue
        key = (path, stamp, confs)
        if key not in _FOOTERS:
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            meta = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
                jss.sessionState().newHadoopConf(),
                hpath,
                jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER,
            )
            pq = jvm.org.apache.spark.sql.execution.datasources.parquet
            schema = pq.ParquetFileFormat.readSchemaFromFooter(
                jvm.org.apache.parquet.hadoop.Footer(hpath, meta),
                pq.ParquetToSparkSchemaConverter(jss.sessionState().conf()),
            )
            blocks = meta.getBlocks()
            _FOOTERS[key] = (
                T.StructType.fromJson(json.loads(schema.json())),
                sum(blocks.get(i).getRowCount() for i in range(blocks.size())),
                blocks.size(),
            )
        out.append(_FOOTERS[key])
    if not out:
        raise FileNotFoundError(f"{sf_dir}/{name}.parquet")
    return out


def load_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table + re-parallelize when the table has fewer parquet row
    groups than cores.

    For queries whose map stage does CPU-heavy per-row work
    (tokenization, interpreted higher-order lambdas, Arrow/UDTF
    crossings), a single small parquet file pins that stage to one
    thread; one cheap row-exchange up front buys full-width execution.
    A row group is the unit a scan cannot split: a file cut into more
    splits than it has row groups still reads each group in one task,
    so the rule counts row groups (from the footers), not splits.
    Scan-light relational queries should NOT use this — the exchange
    would cost more than it saves, and on a real cluster a large table
    already holds one row group per ~128 MB.
    """
    df = load_table(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    if table_row_groups(spark, sf_dir, name) < par:
        df = df.repartition(par)
    return df


def read_text_dir(spark: SparkSession, path: str, glob: str = "*.txt") -> DataFrame:
    """T1 — text directory scan (reference tasks/example_wordcount.py:9-13).

    One row per line, column ``value``. The glob reproduces the
    reference's extension filter; Spark handles split planning, so
    there is no per-worker DATA_DIR.
    """
    return spark.read.text(f"{path}/{glob}")


def read_csv_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    """T2/T3 — CSV scan (reference tasks/accident_analysis.py:15-23 and
    tasks/plants_classifier.py:48-54).

    With ``schema=None`` the scan is dynamic (all strings + header),
    matching csv.DictReader semantics; pass an explicit schema for the
    typed variant (the reference's pandas dtype dict,
    tasks/plants_classifier.py:24-45). Column pruning and chunked
    reads are free (Catalyst prunes; Spark partitions the scan).
    """
    reader = spark.read.options(header=str(header).lower(), sep=sep)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_image_dir(spark: SparkSession, path: str) -> DataFrame:
    """T4 — class-per-folder binary scan (reference
    tasks/plants_classifier.py:141-163).

    Returns (path, modificationTime, length, content, label) where
    label is the parent directory name — the reference's class label.
    """
    df = spark.read.format("binaryFile").option("pathGlobFilter", "*.{jpg,jpeg,png}").load(path)
    return df.withColumn(
        "label", F.regexp_extract(F.col("path"), r"([^/]+)/[^/]+$", 1)
    )

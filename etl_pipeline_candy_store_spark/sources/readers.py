"""Readers (SURVEY §2.1 S1-S5).

The reference reads dimension CSVs with header-only inference (all
strings; src/data_processor.py:255), pulls facts from per-day Mongo
collections with sampled schemas (src/data_processor.py:322-355), and
casts ad hoc in Python. Here every read declares its schema up front —
scans prune and push down, and no sampling jobs run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark import schemas


def read_products_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1 — products dimension (reference: src/data_processor.py:255 reads
    header-only all-string; we declare PRODUCTS incl. DecimalType money)."""
    return spark.read.option("header", True).schema(schemas.PRODUCTS).csv(path)


def read_customers_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1 — customers dimension (quoted addresses contain commas; the
    default CSV quote handling covers them)."""
    return spark.read.option("header", True).schema(schemas.CUSTOMERS).csv(path)


def read_transactions_json(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S3/S4 — daily transaction facts from JSON-array files (one file per
    business day, mirroring the reference's one-Mongo-collection-per-day
    layout, src/data_processor.py:340-355) — read in ONE scan instead of a
    per-day driver loop.

    Ordering contract: allocation (ST1) is order-sensitive within a day
    (SURVEY §2.9). multiLine JSON files are unsplittable, so a file is
    never split across input partitions, but Spark packs several small
    files into one partition (``spark.sql.files.maxPartitionBytes``,
    ``openCostInBytes``): ten small day files typically read as 4
    partitions. A partition reads its files one after another, so
    ``monotonically_increasing_id`` is monotone in array order within
    each file, but not ordered by day across files (Spark orders a
    partition's files by size).
    ``file_seq`` is therefore a valid intra-day sequence when each day is
    one file; cross-day order comes from ``business_date``.

    Adds: ``business_date`` (from the ISO timestamp; the original string
    is preserved untouched for output parity) and ``file_seq``.
    """
    df = (
        spark.read.option("multiLine", True)
        .schema(schemas.TRANSACTIONS)
        .json(paths)
    )
    return df.select(
        "*",
        F.to_date(F.to_timestamp("timestamp")).alias("business_date"),
        F.monotonically_increasing_id().alias("file_seq"),
    )


#: Bytes of the shortest transaction item that survives validation,
#: ``{"product_id":0,"qty":0}``: both fields must be set, and field
#: names must be quoted (``allowUnquotedFieldNames`` is off by default).
MIN_ITEM_BYTES = 24


def transactions_max_items(spark: SparkSession, paths: str | list[str]) -> int | None:
    """Upper bound on the number of transaction items with both fields
    set in the JSON files :func:`read_transactions_json` reads from
    ``paths``, known without a Spark job: the files' total byte length,
    from Hadoop ``FileSystem`` metadata, over :data:`MIN_ITEM_BYTES`.

    Paths may be files, directories or globs. Returns None when the
    bound is unknown: a path matches nothing, or a file is compressed,
    so its length says nothing about the text inside."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    codecs = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    total = 0
    for p in [paths] if isinstance(paths, str) else paths:
        path = jvm.org.apache.hadoop.fs.Path(p)
        fs = path.getFileSystem(conf)
        statuses = fs.globStatus(path)
        if not statuses:
            return None
        for status in statuses:
            files = fs.listFiles(status.getPath(), True)
            while files.hasNext():
                f = files.next()
                if codecs.getCodec(f.getPath()) is not None:
                    return None
                total += f.getLen()
    return total // MIN_ITEM_BYTES


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    user: str,
    password: str,
    **options: str,
) -> DataFrame:
    """S2 — JDBC scan (reference: src/data_processor.py:272-292). Built-in
    format; partitionColumn/numPartitions options pass through for
    parallel reads. Runtime-verified against embedded Derby (the JDBC
    database Spark bundles) in ``tests/test_jdbc.py`` — round-trip,
    predicate evaluation, and a 4-partition parallel range read; only
    the URL differs for MySQL."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_mongo(
    spark: SparkSession,
    uri: str,
    database: str,
    collection: str,
) -> DataFrame:
    """S3 — MongoDB scan via the mongo-spark connector (reference:
    src/data_processor.py:322-338). Requires the connector jar on the
    classpath; untested in-container (no Mongo server / jar). The engine's
    native path for the same data shape is :func:`read_transactions_json`
    over the per-day JSON files."""
    return (
        spark.read.format("mongodb")
        .option("connection.uri", uri)
        .option("database", database)
        .option("collection", collection)
        .load()
    )


_FORMATS = ("parquet", "orc", "json", "csv")


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
):
    """Generic format-dispatched scan over Spark's builtin columnar/text
    sources. Parquet and ORC carry their own schema (and support
    predicate pushdown + column pruning at the scan); CSV/JSON should be
    given an explicit ``schema`` — inference is a whole extra pass over
    the data, unacceptable at scale.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"fmt must be one of {_FORMATS}, got {fmt!r}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        reader = reader.option("inferSchema", True)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.format(fmt).load(path)


def read_media_dir(
    spark: SparkSession,
    path: str,
    media_type: str,
    *,
    glob: str | None = None,
    recursive: bool = True,
    with_content: bool = True,
) -> DataFrame:
    """S-media — opaque media ingest over a directory of files via
    Spark's ``binaryFile`` source (SURVEY §2.12's last unimplemented
    mapping): each file becomes one row carrying a stable ``media_id``
    (xxhash64 of the file path), ``path``, ``mod_time``, ``n_bytes``,
    the raw bytes as ``payload``, and the engine's typed ``media``
    metadata struct (see
    :func:`~etl_pipeline_candy_store_spark.operators.multimodal.attach_media_columns`)
    — ready for ``extract_media_features`` / ``q95``-style manifest
    arithmetic without any codec on the ingest path.

    Scale posture: ``binaryFile`` plans one row per file and PRUNES the
    ``content`` column at the scan when unselected — pass
    ``with_content=False`` for manifest-only listings (path/size/mtime)
    and the bytes are never read off storage (the plan's ``ReadSchema``
    drops ``content``; locked by ``tests/test_media_ingest.py``).
    ``glob`` maps to ``pathGlobFilter`` (e.g. ``"*.png"``) and filters
    at listing time, before any read. Files larger than
    ``spark.sql.sources.binaryFile.maxLength`` (int32 max) fail the
    scan — chunk giant assets upstream; one file is never split across
    rows, so payload skew is partition skew (repartition by ``n_bytes``
    ranges before a decode stage if sizes vary wildly).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    df = reader.load(path)
    cols = [
        F.xxhash64("path").alias("media_id"),
        "path",
        F.col("modificationTime").alias("mod_time"),
        F.col("length").alias("n_bytes"),
    ]
    if not with_content:
        return df.select(*cols)
    from etl_pipeline_candy_store_spark.operators.multimodal import (
        attach_media_columns,
    )

    return attach_media_columns(
        df.select(*cols, F.col("content").alias("payload")),
        "payload",
        media_type,
    )


def read_evolving_parquet(
    spark: SparkSession,
    path: str,
    target_schema=None,
    defaults: dict | None = None,
) -> DataFrame:
    """Mixed-generation parquet reader: one directory, files from
    DIFFERENT writer versions (added/dropped columns, widened types).
    At 100 TB every long-lived table has this shape — schema evolution
    ships file by file, never as a rewrite — and a plain
    ``spark.read.parquet`` silently binds to ONE file's footer, dropping
    newer columns or failing mid-scan on older files.

    Two modes:

    - **No ``target_schema`` (additive evolution only):**
      ``mergeSchema=true`` unions the footers of every generation;
      columns absent from a file read as null for its rows. Spark
      REFUSES conflicting primitive types here (``CANNOT_MERGE_SCHEMAS``
      — a fail-fast, not a silent cast), so this mode is for
      added/missing columns only.

    - **``target_schema`` (DDL string or StructType) — the general
      policy:** every file is decoded *into* the target, so the caller
      states the current-generation contract once. Missing columns read
      as null; the vectorized reader widens per-file physical types
      where lossless (verified on this Spark: parquet INT32 → ``bigint``,
      INT32/INT64 → ``decimal(p,0)``; epoch-days DATE → ``timestamp``
      variants per Spark's matrix). NOT every cast is a widening —
      e.g. INT64 → ``double`` is lossy above 2^53 and the scan fails
      with ``PARQUET_COLUMN_DATA_TYPE_MISMATCH`` rather than corrupt:
      route such columns through ``decimal(20,0)`` in the target and
      ``.cast("double")`` afterwards, making the precision loss an
      explicit, visible step.

    ``defaults`` (``{column: literal}``) back-fills generation gaps:
    applied as ``coalesce(col, lit(default))``, i.e. wherever the
    column is null — which is exactly the old-generation rows when the
    column is non-null in every file that HAS it. (File provenance is
    gone after the scan, so "null because old file" and "null in a new
    file" are indistinguishable by design; keep evolved columns
    non-nullable at write time if that distinction matters.)

    Scale posture: ``mergeSchema`` reads every file footer up front
    (a driver-coordinated parallel job — fine, but O(files)); the
    ``target_schema`` mode reads none. Prefer the explicit schema on
    wide directories — it is also the only mode that handles widening.
    """
    if target_schema is not None:
        df = spark.read.schema(target_schema).parquet(path)
    else:
        df = spark.read.option("mergeSchema", True).parquet(path)
    if defaults:
        bad = set(defaults) - set(df.columns)
        if bad:
            raise ValueError(f"defaults for columns not in schema: {sorted(bad)}")
        df = df.select(
            *[
                F.coalesce(F.col(c), F.lit(defaults[c])).alias(c)
                if c in defaults
                else F.col(c)
                for c in df.columns
            ]
        )
    return df

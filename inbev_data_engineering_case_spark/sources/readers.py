"""Typed readers (OP-03/04/05) over the lake and the synthetic star schema.

Always explicit-schema: at the 100 TB design point schema inference is an
extra full pass and a type-drift hazard (SURVEY.md §4.3-3). CSV reads use
PERMISSIVE mode with a corrupt-record column so bad rows are quarantined,
not dropped silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

STAR_TABLES = [
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
]


def read_bronze_csv(
    spark: SparkSession, path_glob: str, schema: T.StructType
) -> DataFrame:
    """OP-04 with the engine upgrade: explicit schema + quarantine column
    (the reference reads header-only, all-string —
    reference data_transformations_bronze_to_silver.py:84)."""
    schema_with_corrupt = T.StructType(
        [*schema.fields, T.StructField("_corrupt_record", T.StringType(), True)]
    )
    return spark.read.csv(
        path_glob,
        header=True,
        schema=schema_with_corrupt,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """OP-05: parquet scan of one synthetic table (Hive partition discovery
    applies automatically when the path is a partitioned tree)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with its timestamp surfaced as a proper (microsecond)
    TimestampType column, whatever the file encodes.

    The fixture has shipped `ts` as parquet TIMESTAMP(NANOS) in some
    rounds and TIMESTAMP(MICROS) in others, so this reader adapts to the
    file instead of assuming: NANOS is not readable by Spark's vectorized
    reader, so ``spark.sql.legacy.parquet.nanosAsLong`` (runtime conf, set
    here so the driver's session works too) surfaces it as int64 nanos
    which we floor to micros; MICROS arrives as TIMESTAMP_NTZ (unaffected
    by the nanos conf) and is cast to the session-zone TimestampType —
    identity under the pinned UTC zone. Either way downstream sees the
    same TimestampType micros column, and oracles compare via
    ``CAST(ts AS TIMESTAMP)`` or bucket-truncated values.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # pin UTC so NTZ<->TZ conversions are identity even on a session the
    # driver built without engine defaults in a non-UTC environment
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # Integer `div`, NOT float division: int64 nanos exceed double's
        # 53-bit mantissa, so `/ 1000` would round the low microseconds.
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSON-lines scan with explicit schema (no sampling pass) and corrupt-
    record quarantine — the landing format for most document/event feeds.
    Unlike parquet, JSON scans can't prune columns at the parser level, so
    at scale JSONL is a bronze-only format: convert to parquet in silver."""
    schema_with_corrupt = T.StructType(
        [*schema.fields, T.StructField("_corrupt_record", T.StringType(), True)]
    )
    return spark.read.json(
        path,
        schema=schema_with_corrupt,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — columnar like parquet (vectorized read, predicate
    pushdown, column pruning all apply); supported so ORC-resident lakes
    can be consumed without conversion."""
    return spark.read.orc(path)


def star_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All synthetic tables as DataFrames keyed by name (TESTDATA.md)."""
    return {t: read_parquet_table(spark, sf_dir, t) for t in STAR_TABLES}


# file-extension -> media_type for the binary-asset landing scan. This only
# routes the metadata: landing decodes nothing. At decode time content magic
# wins (operators/multimodal.py dispatches on payload bytes), and only
# BMP/PNM/PNG/GIF images and WAV/FLAC audio decode; every other image,
# audio or video format below lands as-is and dead-letters as
# ``decoder_gap``.
_EXT_MEDIA_TYPES = {
    "bmp": "image/bmp",
    "png": "image/png",
    "ppm": "image/x-portable-pixmap",
    "pgm": "image/x-portable-graymap",
    "wav": "audio/wav",
    "flac": "audio/flac",
    "gif": "image/gif",
    "webp": "image/webp",
    "y4m": "video/x-y4m",
    "avi": "video/x-msvideo",
    "jpg": "image/jpeg",
    "jpeg": "image/jpeg",
    "mp4": "video/mp4",
}


def read_binary_assets(
    spark: SparkSession, path_glob: str, max_bytes: int | None = None
) -> DataFrame:
    """Multimodal landing scan: Spark's ``binaryFile`` source over an
    object-store glob, mapped to the multimodal asset schema
    (``operators.multimodal.ASSET_SCHEMA``): asset_id = 60-bit portable
    hash of the path (stable across re-runs and listing order), media_type
    from the file extension, payload = raw bytes, metadata struct carrying
    size + source path.

    Scale notes: ``binaryFile`` never splits a file, so parallelism is
    file-granular — right for media corpora (many files, each far under a
    partition budget). ``max_bytes`` pushes a LENGTH filter into the
    source (``pathGlobFilter``'s sibling pushdown: length and path are
    read from the file index, so oversized payloads are skipped before a
    single content byte is read — the pruning that matters when a crawl
    directory mixes 4 KB thumbnails with 4 GB videos)."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.functions import portable_hash64

    df = spark.read.format("binaryFile").load(path_glob)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    # extension of the BASENAME (a dot in a directory name must not leak
    # into the media-type routing)
    basename = F.element_at(F.split(F.col("path"), "/"), -1)
    ext = F.lower(F.element_at(F.split(basename, r"\."), -1))
    media_type = F.coalesce(
        *[
            F.when(ext == e, F.lit(t))
            for e, t in _EXT_MEDIA_TYPES.items()
        ],
        F.lit("application/octet-stream"),
    )
    return df.select(
        portable_hash64("path").alias("asset_id"),
        media_type.alias("media_type"),
        F.col("content").alias("payload"),
        F.struct(
            F.col("length").cast("long").alias("n_bytes"),
            F.col("path").alias("source"),
        ).alias("meta"),
    )


def read_parquet_evolving(
    spark: SparkSession,
    paths: list[str],
    expected_schema,
    strict_types: bool = False,
):
    """Schema-evolution-tolerant parquet read: reconcile a set of
    snapshot directories written at DIFFERENT times (a crawl that grew a
    column, a source that dropped one) onto ``expected_schema``.

    - columns missing from the files arrive as typed nulls;
    - extra file columns are dropped (column pruning means they are
      never even read);
    - matching columns are cast to the expected type (``try_cast``
      unless ``strict_types=True`` — ANSI mode makes a bad cast a job
      failure, the quarantine-vs-fail trade the CSV reader documents).

    Returns ``(df, report)`` where ``report`` lists per-path extra and
    missing column names — the drift log a daily pipeline alerts on.
    ``mergeSchema`` is deliberately NOT used: it unions schemas at
    footer-read time (one listing pass per file) and still fails on type
    conflicts; projecting each path onto the expected schema reads only
    the expected columns and makes the drift explicit instead of silent.
    """
    from pyspark.sql import functions as F

    if not paths:
        raise ValueError(
            "read_parquet_evolving: no paths — an empty snapshot manifest "
            "should be handled by the caller, not read as an empty table"
        )
    report: list[dict] = []
    parts = []
    expected = {f.name: f.dataType for f in expected_schema.fields}
    for path in paths:
        df = spark.read.parquet(path)
        have = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))
        extra = sorted(set(have) - set(expected))
        missing = sorted(set(expected) - set(have))
        report.append({"path": path, "extra": extra, "missing": missing})
        cols = []
        for name, dtype in expected.items():
            if name not in have:
                cols.append(F.lit(None).cast(dtype).alias(name))
            elif have[name] == dtype:
                cols.append(F.col(name))
            elif strict_types:
                cols.append(F.col(name).cast(dtype).alias(name))
            else:
                cols.append(F.col(name).try_cast(dtype).alias(name))
        parts.append(df.select(*cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out, report

"""Sources (SURVEY §2.B B1-B5).

- Alert parquet scans and file streams (B1) are plain ``spark.read`` /
  ``spark.readStream`` with the alert schema (``schemas.py``).
- Catalog loader for the packaged reference catalogs (B2): loaded ONCE and
  marked broadcast — the reference re-reads its catalogs inside the pandas
  UDF on every micro-batch (``ztf/livestream/filter_early_kn_candidates/
  filter.py:70-77``), an anti-pattern this module exists to kill.
- Kafka wire decoding (``kafka_decode``, JSON or Avro containers) for
  the production alert transport of the broker this library serves.
- REST snapshot source (B3/B4/B5): remote lookups become periodically
  refreshed *tables* joined via broadcast, never per-row RPCs inside UDFs
  (SURVEY §2.B D5 note). The HTTP fetch itself is pluggable and stubbed in
  this offline environment.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


def kafka_decode(
    raw: DataFrame,
    schema: StructType | None = None,
    value_format: str = "json",
    avro_schema: str | dict | None = None,
) -> DataFrame:
    """Parse the Kafka wire frame back to typed rows: ``value`` -> ``alert``
    struct, Kafka's ingest ``timestamp`` surfaced as ``kafka_timestamp``
    when present. The inverse of ``sinks.storage.kafka_encode`` — their
    round trip is pinned broker-free by tests/test_streaming.py.

    ``value_format``:

    - ``"json"`` (default): ``from_json`` over the value bytes/string with
      the given Spark ``schema`` — fully JVM-side.
    - ``"avro"``: the production alert payload. Each value is an Avro
      OBJECT CONTAINER FILE (the ZTF packet framing — writer schema
      embedded, one or more records per message; ``sources/avro_codec``
      documents the reference's spark-avro dependency this replaces
      offline). Requires ``avro_schema`` (the alert schema as JSON text or
      dict); the Spark-side struct type is DERIVED from it, and decoding
      runs in an Arrow-batched ``mapInPandas`` kernel on the executors —
      one Python call per batch, payload bytes never reach the driver. On
      a cluster with the spark-avro jar, ``from_avro`` is the drop-in
      JVM-side equivalent of the same plan position.

    Avro messages whose container holds multiple records explode to one
    output row each (a JSON message is always exactly one row).
    """
    if value_format == "json":
        if schema is None:
            raise ValueError("kafka_decode: json format requires `schema`")
        cols = [F.from_json(F.col("value").cast("string"), schema).alias("alert")]
        if "timestamp" in raw.columns:
            cols.append(F.col("timestamp").alias("kafka_timestamp"))
        return raw.select(*cols)
    if value_format != "avro":
        raise ValueError(f"kafka_decode: unknown value_format {value_format!r}")
    if avro_schema is None:
        raise ValueError("kafka_decode: avro format requires `avro_schema`")

    from pyspark.sql import types as T

    from .avro_codec import avro_to_spark_type, decode_container, parse_schema

    parsed = parse_schema(avro_schema)
    alert_type = avro_to_spark_type(parsed)
    if not isinstance(alert_type, T.StructType):
        raise ValueError("kafka_decode: avro_schema must describe a record")
    has_ts = "timestamp" in raw.columns
    out_fields = [T.StructField("alert", alert_type)]
    if has_ts:
        out_fields.append(T.StructField("kafka_timestamp", T.TimestampType()))
    out_schema = T.StructType(out_fields)
    src = raw.select("value", *(["timestamp"] if has_ts else []))

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            alerts, stamps = [], []
            for i, v in enumerate(pdf["value"]):
                if v is None:
                    # Kafka tombstone (null value, a deletion marker):
                    # carries no alert — skipped, like a compacted topic's
                    # consumers do (the json path surfaces it as a null
                    # struct instead; neither kills the stream)
                    continue
                # reader_schema: records are schema-RESOLVED into the
                # declared shape, so a stream whose embedded writer schema
                # evolved (new fields, promotions, renamed via aliases)
                # still lands in the pipeline's pinned columns
                _schema, records = decode_container(bytes(v), reader_schema=parsed)
                alerts.extend(records)
                if has_ts:
                    stamps.extend([pdf["timestamp"].iloc[i]] * len(records))
            out = {"alert": pd.Series(alerts, dtype="object")}
            if has_ts:
                out["kafka_timestamp"] = pd.Series(stamps)
            yield pd.DataFrame(out)

    return src.mapInPandas(kernel, out_schema)


def load_catalog(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    **options,
) -> DataFrame:
    """B2: packaged reference catalog (csv/parquet/tsv/fwf), loaded once,
    cached, and broadcast-hinted for the crossmatch join."""
    if fmt == "csv":
        df = spark.read.options(header=True, inferSchema=True, **options).csv(path)
    elif fmt == "tsv":
        df = spark.read.options(
            header=True, inferSchema=True, sep="\t", **options
        ).csv(path)
    else:
        df = spark.read.options(**options).parquet(path)
    return F.broadcast(df.cache())


def rest_snapshot(
    spark: SparkSession,
    fetch: Callable[[], list[dict]],
    schema: StructType,
) -> DataFrame:
    """B3/B4/B5: materialize a REST-backed table (TNS, Fink portal, SNAD)
    as a broadcastable snapshot DataFrame.

    ``fetch`` runs on the DRIVER once per refresh — replacing the
    reference's per-row astroquery/requests calls inside executors
    (``ztf/livestream/filter_early_kn_candidates/filter.py:138-164``).
    In this offline environment pass a stub fetch.
    """
    rows = fetch()
    return F.broadcast(spark.createDataFrame(rows, schema).cache())


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """JSON-lines corpus reader (the interchange format of LLM-pipeline
    corpora). ALWAYS pass a schema in production: schema inference scans
    the whole input once before the real read — at 100 TB that is a full
    extra pass. Multiline JSON is deliberately unsupported (one doc per
    line keeps the format splittable, so a 1 GB file still fans out over
    HDFS-block-sized tasks)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, compression: str = "gzip") -> None:
    """JSON-lines writer for corpus export. Gzip is fine for archive
    export; prefer parquet for anything Spark reads back (columnar pruning,
    predicate pushdown, and gzip json files are NOT splittable)."""
    df.write.mode("overwrite").option("compression", compression).json(path)

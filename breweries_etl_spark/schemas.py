"""Declared schemas.

The reference infers its schema from JSON at ingestion time
(pd.DataFrame(all_data), ref: T/landing_to_bronze.py:70). At 100 TB,
inference is nondeterministic (per-file sampling) and expensive (extra
pass); we declare the StructType once and pass it to every reader:
``BREWERY_SCHEMA`` to the landing JSON scan, ``BRONZE_SCHEMA`` and
``SILVER_SCHEMA`` to the bronze and silver layer reads
(``sources.tables.read_layer``), so no read infers a schema with a Spark
job. ``SILVER_SCHEMA`` declares the partition column ``location`` as a
string rather than letting partition discovery infer its type; a
country name that looks like a number stays a string.

Temporal typing preserved from the reference (SURVEY.md §1.2):
``ingestion_timestamp`` is a true timestamp, while ``processed_at`` and
``quarantine_timestamp`` are ISO-8601 *strings* — intentionally
heterogeneous, matching ref U/helpers.py:145,322 and
T/bronze_to_silver.py:183.
"""

from __future__ import annotations

from pyspark.sql import types as T

# De-facto production record of the Open Brewery DB API, per
# FIXTURES.md §B (fields the reference touches by name + passthroughs).
BREWERY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("brewery_type", T.StringType(), True),
        T.StructField("address_1", T.StringType(), True),
        T.StructField("address_2", T.StringType(), True),
        T.StructField("address_3", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("state_province", T.StringType(), True),
        T.StructField("postal_code", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("phone", T.StringType(), True),
        T.StructField("website_url", T.StringType(), True),
        T.StructField("state", T.StringType(), True),
        T.StructField("street", T.StringType(), True),
    ]
)

# Bronze = landing record + ingestion metadata (ref: U/helpers.py:312-323).
BRONZE_SCHEMA = T.StructType(
    BREWERY_SCHEMA.fields + [T.StructField("ingestion_timestamp", T.TimestampType(), True)]
)

# Silver = bronze + processing metadata (ref: U/helpers.py:134-147), as a
# partitioned read returns it: the partition column ``location`` (the
# uppercased country) comes last. tests/test_pipeline.py checks it against
# ``operators.standardize.silver_transform`` and against Spark's inference
# over a written silver layer.
SILVER_SCHEMA = T.StructType(
    BRONZE_SCHEMA.fields
    + [
        T.StructField("processed_at", T.StringType(), True),
        T.StructField("etl_version", T.StringType(), True),
        T.StructField("location", T.StringType(), True),
    ]
)


def quarantine_schema(base: T.StructType) -> T.StructType:
    """Quarantine = input schema + reason/timestamp strings
    (ref: T/bronze_to_silver.py:182-183)."""
    return T.StructType(
        base.fields
        + [
            T.StructField("quarantine_reason", T.StringType(), True),
            T.StructField("quarantine_timestamp", T.StringType(), True),
        ]
    )


# Multimodal asset column convention (driver extension mandate): opaque
# binary payload + typed metadata struct. Decode happens in Pandas UDFs;
# the schema keeps Catalyst able to prune/push down around the blob.
MULTIMODAL_ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

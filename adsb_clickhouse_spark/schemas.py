"""StructType derivation from the declarative source configs.

The reference declares fixed schemas per source ("Match scraper output
exactly", schema/schema-local.sql:22) — no inference. We derive both the
raw (Kafka-layer, everything nullable) and the cleaned (storage-layer)
Spark schemas from :mod:`.config`, so the three layers can never drift.

Type mapping follows SURVEY.md §1.2.
"""

from __future__ import annotations

from pyspark.sql import types as T

from .config import COMBINED_COLUMNS, LOCAL, SourceConfig

# raw-layer Spark type per transform kind (Kafka JSON contract)
_RAW_TYPES: dict[str, T.DataType] = {
    "id_norm": T.StringType(),
    "id_norm_upper": T.StringType(),
    "str": T.StringType(),
    "lat": T.DoubleType(),
    "lon": T.DoubleType(),
    # alt_baro arrives as int-or-"ground" → must be StringType at the raw
    # layer (schema/schema-local.sql:39; adsb-scraper/scraper.py:213)
    "alt_baro_mixed": T.StringType(),
    "i32": T.IntegerType(),
    "f32": T.FloatType(),
    "f32_zero": T.FloatType(),
    "f64": T.DoubleType(),
    "bool": T.BooleanType(),
    "str_array_norm": T.ArrayType(T.StringType()),
    "int_array": T.ArrayType(T.IntegerType()),
    "m_to_ft": T.FloatType(),
    "opensky_alt_baro": T.FloatType(),
    "ms_to_kn": T.FloatType(),
    "ms_to_fpm": T.FloatType(),
    "epoch_ts": T.IntegerType(),
    "spi_int_bool": T.IntegerType(),
    "position_source_enum": T.IntegerType(),
    "source": T.StringType(),
    "scrape_time": T.TimestampType(),
}

# cleaned-layer Spark type per transform kind (storage DDL contract)
_CLEAN_TYPES: dict[str, T.DataType] = {
    "id_norm": T.StringType(),
    "id_norm_upper": T.StringType(),
    "str": T.StringType(),
    "lat": T.DoubleType(),
    "lon": T.DoubleType(),
    "alt_baro_mixed": T.IntegerType(),
    "i32": T.IntegerType(),
    "f32": T.FloatType(),
    "f32_zero": T.FloatType(),
    "f64": T.DoubleType(),
    "bool": T.BooleanType(),
    "str_array_norm": T.ArrayType(T.StringType()),
    "int_array": T.ArrayType(T.IntegerType()),
    "m_to_ft": T.IntegerType(),
    "opensky_alt_baro": T.IntegerType(),
    "ms_to_kn": T.FloatType(),
    "ms_to_fpm": T.FloatType(),
    "epoch_ts": T.TimestampType(),
    "spi_int_bool": T.BooleanType(),
    "position_source_enum": T.StringType(),
    "source": T.StringType(),
    "scrape_time": T.TimestampType(),
}


def raw_schema(cfg: SourceConfig) -> T.StructType:
    """Kafka-layer schema: every field nullable except arrays/meta
    (ClickHouse `Nullable(...)` columns, schema/schema-local.sql:26-100)."""
    fields = []
    for col in cfg.columns:
        nullable = col.kind not in ("source", "scrape_time")
        fields.append(T.StructField(col.raw, _RAW_TYPES[col.kind], nullable))
    return T.StructType(fields)


def clean_schema(cfg: SourceConfig) -> T.StructType:
    """Storage-layer schema, plus the `ingestion_time` stamp
    (schema/schema-local.sql:108-182)."""
    fields = [
        T.StructField(col.clean, _CLEAN_TYPES[col.kind], col.kind in ("lat", "lon"))
        for col in cfg.columns
    ]
    fields.append(T.StructField("ingestion_time", T.TimestampType(), False))
    return T.StructType(fields)


def combined_schema() -> T.StructType:
    """Combined-table schema (schema/schema-global-combined.sql:13-31):
    the ``COMBINED_COLUMNS`` subset of the cleaned schema, identical in
    every source, with ``vertical_rate`` as float — the cast
    operators/combined.py applies on the way in."""
    clean = {f.name: f for f in clean_schema(LOCAL)}
    return T.StructType(
        [
            T.StructField(c, T.FloatType(), clean[c].nullable)
            if c == "vertical_rate"
            else clean[c]
            for c in COMBINED_COLUMNS
        ]
    )

"""Loaders for the driver-generated synthetic parquet tables (TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The engine assumes AQE (runtime partition coalescing, skew-join
    # splitting, runtime broadcast decisions). All three AQE confs default
    # to TRUE on every Spark 3.2+ session, and session.get_spark pins them
    # for engine-owned sessions — so load_table does NOT touch them: a read
    # must not mutate an externally-owned session whose owner deliberately
    # disabled AQE (the nanos conf below is different: the read physically
    # fails without it, and it is set/restored around this read only).
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS), which Spark rejects unless
        # nanos are read back as long. The conf is runtime-settable, so set it
        # here rather than relying on the session having been built by
        # session.get_spark — load_table must work on ANY SparkSession. It is
        # SCOPED to this read (previous value restored below) so unrelated
        # nanos-parquet reads on an externally-owned session keep their
        # owner's setting; the schema of the df returned here is fixed at
        # read time and unaffected by the restore.
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
            # resolve the schema eagerly while the conf is active
            df.schema
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # The engine's temporal operators key on exact integer nanoseconds
        # (ts_ns) — never float seconds — so the same column exists for both
        # testdata vintages:
        #  - TIMESTAMP(NANOS) parquet (nanosAsLong read it as bigint): keep
        #    the exact nanos as ts_ns, re-expose ts as a native micros
        #    timestamp;
        #  - native micros TIMESTAMP parquet: derive ts_ns = micros * 1000
        #    (exact — both engines see identical values at every precision).
        from pyspark.sql import functions as F

        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts_ns", F.col("ts")).withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
            )
        elif "ts_ns" not in df.columns:
            # ts reads as TIMESTAMP_NTZ; diff against the NTZ epoch is
            # timezone-independent and matches DuckDB's epoch_ns exactly
            df = df.withColumn(
                "ts_ns",
                F.expr(
                    "timestampdiff(MICROSECOND, "
                    "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
                )
                * F.lit(1000),
            )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}

"""Triple-file and dictionary-file IO.

Reference formats (SURVEY.md §1.2):
- triples: plain text, one triple/line, three space-separated signed ints
  (PartitionQueryingSubject.java:82-88,95). Here: one ``spark.read.csv`` with
  an explicit schema — scan, tokenize (P1), and cast (F3) fused into a single
  DataFrameReader, executed JVM-side with pushdown-capable parsing.
- dictionary: TSV ``id<TAB>term`` (PartitionQueryingSubject.java:63-70).
  The reference loads it driver-side into a HashMap — fatal at 100 TB; here
  it is a DataFrame, and encode/decode are joins (see dictionary.py).

For anything non-final we write Parquet (columnar, min/max row-group stats →
scan skipping) — the scale-path storage format. The CSV text sink mirrors the
reference's ``saveAsTextFile`` result dump (PartitionQueryingSubject.java:153);
``mode("overwrite")`` subsumes its manual pre-delete (:73).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TRIPLE_SCHEMA = T.StructType(
    [
        # LongType (not the reference's IntegerType) so the id space survives
        # >2^31 distinct terms at 100 TB scale.
        T.StructField("s", T.LongType(), True),
        T.StructField("p", T.LongType(), True),
        T.StructField("o", T.LongType(), True),
    ]
)

DICT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
    ]
)


def read_triples_text(spark: SparkSession, path: str) -> DataFrame:
    """Space-separated signed-int triples, one per line (S1 + P1 + F3)."""
    return spark.read.csv(path, sep=" ", schema=TRIPLE_SCHEMA)


def read_triples_parquet(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select("s", "p", "o")


def read_dictionary_tsv(spark: SparkSession, path: str) -> DataFrame:
    """TSV ``id<TAB>term`` dictionary (S2/S3) as a DataFrame, never a driver map."""
    return spark.read.csv(path, sep="\t", schema=DICT_SCHEMA)


def write_result_csv(df: DataFrame, path: str) -> None:
    """Text sink for decoded results (S4)."""
    df.write.mode("overwrite").csv(path)

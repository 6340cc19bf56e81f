"""Sources & sinks: triples text/parquet IO and the derived RDF view."""

from rdfproject_msc_spark.sources.derived import (
    DICTIONARY_SQL,
    TRIPLES_SQL,
    dictionary_df,
    triples_df,
)
from rdfproject_msc_spark.sources.tables import load_table, load_tables
from rdfproject_msc_spark.sources.triples import (
    TRIPLE_SCHEMA,
    read_dictionary_tsv,
    read_triples_parquet,
    read_triples_text,
    write_result_csv,
)

__all__ = [
    "DICTIONARY_SQL",
    "TRIPLES_SQL",
    "dictionary_df",
    "triples_df",
    "load_table",
    "load_tables",
    "TRIPLE_SCHEMA",
    "read_triples_text",
    "read_triples_parquet",
    "read_dictionary_tsv",
    "write_result_csv",
]

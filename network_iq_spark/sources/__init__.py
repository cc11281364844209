from network_iq_spark.sources.jsonl import (
    jsonl_to_parquet,
    read_jsonl,
    read_jsonl_split,
    read_xml_records,
    write_jsonl,
)
from network_iq_spark.sources.orc import parquet_to_orc, read_orc, write_orc
from network_iq_spark.sources.tables import TABLES, load_table

__all__ = [
    "TABLES",
    "jsonl_to_parquet",
    "load_table",
    "parquet_to_orc",
    "read_jsonl",
    "read_jsonl_split",
    "read_xml_records",
    "read_orc",
    "write_jsonl",
    "write_orc",
]

from monthly_report_etl_spark.sources.parquet import read_table  # noqa: F401
from monthly_report_etl_spark.sources.csv import (  # noqa: F401
    read_lookup_csv,
    read_tsv_directory,
    write_tsv,
)
from monthly_report_etl_spark.sources.json import read_jsonl, write_jsonl  # noqa: F401

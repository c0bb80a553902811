from .readers import read_csv, read_parquet_or_empty
from .writers import write_csv_single_file, write_parquet

__all__ = [
    "read_csv",
    "read_parquet_or_empty",
    "write_csv_single_file",
    "write_parquet",
]

from .readers import load_tables, read_csv, read_fixture, read_table, validate_dataframe
from .writers import write_bucketed_table, write_table

__all__ = [
    "load_tables",
    "read_csv",
    "read_fixture",
    "read_table",
    "validate_dataframe",
    "write_bucketed_table",
    "write_table",
]

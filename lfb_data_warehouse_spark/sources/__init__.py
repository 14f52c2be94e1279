from .io import (  # noqa: F401
    read_csv,
    read_parquet,
    write_parquet,
    write_table,
)
from .testdata import TESTDATA_TABLES, load_table  # noqa: F401

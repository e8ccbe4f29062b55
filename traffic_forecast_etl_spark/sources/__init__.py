from .tables import TABLE_NAMES, load_table, register_views
from .csv import read_csv_auto, probe_delimiter
from .json_payload import forecast_schema, read_json_payload
from .jdbc import JdbcConfig, read_jdbc, write_jdbc_append
from .http_payload import ApiConfig, fetch_forecast, fetch_json
from .delta_log import (
    delete_from_delta,
    delta_snapshot_files,
    read_delta,
    write_delta_append,
    write_delta_checkpoint,
)
from .iceberg_meta import (
    iceberg_snapshot_files,
    read_iceberg,
    write_iceberg_append,
)

__all__ = [
    "TABLE_NAMES",
    "load_table",
    "register_views",
    "read_csv_auto",
    "probe_delimiter",
    "forecast_schema",
    "read_json_payload",
    "JdbcConfig",
    "ApiConfig",
    "fetch_forecast",
    "fetch_json",
    "read_delta",
    "write_delta_append",
    "write_delta_checkpoint",
    "delete_from_delta",
    "delta_snapshot_files",
    "read_iceberg",
    "write_iceberg_append",
    "iceberg_snapshot_files",
    "read_jdbc",
    "write_jdbc_append",
]

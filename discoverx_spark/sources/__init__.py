from .io import (read_csv, read_json, write_partitioned,
                 merge_upsert, iceberg_available)
from .table_format import (TableFormat, ParquetTableFormat,
                           IcebergTableFormat, DEFAULT_FORMAT, get_format)
from .housekeeping import (table_file_stats, table_summary_stats,
                           housekeeping_recommendations,
                           housekeeping_recommendations_full,
                           maintenance_history_latest, nan_to_null)

__all__ = ["read_csv", "read_json", "write_partitioned",
           "merge_upsert", "iceberg_available",
           "TableFormat", "ParquetTableFormat", "IcebergTableFormat",
           "DEFAULT_FORMAT", "get_format",
           "table_file_stats", "table_summary_stats",
           "housekeeping_recommendations",
           "housekeeping_recommendations_full",
           "maintenance_history_latest", "nan_to_null"]

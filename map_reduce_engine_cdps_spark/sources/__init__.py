from map_reduce_engine_cdps_spark.sources.readers import (
    TABLES,
    load_table,
    read_csv_dir,
    read_image_dir,
    read_text_dir,
)

__all__ = [
    "TABLES",
    "load_table",
    "read_csv_dir",
    "read_image_dir",
    "read_text_dir",
]

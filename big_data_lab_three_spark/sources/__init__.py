from big_data_lab_three_spark.sources.readers import (  # noqa: F401
    TABLE_NAMES,
    events,
    read_csv,
    read_json_records,
    register_views,
    spread,
    sql,
    table,
)

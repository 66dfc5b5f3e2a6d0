from .tables import (  # noqa: F401
    TABLES,
    load_table,
    register_views,
    spread_scan,
    stream_table,
    table_path,
)

from .fixtures import (  # noqa: F401
    FIXTURE_TABLES,
    load_table,
    master_data,
    transactions,
)

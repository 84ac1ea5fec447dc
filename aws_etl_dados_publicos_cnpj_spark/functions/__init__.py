from .scalar import (  # noqa: F401
    decimal_comma_to_double,
    normalize_table_key,
    yyyymmdd_int,
)

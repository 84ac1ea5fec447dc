from .scalar import decimal_comma_to_double  # noqa: F401

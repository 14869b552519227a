from . import engine, association  # noqa: F401

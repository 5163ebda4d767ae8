"""Source/sink layer: Iceberg-first with parquet fallback."""

from .io import write_articles, write_ledgered  # noqa: F401

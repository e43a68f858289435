from .ingest import (
    compact_lake,
    extract_tables,
    ingest_blocks,
    rollback_lake,
)

__all__ = [
    "compact_lake",
    "extract_tables",
    "ingest_blocks",
    "rollback_lake",
]

from .ingest import (
    compact_lake,
    extract_tables,
    ingest_blocks,
    rollback_lake,
)
from .materialize import (
    deregister_materialization,
    rebuild_lake_materialization,
    registered_materializations,
    unfolded_source_files,
)

__all__ = [
    "compact_lake",
    "deregister_materialization",
    "extract_tables",
    "ingest_blocks",
    "rebuild_lake_materialization",
    "registered_materializations",
    "unfolded_source_files",
    "rollback_lake",
]

"""The availableNow foreachBatch loop behind every maintained aggregate
(``streaming/materialize.py::materialize_aggregate``): file-source
readStream -> foreachBatch -> availableNow trigger -> processAllAvailable
-> stop.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def run_available_now(
    stream: DataFrame,
    checkpoint: str,
    write_epoch: Callable[[DataFrame, int], None],
) -> None:
    """Drain every unseen input through ``write_epoch``, then stop."""
    q = (
        stream.writeStream.foreachBatch(write_epoch)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

"""CDC application: fold an insert/update/delete change feed into a
snapshot.

The reference's upserts (``dags/utils/db.py:45-65``) cover I and U;
real change feeds (Debezium-style) also carry deletes and multiple
changes per key per batch. ``apply_cdc`` is that upsert plus deletes:

1. ``warehouse.merge_upsert`` folds the feed into the snapshot — the
   latest change per key (by the change order) replaces the snapshot's
   rows for that key, in one union + one key-partitioned window (a
   single exchange);
2. a winning ``D`` then drops its key: delete wins by being the last
   op, not by a separate pass.

Idempotent per batch: applying the same change feed twice yields the
same snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .warehouse import merge_upsert

__all__ = ["apply_cdc"]

OP_COL = "_op"  # 'I' | 'U' | 'D'


def apply_cdc(
    snapshot: DataFrame | None,
    changes: DataFrame,
    keys: list[str],
    order_col: str,
) -> DataFrame:
    """Return the new snapshot after applying ``changes``.

    ``changes`` carries the payload columns plus ``_op`` and
    ``order_col`` (change sequence — LSN, offset, or timestamp).
    ``snapshot`` may be None (initial load from a feed that starts with
    inserts)."""
    if snapshot is not None:
        snap_clash = sorted({OP_COL, order_col} & set(snapshot.columns))
        if snap_clash:
            raise ValueError(
                f"apply_cdc: snapshot columns {snap_clash} collide with the "
                f"change feed's op/order columns; rename before calling"
            )
        # snapshot rows enter the fold as inserts, so only a winning
        # change can carry the delete
        snapshot = snapshot.withColumn(OP_COL, F.lit("I"))
    latest = merge_upsert(snapshot, changes, keys, order_col)
    return latest.where(F.col(OP_COL) != "D").drop(OP_COL, order_col)

"""MERGE-style upsert without a table format.

Training-data pipelines refresh snapshots from change streams; with
Delta/Iceberg absent (no jars in this environment) the classic
emulation is anti-join + union: updates replace matched target rows,
unmatched updates append.  At scale both sides shuffle once on the
merge key — identical shape to the join it replaces; a real lakehouse
MERGE additionally prunes untouched files, which is a storage-layout
property, not a plan property.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Rows of ``updates`` win over matching ``target`` rows; the rest
    of the target passes through (UPDATE + INSERT of SQL MERGE)."""
    keys = list(keys)
    kept = target.join(updates.select(*keys), keys, "left_anti")
    return kept.unionByName(updates.select(*target.columns))

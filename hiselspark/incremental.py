"""Incrementally maintained derived tables (catch-up featurization).

The production loop of the engine is: an upstream ingest keeps
APPENDING image+caption rows to a snapshot table; a features table
must follow it without ever rescanning history.  At 10^12 rows a full
re-featurization per ingest batch is out of the question — the only
plan that survives is *read the delta, transform the delta, append the
delta*, which is exactly what Iceberg's incremental append scan
exists for (reference behavior: hisel recomputes features from the
full matrix every run, hisel/select.py — the grafted engine replaces
that with a resumable delta pipeline).

:func:`catchup` is that loop's engine-side half.  The derived table
carries, in each snapshot's ``properties``, the **source version it is
current through** (``source_version``).  A call:

1. reads the source delta ``(last_processed, source_current]`` via
   :meth:`SnapshotTable.read_incremental` (append files only — a
   compact in the range is skipped, an upsert/overwrite raises rather
   than silently corrupting the derived table);
2. applies the row-wise ``transform`` (e.g.
   :func:`hiselspark.sources.fused_scan.featurize_images_fused` on
   the delta DataFrame) to the delta ONLY;
3. appends the result in one atomic commit stamped with the new
   ``source_version``.

Crash-safety falls out of the snapshot commit protocol: the stamp and
the data commit are the same atomic rename, so a writer killed
mid-step leaves the derived table at its previous consistent
(version, stamp) pair and the next call simply re-reads the same
delta.  Calls are therefore idempotent per source version, and a
no-change call is a no-op (returns ``None``) without touching Spark.
"""
from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from .sources.snapshots import Snapshot, SnapshotTable

SOURCE_VERSION_PROP = "source_version"


def processed_source_version(derived: SnapshotTable) -> int:
    """Source version the derived table is current through (0 if the
    derived table is empty or was never stamped)."""
    cur = derived.current()
    if cur is None:
        return 0
    return int(cur.properties.get(SOURCE_VERSION_PROP, 0))


def catchup(
    spark: SparkSession,
    source: SnapshotTable,
    derived: SnapshotTable,
    transform: Callable[[DataFrame], DataFrame],
    to_version: Optional[int] = None,
) -> Optional[Snapshot]:
    """Advance ``derived`` to ``source``'s ``to_version`` (default:
    current) by transforming ONLY the source rows appended since the
    last call.  Returns the new derived snapshot, or ``None`` if the
    derived table is already current (idempotent no-op).

    ``transform`` must be row-wise (each output row a function of one
    input row, like featurization) — that is what makes
    delta-transform-append equal to transform-everything, which the
    driver gate checks by replaying the whole chain in SQL.
    """
    src_cur = source.current()
    if src_cur is None:
        return None
    target = src_cur.version if to_version is None else to_version
    if target > src_cur.version:
        raise ValueError(
            f"to_version {target} beyond source current {src_cur.version}")
    done = processed_source_version(derived)
    if done >= target:
        return None
    # metadata-only pre-check (no Spark job): a range of pure compacts
    # adds no rows — stay a no-op rather than committing empty
    # snapshots; a row-level op in range must raise exactly as
    # read_incremental would, not be skipped silently.
    ops = [s.operation for s in source.snapshots()
           if done < s.version <= target]
    if not any(op == "append" for op in ops):
        bad = [op for op in ops if op != "compact"]
        if bad:
            raise ValueError(
                f"catch-up across a '{bad[0]}' snapshot is undefined; "
                "rebuild the derived table from the target snapshot")
        return None
    delta = source.read_incremental(spark, from_version=done,
                                    to_version=target)
    out = transform(delta)
    return derived.write(out, mode="append",
                         properties={SOURCE_VERSION_PROP: str(target)})

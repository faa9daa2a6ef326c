"""Retention operators — the reference's TTL/trim semantics (A10, A17).

- Stream cap: XADD MAXLEN '~' 1000 (insert-events-into-db.lua:33) ==
  "keep the most recent ~N entries". Engine form: a last-N view over the
  append table.
- Aggregate TTL: EXPIREAT next-midnight (update-contributor-scores.js:
  218-220) == partition-drop retention: delete partitions older than the
  horizon. With (date, hour)-partitioned storage that is a metadata-only
  operation, same spirit as Redis key expiry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def last_n_view(df: DataFrame, order_col: str, n: int) -> DataFrame:
    """Most recent n rows by a monotonic sequence column (the engine's
    replacement for Redis auto stream IDs).

    Implemented as orderBy desc + limit => TakeOrderedAndProject, so the
    "trim" reads k rows per partition, never the full table. The
    reference's '~' (approximate) trim is allowed to overshoot; we are
    exact, which is strictly stronger.
    """
    return df.orderBy(F.col(order_col).desc()).limit(n)


def expire_day_partitions(path: str, min_keep_day: str) -> list[str]:
    """Physically drop expired day partitions from a
    ``bucket_day=YYYY-MM-DD``-partitioned parquet directory — the engine
    form of the reference's EXPIREAT-next-midnight aggregate TTL
    (update-contributor-scores.js:218-220).

    Day keys are fixed-format strings, so the horizon comparison is
    lexicographic on directory NAMES: a pure metadata operation that
    never opens a data file, exactly like Redis key expiry. On a
    cluster the same operation is ``ALTER TABLE .. DROP PARTITION`` /
    an object-store prefix delete; file count is O(days), independent
    of data volume, so this costs the same at 100 TB as at 100 MB.

    Returns the dropped partition day keys (sorted), for audit.

    Safety rails: `min_keep_day` must be a zero-padded YYYY-MM-DD
    string (a non-padded horizon would lexicographically drop the
    wrong partitions), and stray regular FILES with the partition
    prefix are skipped — otherwise an rmtree mid-sweep would raise
    after some partitions were already dropped.
    """
    import os
    import re
    import shutil

    if not re.fullmatch(r"\d{4}-\d{2}-\d{2}", min_keep_day):
        raise ValueError(
            f"min_keep_day must be YYYY-MM-DD, got {min_keep_day!r}"
        )
    dropped: list[str] = []
    for entry in sorted(os.listdir(path)):
        if not entry.startswith("bucket_day="):
            continue
        full = os.path.join(path, entry)
        if not os.path.isdir(full):
            continue
        day = entry.split("=", 1)[1]
        if day < min_keep_day:
            shutil.rmtree(full)
            dropped.append(day)
    return dropped


"""One size gate and one session cache for the driver-local fast paths.

Several operators skip their distributed plan when the input is small enough
to hold on the driver: the broadcast pair-verify kernels and the broadcast
simhash candidates (operators/dedup.py), the broadcast near-dup matrix
(operators/similarity.py) and the local components/PageRank
(operators/graph.py).

- ``collect_within`` is the only way those paths bring rows to the driver.
  Every path shares one byte budget.
- ``session_frame`` is the one cache for frames and broadcasts shared across
  queries in a Spark application. It is a bounded LRU that releases what it
  evicts.
- Both append to ``RECORD``: gate decisions, cache builds, hits and
  evictions, most recent last.
"""

from __future__ import annotations

import collections
import threading
from typing import Callable, Hashable, Optional, Union

import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# driver-collect budget, the order of an auto-broadcast join side. A small
# driver lowers it to 1/16 of its max heap: the collected rows, their pandas
# copy and the broadcast serialization are all alive at once
BUDGET_BYTES = 64 << 20
# session_frame entries kept before the least recently used is released
SESSION_SLOTS = 32
RECORD: collections.deque = collections.deque(maxlen=4096)

_INTEGRAL = ("long", "integer", "short", "byte")
_FRAMES: collections.OrderedDict = collections.OrderedDict()
# re-entrant: a build() may itself call session_frame for its inputs
_LOCK = threading.RLock()


def collect_within(df: DataFrame, row_bytes: Union[int, Column],
                   id_col: Optional[str] = None, *,
                   what: str) -> Optional[pd.DataFrame]:
    """``df`` as a pandas frame when it fits the budget, else None.

    - ``row_bytes`` int: fixed-width rows. One bounded
      ``limit(max_rows + 1)`` collect; more rows than fit means None.
    - ``row_bytes`` Column: the per-row size of variable-width rows. One
      exact ``agg(sum, count)`` job sizes the frame before any row moves.
    - ``id_col``: when set and not of an integral type, None without a
      Spark job (the fast paths key numpy int64 arrays by it).

    ``what`` names the caller in the decision record.
    """
    jvm = df.sparkSession.sparkContext._jvm
    cap = min(BUDGET_BYTES,
              jvm.java.lang.Runtime.getRuntime().maxMemory() // 16)
    entry = {"event": "gate", "what": what, "budget": cap}
    if id_col is not None and (df.schema[id_col].dataType.typeName()
                               not in _INTEGRAL):
        RECORD.append({**entry, "admitted": False, "reason": "id type"})
        return None
    if isinstance(row_bytes, Column):
        size, rows = df.agg(F.sum(row_bytes), F.count(F.lit(1))).first()
        size = size or 0
        if size > cap:
            RECORD.append({**entry, "admitted": False, "rows": rows,
                           "bytes": size})
            return None
        pdf = df.toPandas()
    else:
        max_rows = cap // row_bytes
        pdf = df.limit(max_rows + 1).toPandas()
        rows, size = len(pdf), len(pdf) * row_bytes
        if rows > max_rows:
            RECORD.append({**entry, "admitted": False, "rows": rows,
                           "bytes": size})
            return None
    RECORD.append({**entry, "admitted": True, "rows": rows, "bytes": size})
    return pdf


def session_frame(spark: SparkSession, key: Hashable,
                  build: Callable[[], object]):
    """``build()`` once per (Spark application, key), shared by every later
    call: a persisted DataFrame, a broadcast, or any value (None included).
    Past SESSION_SLOTS entries the least recently used is evicted; an
    evicted frame is unpersisted and an evicted broadcast destroyed. Entries
    of an earlier application are dropped without release (their context
    is gone)."""
    app = spark.sparkContext.applicationId
    with _LOCK:
        slot = (app, key)
        if slot in _FRAMES:
            _FRAMES.move_to_end(slot)
            RECORD.append({"event": "hit", "key": key})
            return _FRAMES[slot]
        value = build()
        _FRAMES[slot] = value
        RECORD.append({"event": "build", "key": key})
        while len(_FRAMES) > SESSION_SLOTS:
            (old_app, old_key), old = _FRAMES.popitem(last=False)
            if old_app == app:
                if isinstance(old, Broadcast):
                    old.destroy()
                elif isinstance(old, DataFrame):
                    old.unpersist()
            RECORD.append({"event": "evict", "key": old_key})
        return value

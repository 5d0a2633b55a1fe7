"""One session memo for every piece of state the engine derives once and
reuses across a session's queries: opened parquet relations, trained
model state (BPE vocabulary, IVF/PQ codebooks, k-means centroids, the
Bloom bitset, near-dup pairs), constructed Column trees and the
transform layer's views.

The rule (the session-reuse-with-validity-check pattern of EDBT 2020,
"Incremental Based Framework for Efficient Top-K Similarity Search in
Interactive Data Analysis Sessions"):

- an entry is keyed by (applicationId, name), so state bound to a
  stopped session is never replayed into a new one;
- it is valid while the content fingerprint of its ``inputs`` (table
  paths; ``catalog.table_fingerprint``) is unchanged, so an input
  rewritten in place rebuilds instead of serving stale state. The
  fingerprint includes the paths themselves: a name whose inputs move
  to another corpus dir keeps ONE entry, replaced on the switch;
- a changed fingerprint replaces the entry;
- at most MAX_ENTRIES entries, least recently used evicted first;
- every replaced or evicted value is released: ``unpersist()`` for a
  DataFrame (plus its checkpointed RDD's blocks), ``destroy()`` for a
  Broadcast (each element of a tuple value), so cached/checkpointed
  frames and broadcast blocks do not outlive their entry. A frame
  derived from a released value stops working: callers re-fetch
  through the memo instead of holding memoized state across a change
  of its inputs.
"""

from __future__ import annotations

import contextlib
from collections import OrderedDict
from collections.abc import Callable, Hashable, Sequence
from typing import TypeVar

from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession

from .catalog import table_fingerprint

T = TypeVar("T")

MAX_ENTRIES = 256

#: (application id, name) -> (input fingerprint, value), least recently
#: used first
_SESSION_MEMO: OrderedDict[tuple[str, Hashable], tuple[tuple, object]] = OrderedDict()


def _release(value) -> None:
    for v in value if isinstance(value, tuple) else (value,):
        # suppressed: the value may belong to an already-stopped session
        with contextlib.suppress(Exception):
            if isinstance(v, DataFrame):
                v.unpersist()
                # Dataset.unpersist leaves a localCheckpoint's blocks in
                # place; they belong to the RDD under its LogicalRDD plan
                plan = v._jdf.queryExecution().logical()
                if plan.getClass().getSimpleName() == "LogicalRDD":
                    plan.rdd().unpersist(False)
            elif isinstance(v, Broadcast):
                v.destroy()


def session_memo(
    spark: SparkSession, name: Hashable, inputs: Sequence[str], build: Callable[[], T]
) -> T:
    """The value ``build()`` returned for (this application, ``name``)
    while ``inputs`` are unchanged; otherwise build it, store it and
    release the value it replaces. ``inputs`` that cannot be
    fingerprinted (over the walk cap, no local stat) key by path only."""
    key = (spark.sparkContext.applicationId, name)
    fp = tuple((p, table_fingerprint(p)) for p in inputs)
    hit = _SESSION_MEMO.pop(key, None)
    if hit is not None:
        if hit[0] == fp:
            _SESSION_MEMO[key] = hit
            return hit[1]
        _release(hit[1])
    value = build()
    _SESSION_MEMO[key] = (fp, value)
    while len(_SESSION_MEMO) > MAX_ENTRIES:
        _release(_SESSION_MEMO.popitem(last=False)[1][1])
    return value


def clear() -> None:
    """Release and drop every entry — the next call of any memoized
    builder pays its cold cost."""
    while _SESSION_MEMO:
        _release(_SESSION_MEMO.popitem()[1][1])

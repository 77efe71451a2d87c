"""One way to hold an intermediate: an eager ``localCheckpoint`` whose
storage blocks are released deterministically.

Lifetime contract (the one every materializing operator follows):

* library code calls :func:`materialize` where a frame is read by
  several branches or sits under a deep plan (the checkpoint runs the
  subtree once and truncates the plan to a ``LogicalRDD`` leaf);
* library code never releases what it returns — the result is lazy and
  reads the checkpoint until the caller's last action on it. The only
  in-library :func:`release` frees a checkpoint that a later one has
  superseded: the previous round of an iterative loop (connected
  components, BPE), or lm_score's tokens once lm_buckets holds its own;
* the CALLER owns the lifetime: a job or test wraps its build and its
  actions in ``with scope():``, and every frame materialized inside is
  released on exit, exceptions included. Outside any scope the blocks
  live until garbage collection frees the checkpoint, as Spark does
  by default.

A checkpoint is not recomputable (its lineage is cut), so a frame must
not be read after the scope that materialized it has closed, and blocks
lost with an executor fail the job instead of being recomputed — the
fault-tolerance price every site pays for the truncated plan.

The registry is process-wide, like the SparkContext's own map of
persisted RDDs, and scopes nest on the calling thread. It holds RDD ids
only, never JVM references, so an unscoped checkpoint stays
collectable by Spark's ContextCleaner. The single exception to this
module is ``matching.match_pages``' two lazy caches, which sit on the
timed match path.
"""

from __future__ import annotations

import contextlib
import warnings

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import DataFrame

# recorded checkpoint RDD ids: [0] holds unscoped ones, each open
# scope() pushes one set (innermost last)
_registry: list[set[int]] = [set()]


def _checkpoint_ids(df: DataFrame) -> set[int]:
    """RDD ids of the ``LogicalRDD`` leaves ``df``'s plan reads. Uses
    Spark-internal plan accessors: if a Spark upgrade moves them, warn
    (tests run this under ``warnings.simplefilter("error")``)."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        return {
            leaf.rdd().id()
            for leaf in (leaves.apply(i) for i in range(leaves.size()))
            if leaf.nodeName() == "LogicalRDD"
        }
    except Py4JError as exc:
        warnings.warn(
            f"checkpoint RDD lookup failed (Spark internal accessor moved?): "
            f"{exc!r}; its blocks are left to GC-based cleanup",
            RuntimeWarning,
            stacklevel=3,
        )
        return set()


def _unpersist(ids: set[int]) -> None:
    sc = SparkContext._active_spark_context
    if not ids or sc is None:
        return
    persisted = sc._jsc.getPersistentRDDs()
    for i in ids:
        rdd = persisted.get(i)
        if rdd is not None:
            rdd.unpersist(False)


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly checkpoint ``df`` and record it in the innermost open
    scope (or the unscoped set)."""
    ck = df.localCheckpoint()
    _registry[-1].update(_checkpoint_ids(ck))
    return ck


def release(df: DataFrame) -> None:
    """Free every recorded checkpoint ``df`` reads — the checkpoint
    frame itself or any frame derived from it."""
    ids = _checkpoint_ids(df) & set().union(*_registry)
    for s in _registry:
        s -= ids
    _unpersist(ids)


@contextlib.contextmanager
def scope():
    """Release every frame materialized inside the block on exit."""
    _registry.append(set())
    try:
        yield
    finally:
        _unpersist(_registry.pop())

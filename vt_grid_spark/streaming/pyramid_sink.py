"""Streaming pyramid maintenance: a Structured Streaming sink that keeps
a checkpointed TableIO pyramid fresh as point batches arrive.

The production shape for "events flow in, tiles stay current": the first
microbatch bootstraps the pyramid with :func:`operators.pyramid.
build_pyramid`; every later microbatch folds in through
:func:`operators.pyramid.incremental_update` — per big (Spark) level one
scan of the existing cells plus a delta-sized shuffle (broadcast anti/semi
routing), then the small upper levels derived from the merged level by
the build's tail; never a rebuild from raw history.  Exactness holds because every aggspec
reducer's rollup combiner is a commutative monoid (the property the
batch delta path proves in tests/test_pyramid.py::
test_incremental_update_equals_rebuild), so after N microbatches the
pyramid is IDENTICAL to a one-shot batch build over the union — asserted
stream-vs-batch in tests/test_streaming_custom.py.

Delivery semantics.  foreachBatch is at-least-once on retry, and both
calls are atomic and idempotent by batch id through TableIO's commit
protocol: the sink passes the batch id as the ``TableIO``'s
``delta_id``, which rides in the same snapshot publish as the levels.  A
crash anywhere before that publish leaves the previous pyramid, so the
replay redoes the batch; a replay after it finds its id already applied
and folds nothing.  Only the last applied id is stored (batch ids are
monotonic and foreachBatch can only replay the latest), so sink state is
O(1) forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from vt_grid_spark.operators.pyramid import build_pyramid, incremental_update
from vt_grid_spark.plans.pyramid_plan import PyramidPlan
from vt_grid_spark.sources.table_io import TableIO


class PyramidStreamSink:
    """``writeStream.foreachBatch(PyramidStreamSink(plan, root))``; read the
    live pyramid with ``TableIO(root)``."""

    def __init__(self, plan: PyramidPlan, root: str):
        self.plan = plan
        self.root = root

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        io = TableIO(self.root, delta_id=int(batch_id))
        if io.delta_applied() or batch.isEmpty():
            return
        # no checkpoint of the batch here: the bootstrap build reads it
        # once, in its base level's write (every level above reads the
        # level below back), and the fold checkpoints its delta partials
        # before any merge, so either reads the batch once
        if io.level_complete(next(iter(self.plan.levels()))[1]):
            incremental_update(batch, self.plan, io)
        else:
            build_pyramid(batch, self.plan, io, resume=False)


def maintain_pyramid(stream: DataFrame, plan: PyramidPlan, root: str,
                     checkpoint_dir: str, trigger_available_now: bool = True):
    """Convenience wrapper: attach the sink to a streaming DataFrame of
    points (lon, lat, value columns) and return the started query.  Read
    the live pyramid via ``TableIO(root)``."""
    writer = (stream.writeStream
              .foreachBatch(PyramidStreamSink(plan, root))
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

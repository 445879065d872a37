"""Streaming sketch-register maintenance: a persisted HLL register table
(and CMS sketch table) kept current by Structured Streaming micro-batches
— the streaming face of the mergeable-sketch rollup discipline
(operators/profile.py::hll_registers/hll_merge, cms_sketch/cms_merge).

The 100 TB shape: the register table is CONSTANT-SIZE (m rows per group;
depth×width rows), so each micro-batch's work is sketch(batch) + one
merge against constant state + one small overwrite — "distinct users so
far" / "event counts so far" stay queryable at any moment without ever
rescanning history.

Crash-replay contracts (foreachBatch can re-run a batch):

- HLL: merge is PER-REGISTER MAX — idempotent, so re-merging a replayed
  batch changes nothing.  No markers needed; the operator is natively
  exactly-once.
- CMS: merge is PER-BUCKET SUM — a replay would double-count, so the CMS
  maintainer records the last applied batch id in a ``_last_applied``
  file written INSIDE the new state directory BEFORE the swap renames it
  into place — marker and state become visible in the same atomic rename,
  so there is no window where the state includes a batch the marker
  doesn't (or vice versa).  Parquet readers ignore ``_``-prefixed files,
  and Structured Streaming replays only the most recent uncommitted
  batch, so one monotonic id is sufficient.

State overwrite is the two-rename backup swap (sinks/layout.py
discipline): new state lands beside the old, then renames — readers
never observe a half-written register table.  A crash BETWEEN the two
renames leaves the state at ``path + '.__old'`` only; ``_swap_state``
recovers it (rename back) before proceeding, so accumulated registers
are never silently lost to a rebuild-from-one-batch, and the backup is
only removed after the new state is fully in place.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from datapipeline_omnichanneltobigquery_spark.operators.profile import (
    cms_merge,
    cms_sketch,
    hll_merge,
    hll_registers,
)


#: file (inside the state dir) recording the last batch id folded into a
#: CMS sketch table — ``_``-prefixed so parquet readers skip it, and part
#: of the state dir so the swap rename publishes marker + state atomically.
_APPLIED_MARKER = "_last_applied"


def _recover_state(path: str) -> None:
    """If a prior swap crashed between its two renames, the state lives at
    ``path + '.__old'`` and ``path`` is absent — rename it back so the
    caller reads accumulated state instead of silently rebuilding from one
    batch (and then rmtree-ing the only copy)."""
    old = path + ".__old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)


def _swap_state(df: DataFrame, path: str, marker_batch_id: int | None = None) -> None:
    """Write ``df`` as the new state at ``path`` via write-aside + two
    renames — readers see the old state or the new, never a partial.

    ``marker_batch_id``: when given, a ``_last_applied`` file holding the
    id is written into the new directory BEFORE it is renamed into place,
    so the applied-batch marker and the state it describes are published
    by the same atomic rename (no double-count window for non-idempotent
    merges like CMS).  The backup is removed only AFTER the new state is
    in place; a crash between the renames is repaired by
    :func:`_recover_state` on the next call."""
    _recover_state(path)
    tmp, old = path + ".__new", path + ".__old"
    df.write.mode("overwrite").parquet(tmp)
    if marker_batch_id is not None:
        with open(os.path.join(tmp, _APPLIED_MARKER), "w") as fh:
            fh.write(str(marker_batch_id))
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def _last_applied(path: str) -> int | None:
    marker = os.path.join(path, _APPLIED_MARKER)
    if os.path.exists(marker):
        with open(marker) as fh:
            return int(fh.read().strip())
    return None


def maintain_hll_batch(
    batch_df: DataFrame, register_path: str, group_col: str, value_col: str,
    n_buckets: int = 512,
) -> None:
    """Fold one batch into the persisted HLL register table.  Idempotent:
    replaying the same batch re-MAXes identical registers."""
    _recover_state(register_path)
    spark = batch_df.sparkSession
    regs = hll_registers(batch_df, group_col, value_col, n_buckets)
    if os.path.exists(register_path):
        regs = hll_merge(spark.read.parquet(register_path), regs)
    _swap_state(regs.localCheckpoint(), register_path)


def maintain_cms_batch(
    batch_df: DataFrame, sketch_path: str, key_col: str, batch_id: int,
    depth: int = 4, width: int = 1024,
) -> None:
    """Fold one batch into the persisted CMS sketch table — guarded by the
    in-state ``_last_applied`` marker because CMS counts ADD (a replay
    would double-count where HLL's max would not).  Marker and merged
    state are published by one atomic rename (see :func:`_swap_state`),
    so a crash at ANY point either applied the batch with its marker or
    neither — replays are exactly-once."""
    _recover_state(sketch_path)
    applied = _last_applied(sketch_path)
    if applied is not None and batch_id <= applied:
        return
    spark = batch_df.sparkSession
    sk = cms_sketch(batch_df, key_col, depth, width)
    if os.path.exists(sketch_path):
        sk = cms_merge(spark.read.parquet(sketch_path), sk)
    _swap_state(sk.localCheckpoint(), sketch_path, marker_batch_id=batch_id)


def maintain_qsketch_batch(
    batch_df: DataFrame, register_path: str, group_col: str, value_col: str,
    batch_id: int, lo: float, hi: float, n_bins: int = 256,
) -> None:
    """Fold one batch into the persisted quantile-sketch register table
    (operators/profile.py::qsketch_registers).  Bin counts ADD like CMS
    counts, so the same in-state ``_last_applied`` marker guards replays:
    marker and merged histogram are published by one atomic rename —
    exactly-once under foreachBatch re-runs.  Finalize at any moment with
    ``qsketch_quantiles(spark.read.parquet(register_path), ...)``."""
    from datapipeline_omnichanneltobigquery_spark.operators.profile import (
        qsketch_merge,
        qsketch_registers,
    )

    _recover_state(register_path)
    applied = _last_applied(register_path)
    if applied is not None and batch_id <= applied:
        return
    spark = batch_df.sparkSession
    regs = qsketch_registers(batch_df, group_col, value_col, lo, hi, n_bins)
    if os.path.exists(register_path):
        regs = qsketch_merge(spark.read.parquet(register_path), regs)
    _swap_state(regs.localCheckpoint(), register_path, marker_batch_id=batch_id)


def streaming_hll_maintain(
    stream: DataFrame,
    register_path: str,
    group_col: str,
    value_col: str,
    checkpoint_dir: str,
    *,
    n_buckets: int = 512,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start a stream that keeps the HLL register table at
    ``register_path`` current; query distinct-count estimates at any time
    with ``hll_estimate(spark.read.parquet(register_path), group_col)``."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            maintain_hll_batch(
                batch_df, register_path, group_col, value_col, n_buckets
            )

    writer = stream.writeStream.foreachBatch(_fold).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

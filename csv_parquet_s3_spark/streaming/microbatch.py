"""The one micro-batch harness: every ``foreachBatch`` sink in the package
starts through :func:`run_each_batch`, and every stream the package drains
itself finishes through :func:`await_stream`."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from csv_parquet_s3_spark.plans.materialize import released_after


def run_each_batch(
    stream: DataFrame, fn: Callable[[DataFrame], None], checkpoint: str
) -> StreamingQuery:
    """Start ``stream`` under ``availableNow``, checkpointed at
    ``checkpoint``, and call ``fn(batch)`` on every non-empty micro-batch.
    Returns the running query.

    Each call runs inside ``released_after``: a merge that localCheckpoints
    batch-bounded pre-reads releases them as its batch completes, so a
    standing stream's block-manager storage does not grow by one batch's
    pins per trigger (soak-pinned in tests/test_streaming_soak.py). A merge
    that pins nothing pays nothing for the bracket."""

    def _each(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        with released_after(batch.sparkSession):
            fn(batch)

    return (
        stream.writeStream.foreachBatch(_each)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def await_stream(
    q: StreamingQuery,
    name: str,
    timeout_s: int = 420,
    expect_input_batches: int | None = None,
) -> None:
    """Wait for ``q`` to drain. A query still running after ``timeout_s``
    is stopped, then reported as a ``RuntimeError`` naming ``name``.

    ``expect_input_batches`` checks how many micro-batches CONSUMED rows,
    for operators whose semantics depend on a specific batch sequencing. If
    a Spark build reorders files or stops honouring maxFilesPerTrigger under
    availableNow, this fails as a clear sequencing error instead of a
    confusing downstream hash mismatch."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(f"stream {name} did not finish in {timeout_s} s; stopped it")
    if expect_input_batches is not None:
        got = sum(1 for pr in q.recentProgress if pr["numInputRows"] > 0)
        if got != expect_input_batches:
            raise RuntimeError(
                f"stream {name}: micro-batch sequencing broke: {got} batches "
                f"consumed rows, expected {expect_input_batches} — "
                "FileStreamSource ordering or maxFilesPerTrigger semantics "
                "changed on this Spark build"
            )

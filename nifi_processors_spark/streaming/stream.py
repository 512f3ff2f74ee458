"""Structured Streaming front-end for the CDC apply loop.

The reference is a continuously-triggered dataflow (NiFi schedules
onTrigger repeatedly) with no watermarks or event-time semantics
(SURVEY.md §2.9); the north rule mandates a *batch-incremental* pipeline.
This module bridges the two: the SAME ChangeApplier epoch path runs
under Structured Streaming's ``foreachBatch`` — Spark's micro-batch
tailer discovers new changelog files, and every micro-batch is applied
with the engine's own exactly-once machinery (epoch markers + LWW-vs-state
merge), which makes the sink idempotent under foreachBatch's
at-least-once replays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.apply import ChangeApplier

CHANGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("commit_seq", T.LongType()),
        T.StructField("event_seq", T.LongType()),
        T.StructField("payload_json", T.StringType()),
    ]
)


def stream_apply(
    spark: SparkSession,
    applier: ChangeApplier,
    checkpoint_location: str,
    max_files_per_trigger: int = 64,
):
    """Tail the applier's changelog directory as a file stream and apply
    each micro-batch through the batch engine.

    The streaming epoch_id becomes the engine epoch; re-delivered batches
    (foreachBatch is at-least-once) are no-ops thanks to the engine's
    commit markers. Markers are namespaced 'stream_<id>' so a streaming
    run whose micro-batch ids restart at 0 (fresh checkpointLocation) can
    never collide with batch changelog epochs committed in the same
    state_dir — without the namespace, a batch bootstrap of epochs 0..N
    would make the stream silently skip its first N+1 micro-batches.
    Returns the StreamingQuery (caller stops it).
    """
    stream = (
        spark.readStream.schema(CHANGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(applier.changelog_dir)
    )

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        key = f"stream_{epoch_id}"
        if applier.checkpoints.is_committed(key):
            return  # replayed micro-batch: exactly-once skip
        # observe_metrics=False: Observation.get never resolves when
        # awaited from inside a foreachBatch callback (the listener event
        # is not delivered to the callback thread — deterministic deadlock
        # on Spark 4.1 local mode), so the streaming path computes drift
        # aggregates as one skinny extra job over the micro-batch.
        applier.apply_batch_df(
            batch_df.withColumn("epoch", F.lit(epoch_id)),
            epoch_id,
            marker=key,
            observe_metrics=False,
        )
        # the change-feed outbox and the maintained views track the
        # stream too, in the batch loop's order: publish this micro-batch's
        # change feed once, then fold that segment into the views (both
        # noop when the batch was empty). Idempotent under foreachBatch
        # replays — a replayed batch marker-skips above, and
        # publish()/refresh() noop when already at the current snapshot.
        applier.refresh_views(applier.publish_outbox())

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_location)
        .trigger(availableNow=True)
        .start()
    )

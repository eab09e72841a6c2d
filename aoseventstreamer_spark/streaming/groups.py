"""Stream groups: the reference's durable filtered subscriptions on
Structured Streaming.

Reference semantics re-expressed (SURVEY.md §3.2-3.3):

- *create stream group* (`public_event_server.rs:123-143` +
  `natsio.rs:150-185`): persist a group record and compile the
  subject query. Here: a row in the ``stream_groups`` table + a
  filter predicate + a per-group checkpoint directory. The reference
  only implements Project/Collection groups (Object/ObjectGroup are
  ``todo!()``, natsio.rs:171-173); the subject grammar already defines
  the deeper levels, so we lift that limitation.
- *attach + pull loop* (`natsio.rs:49-58,195-210`,
  `public_event_server.rs:391-440`): a ``readStream`` over the event
  log filtered by the compiled predicate, delivered by
  ``foreachBatch`` with a 250 ms processing-time trigger (the
  reference's pull expiry, natsio.rs:201). The micro-batch id is the
  chunk id; the checkpoint commit after a successful deliver is the
  ack. A failed deliver leaves the offset uncommitted, so the chunk
  is redelivered — the reference's at-least-once contract
  (`public_event_server.rs:330-386`).
- *replay-from-start* (`natsio.rs:176-182` default deliver-all): a
  fresh checkpoint makes the file source start from the earliest
  available data, so a new group replays the full retained history.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aoseventstreamer_spark import schemas
from aoseventstreamer_spark.functions import subjects as S


@dataclass
class StreamGroup:
    id: str
    event_type: int
    resource_type: int
    resource_id: str
    notify_on_sub_resource: bool
    filter_subject: str  # compiled query subject (exact `..._` or subtree `...>`)


def compile_query_subject(
    resource_type: int,
    resource_id: str,
    include_subresources: bool,
    hierarchy: dict | None = None,
) -> str:
    """Compile the group's filter subject (natsio.rs:163-174, extended
    to all levels the grammar defines)."""
    h = hierarchy or {}
    needed = {
        schemas.RESOURCE_COLLECTION: ("project_id",),
        schemas.RESOURCE_OBJECT: ("project_id", "collection_id", "shared_id"),
        schemas.RESOURCE_OBJECT_GROUP: ("project_id", "collection_id", "shared_id"),
    }.get(resource_type, ())
    missing = [k for k in needed if k not in h]
    if missing:
        raise ValueError(
            f"resource_type {resource_type} requires hierarchy keys "
            f"{list(needed)}; missing {missing} (the subject encodes the "
            "full path above the resource — public_event_server.rs:102-121)"
        )
    if resource_type == schemas.RESOURCE_PROJECT:
        return S.project_query(resource_id, include_subresources)
    if resource_type == schemas.RESOURCE_COLLECTION:
        return S.collection_query(h["project_id"], resource_id, include_subresources)
    if resource_type == schemas.RESOURCE_OBJECT:
        return S.object_query(
            h["project_id"], h["collection_id"], h["shared_id"], resource_id,
            include_subresources,
        )
    if resource_type == schemas.RESOURCE_OBJECT_GROUP:
        return S.object_group_query(
            h["project_id"], h["collection_id"], h["shared_id"], resource_id,
            include_subresources,
        )
    raise ValueError(f"unsupported resource_type {resource_type}")


def subject_filter(filter_subject: str) -> F.Column:
    """Predicate equivalent of the broker-side filter_subject —
    delegates to the grammar's own predicate builders so the encoding
    lives in exactly one place (subjects.py)."""
    if filter_subject.endswith(S.SUBTREE_TERMINATOR):
        base = filter_subject[: -len(S.SUBTREE_TERMINATOR)]
        return S.query_predicate("subject", base, include_subresources=True)
    base = filter_subject[: -len(S.PUBLISH_TERMINATOR)]
    return S.query_predicate("subject", base, include_subresources=False)


class StreamGroupManager:
    """Registry + runtime for stream groups over a parquet event log.

    ``log_format`` picks the consumer's delivery contract:

    - ``"parquet"`` (default, the reference's shape): a file-source
      readStream that checkpoints file PATHS. At-least-once — a
      compaction of an already-consumed region makes the rewritten
      files look new and re-delivers those rows
      (tests/test_compaction.py demonstrates the hazard; the
      reference's JetStream consumers have the same contract,
      public_event_server.rs:330-386).
    - ``"tablelog"``: the snapshot-diff native source
      (sources/tablelog_source.py) whose Spark checkpoint carries a
      manifest VERSION, not paths. OPTIMIZE commits are
      ``data_change=False`` and are skipped entirely, so delivery is
      exactly-once across graceful restarts AND any amount of
      compaction — the lifted contract the reference cannot offer
      (tests/test_streaming.py::test_stream_group_tablelog_*).
    """

    def __init__(
        self,
        spark: SparkSession,
        events_path: str,
        state_root: str,
        log_format: str = "parquet",
    ):
        if log_format not in ("parquet", "tablelog"):
            raise ValueError(
                f"log_format must be 'parquet' or 'tablelog', got {log_format!r}"
            )
        self.spark = spark
        self.events_path = events_path
        self.state_root = state_root
        self.log_format = log_format
        self.groups_path = os.path.join(state_root, "stream_groups")
        self.checkpoints_root = os.path.join(state_root, "checkpoints")

    # -- DDL ---------------------------------------------------------------

    def create_stream_group(
        self,
        resource_type: int,
        resource_id: str,
        include_subresources: bool,
        hierarchy: dict | None = None,
        event_type: int = schemas.EVENT_TYPE_ALL,
    ) -> StreamGroup:
        group = StreamGroup(
            id=str(uuid.uuid4()),
            event_type=event_type,
            resource_type=resource_type,
            resource_id=resource_id,
            notify_on_sub_resource=include_subresources,
            filter_subject=compile_query_subject(
                resource_type, resource_id, include_subresources, hierarchy
            ),
        )
        record = self.spark.createDataFrame(
            [
                (
                    group.id,
                    group.event_type,
                    group.resource_type,
                    group.resource_id,
                    group.notify_on_sub_resource,
                    group.filter_subject,
                )
            ],
            schemas.STREAM_GROUPS_SCHEMA,
        )
        record.write.mode("append").parquet(self.groups_path)
        return group

    def get_stream_group(self, group_id: str) -> StreamGroup:
        """Lookup (operator #18); unknown ids raise KeyError — even
        before any group was ever created (no registry table yet)."""
        from pyspark.errors import AnalysisException

        try:
            registry = self.spark.read.parquet(self.groups_path)
        except AnalysisException as e:
            raise KeyError(f"unknown stream group {group_id}") from e
        row = registry.filter(F.col("id") == group_id).first()
        if row is None:
            raise KeyError(f"unknown stream group {group_id}")
        return StreamGroup(
            id=row.id,
            event_type=row.event_type,
            resource_type=row.resource_type,
            resource_id=row.resource_id,
            notify_on_sub_resource=row.notify_on_sub_resource,
            filter_subject=row.filter_subject,
        )

    # -- read path ----------------------------------------------------------

    def _filtered_stream(self, group: StreamGroup) -> DataFrame:
        if self.log_format == "tablelog":
            from aoseventstreamer_spark.sources.tablelog_source import (
                register_tablelog_source,
            )

            register_tablelog_source(self.spark)
            stream = self.spark.readStream.format("tablelog").load(
                self.events_path
            )
        else:
            stream = (
                self.spark.readStream.schema(schemas.ROUTED_EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", "64")
                .parquet(self.events_path)
            )
        filtered = stream.filter(subject_filter(group.filter_subject))
        # every query subject fixes the project (first id token), so the
        # equivalent project_id predicate is redundant with the subject
        # filter but prunes whole partitions of a project-partitioned
        # log before listing — without it every group's stream lists the
        # entire log each micro-batch (mirrors engine.query_events)
        project = S.project_of_query_subject(group.filter_subject)
        if project is not None:
            filtered = filtered.filter(F.col("project_id") == project)
        # the reference persists event_type but never filters on it
        # (natsio.rs consumer filter is subject-only); we honor it —
        # Unspecified (0) and All match everything
        if group.event_type not in (0, schemas.EVENT_TYPE_ALL):
            filtered = filtered.filter(F.col("updated_type") == group.event_type)
        return filtered

    def read_stream_group(
        self,
        group_id: str,
        deliver: Callable[[int, DataFrame], None],
        trigger: dict | None = None,
    ):
        """Start (or resume, via the group's checkpoint) chunked
        delivery. ``deliver(chunk_id, df)`` is the client; raising
        leaves the chunk unacked → redelivered on restart. A group
        with one client is a shared group with one consumer.
        """
        return self.read_stream_group_shared(group_id, [deliver], trigger)

    def read_stream_group_shared(
        self,
        group_id: str,
        delivers: list[Callable[[int, DataFrame], None]],
        trigger: dict | None = None,
    ):
        """One stream group, N client consumers sharing ONE message set
        (handler.rs:21-33: a JetStream durable consumer load-balances
        its messages across every client that attaches to it; no client
        sees a message another client already consumed).

        Spark mapping: still ONE streaming query with ONE checkpoint
        (the durable consumer), but each micro-batch is split by a
        deterministic hash of the event identity — every event lands
        with exactly one consumer, and together the consumers see the
        message set exactly once per delivery. The chunk stays the ack
        unit: if ANY consumer's deliver raises, the offset is not
        committed and the whole chunk is redelivered to all (the same
        coarsening the reference has — acks are whole-chunk,
        public_event_server.rs:363-384).
        """
        if not delivers:
            raise ValueError("at least one consumer required")
        group = self.get_stream_group(group_id)
        if trigger is None:
            trigger = {"processingTime": "250 milliseconds"}
        n = len(delivers)

        def _handle(batch_df: DataFrame, batch_id: int) -> None:
            if n == 1:
                delivers[0](batch_id, batch_df)
                return
            # (subject, seq) is the event identity: seq is unique per
            # routed event and subject disambiguates fan-out copies
            routed = batch_df.withColumn(
                "__consumer", F.pmod(F.xxhash64("subject", "seq"), F.lit(n))
            )
            routed.persist()
            try:
                for i, deliver in enumerate(delivers):
                    deliver(
                        batch_id,
                        routed.filter(F.col("__consumer") == i).drop("__consumer"),
                    )
            finally:
                routed.unpersist()

        return (
            self._filtered_stream(group)
            .writeStream.foreachBatch(_handle)
            .option(
                "checkpointLocation",
                os.path.join(self.checkpoints_root, group.id),
            )
            .trigger(**trigger)
            .start()
        )

    def read_available(self, group_id: str, deliver: Callable[[int, DataFrame], None]):
        """Catch-up mode: drain everything currently retained, then stop
        (Trigger.AvailableNow) — used by tests and batch replays."""
        return self.read_stream_group(group_id, deliver, trigger={"availableNow": True})

    def read_available_shared(
        self, group_id: str, delivers: list[Callable[[int, DataFrame], None]]
    ):
        """Shared-consumer catch-up mode (see read_stream_group_shared)."""
        return self.read_stream_group_shared(
            group_id, delivers, trigger={"availableNow": True}
        )

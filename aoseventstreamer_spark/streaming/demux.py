"""Demux runner: ONE streaming scan serving many stream groups.

Per-group streaming queries (streaming/groups.py) are the faithful
reference shape, but at thousands of groups the N-scans cost dominates.
The demux job amortizes: a single ``readStream`` over the event log;
each micro-batch is matched against ALL registered groups in ONE pass
— every event enumerates its candidate query subjects (bounded-depth
grammar ⇒ ≤ 4 keys, subjects.candidate_query_subjects) which
equi-join, broadcast, against the group dimension. The matched batch
is collected to the driver ONCE as an Arrow table (the batch's one
Spark action; broadcasting the group dimension is the only other job),
sorted by group and cut into zero-copy per-group slices. Each matching
group receives its slice as a driver-local ``LocalRelation``
DataFrame, whose collect() runs no Spark job; idle groups all receive
ONE shared empty frame (``runner.empty_frame``, built once per
runner). Spark work per batch is therefore flat in the fleet size; the
per-group cost is the py4j round trips that plan the group's frame,
plus the callback's own work. Chunk ids stay per-group (batch_id), the
checkpoint is shared — commit happens only after ALL groups accepted
the batch, preserving (coarsening) the at-least-once contract: a
failed deliver for any group replays the batch for all.

That coarsening is the deliberate trade: one scan + one checkpoint vs
per-group offsets. Groups that need isolated progress stay on
``StreamGroupManager``; fleets of cheap subscribers ride the demux.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from aoseventstreamer_spark import schemas
from aoseventstreamer_spark.functions import subjects as S


@dataclass
class DemuxGroup:
    id: str
    filter_subject: str
    deliver: Callable[[int, DataFrame], None]


class DemuxRunner:
    def __init__(
        self,
        spark: SparkSession,
        events_path: str,
        checkpoint: str,
        deliver_concurrency: int | None = None,
        log_format: str = "parquet",
    ):
        """``log_format='tablelog'`` tails the log through the native
        snapshot-diff source instead of the parquet FILE source: the
        checkpoint then carries a snapshot VERSION, not file paths, so
        compacting (OPTIMIZE) a region the fleet already consumed
        re-delivers NOTHING on restart — fleet-wide exactly-once
        across layout maintenance, the same inversion
        StreamGroupManager(log_format='tablelog') gets per-group.

        ``deliver_concurrency`` (default min(16, cpus)) runs the
        per-group ``deliver`` callbacks CONCURRENTLY across groups
        within a batch — callbacks MUST therefore be thread-safe with
        respect to each other (a single group's own deliveries stay
        strictly ordered across batches; foreachBatch is serial). Pass
        ``deliver_concurrency=1`` for the strict single-threaded,
        registration-order delivery contract."""
        if log_format not in ("parquet", "tablelog"):
            raise ValueError(
                f"log_format must be 'parquet' or 'tablelog', got {log_format!r}"
            )
        self.spark = spark
        self.events_path = events_path
        self.checkpoint = checkpoint
        self.log_format = log_format
        # Per-group deliveries within one batch run CONCURRENTLY from a
        # bounded driver pool: a delivery runs no Spark job, but
        # planning its LocalRelation and the callback's own action pay
        # a serial py4j floor per group, which overlaps across driver
        # threads. Contract: deliver callbacks must be thread-safe
        # ACROSS GROUPS within a batch (a single group's deliveries stay
        # ordered across batches — foreachBatch is serial); failure
        # semantics are unchanged — every deliver is awaited and the
        # first error re-raises after the pool drains, so a partial
        # failure still fails the batch and replays it for all groups.
        # Set deliver_concurrency=1 for strict in-order single-threaded
        # delivery.
        self.deliver_concurrency = deliver_concurrency or min(
            16, os.cpu_count() or 4
        )
        self._groups: list[DemuxGroup] = []
        self._started = False
        # ONE empty frame shared by every idle group in every batch:
        # zero per-group construction or planning cost. Built from an
        # Arrow table like the matching groups' slices, so it is a
        # LocalRelation too — NOT createDataFrame([], schema), whose RDD
        # backing turns every idle subscriber's action into a job
        self.empty_frame = spark.createDataFrame(
            to_arrow_schema(schemas.ROUTED_EVENTS_SCHEMA).empty_table(),
            schema=schemas.ROUTED_EVENTS_SCHEMA,
        )

    def register(
        self, group_id: str, filter_subject: str, deliver: Callable[[int, DataFrame], None]
    ) -> None:
        if self._started:
            # the running foreachBatch closes over the group snapshot
            # taken at start(); accepting a late registration would be
            # silent total data loss for that subscriber
            raise RuntimeError(
                "DemuxRunner already started; stop it and start a new "
                "runner to change the group set"
            )
        if not S.is_canonical_query_subject(filter_subject):
            # candidate-key matching is exact only for grammar-built
            # query subjects; anything else would silently match nothing
            raise ValueError(
                f"filter_subject {filter_subject!r} is not a canonical "
                "query subject (utils.rs:35-147); compile it with "
                "compile_query_subject / the *_query builders"
            )
        self._groups.append(DemuxGroup(group_id, filter_subject, deliver))

    def _check_group_set(self, group_ids: list[str], allow_missed_history: bool) -> None:
        """A shared checkpoint means a group added on restart starts at
        the committed offsets — it silently misses all prior history
        (unlike per-group StreamGroupManager queries, which replay from
        the start). Detect that and make it explicit. The manifest
        lives next to the Spark checkpoint; ``file:`` URIs are
        normalized, other schemes skip the guard (the checkpoint store
        is then not locally addressable — the added-group hazard still
        holds, so deployments on remote checkpoints should keep their
        own group manifest)."""
        ck = self.checkpoint
        if "://" in ck and not ck.startswith("file:"):
            return
        if ck.startswith("file:"):
            ck = ck[len("file:"):]
            while ck.startswith("//"):
                ck = ck[1:]
        manifest = os.path.join(ck, "demux_groups.json")
        previous: list[str] = []
        if os.path.exists(manifest):
            with open(manifest) as f:
                previous = json.load(f)
        new_groups = sorted(set(group_ids) - set(previous))
        if previous and new_groups and not allow_missed_history:
            raise ValueError(
                f"groups {new_groups} were added to an existing demux "
                "checkpoint and would miss all previously committed "
                "history; replay them via StreamGroupManager first, or "
                "pass allow_missed_history=True to accept the gap"
            )
        os.makedirs(ck, exist_ok=True)
        # persist only the CURRENT set (not the historical union): a
        # group that was removed and later re-registered ALSO missed
        # the in-between batches, and must trip the guard above just
        # like a brand-new group
        with open(manifest, "w") as f:
            json.dump(sorted(set(group_ids)), f)

    def start(
        self,
        trigger: dict | None = None,
        max_files_per_trigger: int = 64,
        allow_missed_history: bool = False,
    ):
        """Start the fleet's streaming query. Each micro-batch's matched
        rows are held on the driver, as one Arrow table, for the length
        of that trigger — one row per (event, group it matches). The
        bound on that table is the batch: ``max_files_per_trigger``
        files of the parquet log, or the commit range of one trigger for
        ``log_format='tablelog'`` (which has no file cap); size the
        driver, or lower ``max_files_per_trigger``, for large fleets
        over wide batches."""
        groups = list(self._groups)
        if not groups:
            raise ValueError("no groups registered")
        self._check_group_set([g.id for g in groups], allow_missed_history)
        self._started = True

        # tiny group dimension, built once; broadcast into every batch's
        # match join (group_key = the filter_subject verbatim — exact
        # filters equal the publish subject, subtree filters equal
        # `<ancestor base>.>`, which is exactly what
        # candidate_query_subjects enumerates per event). Built from
        # Arrow, so each batch's broadcast reads a JVM-side
        # LocalRelation instead of running Python workers over pickles
        groups_dim = self.spark.createDataFrame(
            pa.table({
                "__group_id": [g.id for g in groups],
                "__group_key": [g.filter_subject for g in groups],
            })
        )
        event_cols = [f.name for f in schemas.ROUTED_EVENTS_SCHEMA.fields]

        def fan_out(batch_df: DataFrame, batch_id: int) -> None:
            # the batch's one Spark action: match, collect to the driver
            matched = (
                batch_df.withColumn("__key", F.explode(S.candidate_query_subjects()))
                .join(F.broadcast(groups_dim), F.col("__key") == F.col("__group_key"))
                .select("__group_id", *event_cols)
                .toArrow()
                .sort_by("__group_id")
            )
            # each group's rows are one contiguous run of the sorted
            # table; value_counts lists the runs in order
            runs = pc.value_counts(matched["__group_id"])
            rows = matched.drop_columns(["__group_id"])
            slices: dict[str, pa.Table] = {}
            offset = 0
            for gid, n in zip(
                runs.field("values").to_pylist(), runs.field("counts").to_pylist()
            ):
                slices[gid] = rows.slice(offset, n)
                offset += n

            def deliver_one(g: DemuxGroup) -> None:
                part = slices.get(g.id)
                if part is None:
                    slice_df = self.empty_frame
                else:
                    slice_df = self.spark.createDataFrame(
                        part, schema=schemas.ROUTED_EVENTS_SCHEMA
                    )
                g.deliver(batch_id, slice_df)

            if self.deliver_concurrency > 1 and len(groups) > 1:
                with ThreadPoolExecutor(
                    max_workers=self.deliver_concurrency,
                    thread_name_prefix="demux-deliver",
                ) as pool:
                    futures = [pool.submit(deliver_one, g) for g in groups]
                # the with-block joined every future; surface the
                # FIRST failure (deterministic: registration order)
                # so a partial failure fails the whole batch and
                # the shared checkpoint replays it for all groups
                for fut in futures:
                    err = fut.exception()
                    if err is not None:
                        raise err
            else:
                for g in groups:
                    deliver_one(g)

        if self.log_format == "tablelog":
            from aoseventstreamer_spark.sources.tablelog_source import (
                register_tablelog_source,
            )

            register_tablelog_source(self.spark)
            # snapshot-diff offsets: OPTIMIZE commits advance the
            # offset rowlessly, so compaction never re-delivers;
            # batching follows commit ranges (maxFilesPerTrigger is a
            # file-source knob and does not apply)
            stream = self.spark.readStream.format("tablelog").load(
                self.events_path
            )
        else:
            stream = (
                self.spark.readStream.schema(schemas.ROUTED_EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", str(max_files_per_trigger))
                .parquet(self.events_path)
            )
        return (
            stream.writeStream.foreachBatch(fan_out)
            .option("checkpointLocation", self.checkpoint)
            .trigger(**(trigger or {"processingTime": "250 milliseconds"}))
            .start()
        )

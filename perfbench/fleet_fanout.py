"""fleet_fanout: one ``DemuxRunner`` drains a routed parquet log to a
fleet of about 200 stream groups with ``availableNow``.

Set-up (untimed) writes the log through ``emit_events`` as a fixed
number of file batches, one file per project each, so that
``max_files_per_trigger`` cuts exactly one micro-batch per file batch.
About half the groups match events (subtree and exact filters at every
level); the rest are idle. Each group's ``deliver`` collects its chunk,
as a client receiving messages would. The log is drained again with a
fresh checkpoint until the measured time is used up.
"""

from __future__ import annotations

import random
import threading
import time

from perfbench import gen, model
from perfbench.common import PHASES_BEFORE_DELIVER, Bench, p50, p90, progress_time, record_trigger




def build_inputs(seed: int, projects: int, batches: int, per_batch: int, groups: int):
    """The emit requests of each file batch and the fleet's filters."""
    rng = random.Random(seed)
    h = gen.Hierarchy(rng, projects=projects, collections=3, objects=3, groups=3)
    emits = gen.EmitGen(seed, h)
    requests = [[emits.request(b * per_batch + i) for i in range(per_batch)]
                for b in range(batches)]
    events = [(r["emit_id"], s) for batch in requests for r in batch for s in model.route(r)]
    subjects = {s for _, s in events}
    filters: dict[str, str] = {}
    # matching half: nodes drawn from the log's hierarchy until each
    # filter matches at least one event (levels and filter kinds mixed)
    i = 0
    while len(filters) < groups // 2:
        level, subtree = 1 + i % 4, (i // 4) % 2 == 0
        flt = h.filters(rng, level, subtree)
        i += 1
        if any(model.matches(flt, s) for s in subjects):
            filters[f"m{len(filters):03d}"] = flt
    # idle half: a hierarchy that never appears in the log
    idle = gen.Hierarchy(random.Random(seed + 1), projects=projects, collections=3,
                         objects=3, groups=3)
    for j in range(groups - len(filters)):
        filters[f"i{j:03d}"] = idle.filters(rng, 1 + j % 4, j % 2 == 0)
    return requests, events, filters


class Fleet:
    """Records what every group's ``deliver`` received, per drain. The
    runner calls ``deliver`` from a thread pool, hence the lock."""

    def __init__(self):
        self.lock = threading.Lock()
        self.calls: list[tuple] = []  # (drain, gid, chunk, start, end, rows)
        self.rows: dict[int, set] = {}  # drain -> {(gid, seq, subject)}

    def deliver_for(self, drain: int, gid: str):
        def deliver(chunk_id: int, df) -> None:
            start = time.time()
            got = df.select("seq", "subject").collect()
            end = time.time()
            with self.lock:
                self.calls.append((drain, gid, chunk_id, start, end, len(got)))
                self.rows.setdefault(drain, set()).update((gid, r.seq, r.subject) for r in got)

        return deliver


def run(b: Bench, smoke: bool = False) -> None:
    from aoseventstreamer_spark.engine import EventStreamerEngine
    from aoseventstreamer_spark.streaming.demux import DemuxRunner

    spark = b.spark
    projects, batches = (4, 2) if smoke else (8, 2)
    per_batch, n_groups = (100, 20) if smoke else (300, 200)

    t0 = time.perf_counter()
    gen_s = []
    for _ in range(3):
        g0 = time.perf_counter()
        requests, events, filters = build_inputs(b.seed, projects, batches, per_batch, n_groups)
        gen_s.append(time.perf_counter() - g0)
    engine = EventStreamerEngine(spark, b.path("engine"), secret=gen.TOKEN)
    for batch in requests:
        engine.emit_events(gen.raw_emits_frame(spark, batch, with_ts=False).coalesce(1))
    want = model.expected_pairs(filters, events)
    matching = {g for g, _, _ in want}
    b.put("fleet.groups", len(filters), "count")
    b.put("fleet.matching_groups", len(matching), "count")
    b.put("fleet.log_events", len(events), "count")
    b.setup_s = b.session_start_s + p50(gen_s) + (time.perf_counter() - t0 - sum(gen_s))

    fleet = Fleet()
    drains: list[dict] = []
    # drain again while another drain, as long as the last one, still
    # fits in the measured time
    deadline = time.time() + b.seconds
    while not drains or time.time() + (drains[-1]["end"] - drains[-1]["start"]) <= deadline:
        d = len(drains)
        runner = DemuxRunner(spark, engine.events_path, b.path(f"ck{d}"))
        for gid, flt in filters.items():
            runner.register(gid, flt, fleet.deliver_for(d, gid))
        start = time.time()
        q = runner.start(trigger={"availableNow": True}, max_files_per_trigger=projects)
        q.awaitTermination()
        end = time.time()
        drains.append({"start": start, "end": end, "progress": list(q.recentProgress)})
        if q.exception() is not None:
            b.checks.fail(f"drain {d}: {q.exception()}")

    # -- correctness: every drain delivers exactly the model's pairs ------
    for d in range(len(drains)):
        got = fleet.rows.get(d, set())
        for gid in filters:
            mine = {x for x in got if x[0] == gid}
            exp = {x for x in want if x[0] == gid}
            b.checks.expect(mine == exp,
                            f"drain {d} group {gid}: {len(exp - mine)} missing, "
                            f"{len(mine - exp)} not matching")
        b.checks.expect(len(drains[d]["progress"]) == batches,
                        f"drain {d}: {len(drains[d]['progress'])} batches, expected {batches}")

    # -- metrics --------------------------------------------------------------
    trig = {}  # (drain, batch) -> (start, durations)
    for d, dr in enumerate(drains):
        for p in dr["progress"]:
            trig[(d, p["batchId"])] = (progress_time(p["timestamp"]), p["durationMs"])
    chunk_ms = [(end - trig[(d, c)][0]) * 1e3 for d, _, c, _, end, _ in fleet.calls]
    rows = sum(n for *_, n in fleet.calls)
    drain_s = sum(dr["end"] - dr["start"] for dr in drains)
    b.e2e.update({
        "setup_s": b.setup_s,
        "latency_p50_ms": p50(chunk_ms),
        "latency_p90_ms": p90(chunk_ms),
        "throughput_per_s": rows / drain_s,
    })
    b.put("fleet.rows_per_s", rows / drain_s, "1/s")
    b.put("fleet.chunk_latency_p50_ms", p50(chunk_ms), "ms")
    b.put("fleet.chunk_latency_p90_ms", p90(chunk_ms), "ms")
    b.put("fleet.drains", len(drains), "count")
    b.put("fleet.deliveries", len(fleet.calls), "count")

    if not b.trace:
        return
    t_snap = time.perf_counter()
    snap = b.stats.snapshot()
    b.tracer.charge(time.perf_counter() - t_snap)
    if snap.evicted_jobs:
        b.checks.fail(f"{snap.evicted_jobs} jobs evicted from the status store")
    by_batch: dict[tuple, list] = {}
    for call in fleet.calls:
        by_batch.setdefault((call[0], call[2]), []).append(call)
    match_ms, batch_ms, latest_ms = [], [], []
    for (d, c), (start, dur) in sorted(trig.items()):
        trace = f"drain{d}-batch{c}"
        total = dur.get("triggerExecution", 0) / 1e3
        sid = record_trigger(b.tracer, start, dur, trace)
        calls = by_batch.get((d, c), [])
        first = min(call[3] for call in calls)
        match_ms.append((first - start) * 1e3)
        batch_ms.append(dur.get("addBatch", 0))
        latest_ms.append(dur.get("latestOffset", 0))
        pre = sum(dur.get(k, 0) for k in PHASES_BEFORE_DELIVER) / 1e3
        for _, gid, _, cs, ce, n in calls:
            b.tracer.record("deliver", cs, ce, trace, parent=sid, group=gid, rows=n)
            b.paths.append((max(pre, first - start) + (ce - cs), ce - start))
        # counters: every job submitted while this trigger ran
        jobs = snap.select(since_ms=start * 1e3 - 1, until_ms=(start + total) * 1e3 + 1)
        b.op_totals.append(snap.totals(jobs))
        b.op_walls_ms.append(total * 1e3)
    deliver_ms = [(end - st) * 1e3 for _, _, _, st, end, _ in fleet.calls]
    b.put("demux.batch_ms_p50", p50(batch_ms), "ms")
    b.put("demux.match_ms_p50", p50(match_ms), "ms")
    b.put("demux.deliver_ms_p50", p50(deliver_ms), "ms")
    b.put("demux.deliver_ms_p90", p90(deliver_ms), "ms")
    b.put("demux.jobs_per_batch", sum(t.jobs for t in b.op_totals) / len(b.op_totals), "count")
    b.put("demux.tasks_per_batch", sum(t.tasks for t in b.op_totals) / len(b.op_totals), "count")
    b.put("demux.latest_offset_ms_p50", p50(latest_ms), "ms")
    b.put("demux.matching_ratio",
          sum(1 for *_, n in fleet.calls if n) / len(fleet.calls), "ratio")

"""stream_tail: an open loop. A timer thread lands small changelog chunks
into a tailed directory on a fixed schedule while the main thread drains
it with back-to-back ``CDCApplier.run_available`` calls (compaction and
vacuum on).

A small merge costs almost only fixed overhead (stream start, fence,
manifest and snapshot commit, maintenance), the reverse of bulk_apply. From
the midpoint on, chunks carry one added column and one widened type, so
``lake.reconcile`` runs inside the stream. Freshness is timed from a
chunk's scheduled landing time, so a stall also delays the chunks queued
behind it.
"""

from __future__ import annotations

import os
import threading
import time

from perfbench.harness import median, pct

CHUNKS = 100  # at least ten freshness samples above p90
CHUNK_EVENTS = 100
WARM_CHUNKS = 6  # landed and drained during set-up
WARM_DRAINS = 2
SWITCH_MARGIN = 20  # chunks before the midpoint at which drains read the evolved schema
N_PARTITIONS = 8  # change_events' default source partitions


class Chunks:
    """The staged log, cut into chunk files of contiguous lsn ranges."""

    def __init__(self, arrow_log, n_chunks: int):
        import pyarrow as pa
        import pyarrow.compute as pc

        self.tables = []
        mid = WARM_CHUNKS + (n_chunks - WARM_CHUNKS) // 2
        self.mid = mid
        for k in range(n_chunks):
            t = arrow_log.slice(k * CHUNK_EVENTS, CHUNK_EVENTS)
            if k >= mid:
                langs = pa.array(["en", "de", "fr", "es", "zh"])
                t = t.set_column(
                    t.schema.get_field_index("turn_idx"), "turn_idx",
                    t["turn_idx"].cast(pa.int64()),
                ).append_column("lang", pc.take(langs, pc.cast(pc.bit_wise_and(t["lsn"], 3), pa.int64())))
            self.tables.append(t)

    def covered(self, k: int, applied: dict[int, list[list[int]]]) -> bool:
        lo_lsn, hi_lsn = k * CHUNK_EVENTS, (k + 1) * CHUNK_EVENTS - 1
        for p in range(N_PARTITIONS):
            a = -(-(lo_lsn - p) // N_PARTITIONS)
            b = (hi_lsn - p) // N_PARTITIONS
            if a > b:
                continue
            if not any(lo <= a and b <= hi for lo, hi in applied.get(p, ())):
                return False
        return True


def _land(chunks: Chunks, k: int, log_dir: str) -> None:
    import pyarrow.parquet as pq

    # hidden temp name, then rename: the file source never sees a partial file
    name = f"chunk_{k:05d}.parquet"
    tmp = os.path.join(log_dir, f".{name}.tmp")
    pq.write_table(chunks.tables[k], tmp)
    os.replace(tmp, os.path.join(log_dir, name))


class Timer(threading.Thread):
    """Lands chunk k at start + (k - first) * interval, whatever the
    applier is doing."""

    def __init__(self, chunks, first, last, interval, log_dir, tracer):
        super().__init__(daemon=True)
        self.chunks, self.first, self.last = chunks, first, last
        self.interval, self.log_dir, self.tracer = interval, log_dir, tracer
        self.due: dict[int, float] = {}
        self.late: list[float] = []
        self.next = first
        self.error: BaseException | None = None
        self.start_at = 0.0

    def run(self):
        try:
            for k in range(self.first, self.last):
                due = self.start_at + (k - self.first) * self.interval
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                self.late.append(time.perf_counter() - due)
                with self.tracer.span("sources.changelog.land", req=k, root=True):
                    _land(self.chunks, k, self.log_dir)
                self.due[k] = due
                self.next = k + 1
        except BaseException as e:  # surfaced by the drain loop
            self.error = e


def _evolved_schema():
    from pyspark.sql import types as T

    from bear_spark.schema import CHANGE_EVENT_SCHEMA

    fields = [
        T.StructField("turn_idx", T.LongType(), False) if f.name == "turn_idx" else f
        for f in CHANGE_EVENT_SCHEMA.fields
    ]
    return T.StructType(fields + [T.StructField("lang", T.StringType(), True)])


def run(ctx) -> None:
    import pyarrow as pa

    from bear_spark import events, oracle
    from bear_spark.lake import LakeTable
    from bear_spark.schema import KEY_COLS, TRANSCRIPT_SCHEMA
    from bear_spark.streaming import CDCApplier

    res, tr = ctx.res, ctx.tracer
    n_chunks = WARM_CHUNKS + CHUNKS
    interval = ctx.seconds / CHUNKS

    with tr.span("setup.stage"):
        t0 = time.perf_counter()
        log = events.change_events(ctx.spark, n_chunks * CHUNK_EVENTS, seed=ctx.seed)
        # spark.range partitions are contiguous id ranges, so the
        # collected log is already in lsn order
        chunks = Chunks(log.toArrow(), n_chunks)
        ctx.setup_parts(stage_s=time.perf_counter() - t0)

    # prefill: land the warm chunks and drain them through a fresh table,
    # in WARM_DRAINS rounds, so the stream path is warm before timing
    with tr.span("setup.prefill"):
        t0 = time.perf_counter()
        log_dir = str(ctx.work / "changelog")
        os.makedirs(log_dir)
        table = LakeTable.create(
            ctx.spark, str(ctx.work / "table"), TRANSCRIPT_SCHEMA, KEY_COLS,
            num_buckets=4 * ctx.cores,
        )
        applier = CDCApplier(
            ctx.spark, table, log_dir, str(ctx.work / "checkpoint"),
            max_files_per_trigger=CHUNKS + WARM_CHUNKS, compact_every=4,
        )
        per_drain = WARM_CHUNKS // WARM_DRAINS
        for k in range(WARM_CHUNKS):
            _land(chunks, k, log_dir)
            if (k + 1) % per_drain == 0:
                applier.run_available()
        ctx.setup_parts(prefill_s=time.perf_counter() - t0)

    ctx.instrument(table)
    covered_at: dict[int, float] = {}
    lock = threading.Lock()

    def check_offsets():
        with tr.span("bench.offsets_check"):
            applied = table.applied_offsets()
            now = time.perf_counter()
        with lock:
            for k in range(WARM_CHUNKS, timer.next):
                if k not in covered_at and chunks.covered(k, applied):
                    covered_at[k] = now

    ctx.after_merge = check_offsets
    timer = Timer(chunks, WARM_CHUNKS, n_chunks, interval, log_dir, tr)
    backlog_max = drains = 0
    evolved = False
    with ctx.timed():
        timer.start_at = time.perf_counter()
        timer.start()
        while True:
            if timer.error is not None:
                raise timer.error
            landed = timer.next
            with lock:
                backlog = landed - WARM_CHUNKS - len(covered_at)
            backlog_max = max(backlog_max, backlog)
            if landed == n_chunks and backlog == 0:
                break
            if time.perf_counter() > timer.start_at + 3 * ctx.seconds + 60:
                res.problems.append("stream stopped catching up")
                break
            if backlog == 0:
                with tr.span("bench.idle"):
                    time.sleep(min(0.005, interval / 4))
                continue
            if not evolved and landed >= chunks.mid - SWITCH_MARGIN:
                # old chunks read under the wider schema: int32 files
                # widen to long, the missing column reads as null
                applier.event_schema = _evolved_schema()
                evolved = True
            drains += 1
            try:
                with tr.span("streaming.apply.run_available"):
                    applier.run_available()
            except Exception as e:
                res.problems.append(f"drain: {type(e).__name__}: {str(e)[:300]}")
                timer.join()
                break
        timer.join()

    fresh = [covered_at[k] - timer.due[k] for k in sorted(covered_at)]
    for k in range(WARM_CHUNKS, n_chunks):
        res.op(k in covered_at, f"chunk {k} never applied")

    # -- correctness: final state == replay of every landed event
    wide = [
        t if "lang" in t.column_names else t.set_column(
            t.schema.get_field_index("turn_idx"), "turn_idx", t["turn_idx"].cast(pa.int64())
        )
        for t in chunks.tables
    ]
    log_pdf = pa.concat_tables(wide, promote_options="default").to_pandas()
    log_pdf["ts"] = log_pdf["ts"].dt.tz_convert(None)
    ctx.check_state(table.read().toPandas(), oracle.replay(log_pdf))

    timed_merges = [m for m in ctx.merges if not m.get("skipped")]
    applied_events = sum(int(m["rows_in"]) for m in timed_merges)
    res.check(
        applied_events == CHUNKS * CHUNK_EVENTS,
        f"rows_in over the stream {applied_events} != {CHUNKS * CHUNK_EVENTS} landed",
    )
    cpu = ctx.cpu_split["cpu.total_s"]
    ctx.op_metrics(fresh, cpu / CHUNKS)
    res.detail.update(
        {
            "freshness_s.p50": (median(fresh), "s"),
            "freshness_s.p90": (pct(fresh, 90), "s"),
            "cpu_s_per_mevent": (cpu / (CHUNKS * CHUNK_EVENTS / 1e6), "CPU-s/1e6events"),
            "offered_events_per_s": (CHUNK_EVENTS / interval, "events/s"),
        }
    )
    ctx.layer.update(
        {
            "streaming.apply.run_available.busy_s": tr.busy_s("streaming.apply.run_available"),
            "streaming.apply.self_s": tr.self_s("streaming.apply.run_available"),
            "streaming.apply.batches": len(timed_merges),
            "streaming.apply.events_per_batch": applied_events / max(1, len(timed_merges)),
            "sources.changelog.chunks_landed": len(timer.due),
            "sources.changelog.backlog_chunks.max": backlog_max,
            "sources.changelog.gen_late_s.max": max(timer.late, default=0.0),
        }
    )
    res.detail["drains"] = (drains, "count")

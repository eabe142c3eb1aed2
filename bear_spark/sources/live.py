"""Live-source adapter — cursor-paginated tail with retry/backoff.

Completes SURVEY §2 S1: the step BEFORE the changelog. A live source is
anything that serves ordered change records a page at a time behind an
opaque continuation cursor (a CDC REST endpoint, a binlog HTTP gateway,
a queue's pull API). The adapter tails it to exhaustion and spills the
records into the parquet changelog chunks that
``sources.changelog.read_changelog_stream`` tails — from there the
normal exactly-once MERGE path takes over.

Reference analog: ``_get_page_results`` (cursor + per-page retry with
exponential backoff, reference: bear/crawler.py:97-121) and
``query_openalex`` (tail-until-empty-page, spill every 1000 records to
``chunk_N.parquet``, reference: bear/crawler.py:124-177). Differences,
on purpose:

- **Durable resume.** The reference restarts a crawl from scratch on
  crash. Here a cursor-state file advances atomically (``os.replace``)
  only when the records it covers are durably spilled, so a restarted
  tail refetches AT MOST the unspilled suffix. Chunk names are
  write-once (seq + uuid token): a crash orphan is never overwritten —
  a live source can repaginate differently on resume, and a streaming
  consumer that already read the orphan would otherwise lose the rows
  that moved; the orphan's duplicate coverage is fenced downstream.
- **Exactly-once end-to-end anyway.** Even when a crash lands between
  "chunk spilled" and "state advanced" (the unavoidable at-least-once
  window of any log tail), the refetched records carry the same
  ``(source_partition, offset)`` envelope and the lake table's commit
  log fences them — duplicates cost a wasted fetch, never a wrong row.
- **Transport-agnostic.** The fetch callable is injected; HTTP, a mock,
  or a replay file all look the same. Retry/backoff wraps whatever is
  injected (the reference hard-wires httpx + tenacity).

Driver-side by design: a tail is a serial cursor walk (each fetch needs
the previous page's cursor), so there is nothing to distribute — the
parallelism at scale comes from running one ``LiveTail`` per source
partition (shard), exactly like the per-``source_partition`` sharding
the changelog envelope already carries. Everything downstream of the
spill is distributed Spark.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass, field


class TransientSourceError(RuntimeError):
    """A retryable fetch failure (timeouts, 5xx, connection resets)."""


@dataclass
class Page:
    """One page of a cursor-paginated source.

    The tail is exhausted when ``next_cursor`` is None (the source says
    there is no continuation) or when a page arrives empty (the
    reference's ``if not results: break``, bear/crawler.py:157-158) —
    whichever comes first; the final page's records are still consumed.
    """

    records: list[dict]
    next_cursor: str | None


#: fetch(cursor) -> Page; cursor=None means "from the beginning"
PageFetcher = Callable[[str | None], Page]


def with_retry(
    fetch: PageFetcher,
    attempts: int = 5,
    base_wait: float = 1.0,
    max_wait: float = 120.0,
    sleep: Callable[[float], None] = time.sleep,
    retry_on: tuple[type[BaseException], ...] = (TransientSourceError,),
) -> PageFetcher:
    """Wrap a fetcher with per-page retry + exponential backoff
    (reference: the tenacity decorator at bear/crawler.py:97-103 —
    stop_after_attempt(5), wait_exponential(min=1, max=120), reraise).
    ``sleep`` is injectable so tests run without wall-clock waits."""

    def fetch_with_retry(cursor: str | None) -> Page:
        delay = base_wait
        for attempt in range(1, attempts + 1):
            try:
                return fetch(cursor)
            except retry_on:
                if attempt == attempts:
                    raise
                sleep(min(delay, max_wait))
                delay *= 2.0
        raise AssertionError("unreachable")

    return fetch_with_retry


@dataclass
class TailState:
    """Durable cursor state: everything up to ``cursor`` is spilled."""

    cursor: str | None = None
    seq: int = 0  # next chunk sequence number
    pages: int = 0  # pages consumed (telemetry only)
    exhausted: bool = False

    @staticmethod
    def path(out_dir: str) -> str:
        return os.path.join(out_dir, "_cursor.json")

    @staticmethod
    def load(out_dir: str) -> "TailState":
        try:
            with open(TailState.path(out_dir)) as f:
                return TailState(**json.load(f))
        except FileNotFoundError:
            return TailState()

    def save(self, out_dir: str) -> None:
        # atomic: the state file never half-exists, so a crash leaves
        # either the previous commit point or this one
        path = TailState.path(out_dir)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(self.__dict__, f)
        os.replace(tmp, path)


class LiveTail:
    """Tail a cursor-paginated source into changelog chunk files.

    Loop (reference shape, bear/crawler.py:150-177): fetch page →
    buffer records → when the buffer reaches ``chunk_records``, spill
    one parquet chunk and commit (cursor, seq) atomically → repeat
    until an empty terminal page → spill the remainder.

    The spill commits ONLY on page boundaries, so the committed cursor
    always re-yields exactly the unspilled records on resume.
    """

    def __init__(
        self,
        fetch: PageFetcher,
        out_dir: str,
        chunk_records: int = 1000,
        attempts: int = 5,
        base_wait: float = 1.0,
        max_wait: float = 120.0,
        sleep: Callable[[float], None] = time.sleep,
        columns: Sequence[str] | None = None,
        schema=None,
    ):
        self.fetch = with_retry(
            fetch, attempts=attempts, base_wait=base_wait, max_wait=max_wait, sleep=sleep
        )
        self.out_dir = out_dir
        self.chunk_records = int(chunk_records)
        # ``schema`` (a Spark StructType) pins the chunk files' physical
        # types to what the changelog reader will declare — python-list
        # inference would e.g. widen int32 columns to int64
        from bear_spark.lake.arrow_apply import arrow_schema

        self.arrow_schema = None if schema is None else arrow_schema(schema)
        self.columns = (
            [f.name for f in schema.fields] if schema is not None
            else list(columns) if columns else None
        )
        os.makedirs(out_dir, exist_ok=True)

    # -- spill ---------------------------------------------------------
    def _spill(self, records: list[dict], seq: int) -> str:
        """Write one chunk file. Names are write-once (seq + a per-write
        uuid token): a crash between spill and cursor commit leaves an
        orphan chunk that a resume DUPLICATES rather than overwrites —
        overwriting would lose records a streaming consumer already read
        if the live source repaginates differently (e.g. rows appended),
        since file streams never re-read a replaced path. The duplicate
        coverage is exact-once downstream: both files carry the same
        (source_partition, offset) envelope and the lake commit log
        fences replayed offsets. Write is dot-hidden tmp + os.replace so
        directory-listing readers (Spark's file stream only hides '_'/
        '.'-prefixed names) never see a partial file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = self.columns or sorted({k for r in records for k in r})
        arrays = {c: [r.get(c) for r in records] for c in cols}
        table = pa.table(arrays)
        if self.arrow_schema is not None:
            table = table.cast(self.arrow_schema)
        else:
            # normalize ns-precision timestamps to micros: Spark's
            # parquet reader speaks micros
            fields = [
                pa.field(f.name, pa.timestamp("us", f.type.tz))
                if pa.types.is_timestamp(f.type)
                else f
                for f in table.schema
            ]
            table = table.cast(pa.schema(fields))
        token = uuid.uuid4().hex[:8]
        path = os.path.join(self.out_dir, f"chunk_{seq:06d}-{token}.parquet")
        tmp = os.path.join(self.out_dir, f".chunk_{seq:06d}-{token}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, path)
        return path

    # -- tail ----------------------------------------------------------
    def run(self, max_pages: int = 0) -> list[str]:
        """Tail until exhausted (or ``max_pages`` round trips — the
        reference's API-call limit, bear/crawler.py:131-134). Resumes
        from the committed cursor state; returns chunk paths written
        THIS run."""
        state = TailState.load(self.out_dir)
        if state.exhausted:
            return []
        buffer: list[dict] = []
        written: list[str] = []
        pages_this_run = 0
        while True:
            if max_pages and pages_this_run >= max_pages:
                break
            page = self.fetch(state.cursor)
            pages_this_run += 1
            state.pages += 1
            buffer.extend(page.records)
            done = page.next_cursor is None or not page.records
            state.cursor = page.next_cursor
            if len(buffer) >= self.chunk_records or (done and buffer):
                written.append(self._spill(buffer, state.seq))
                state.seq += 1
                buffer = []
                state.exhausted = done
                state.save(self.out_dir)  # commit point: spill is durable
            elif done:
                state.exhausted = True
                state.save(self.out_dir)
            if done:
                break
        return written


def paginate(
    records: Iterable[dict], page_size: int = 100
) -> PageFetcher:
    """Serve an in-memory record list as a cursor-paginated source —
    the test/replay transport (cursor = stringified start index, like
    the reference's opaque ``next_cursor``)."""
    recs = list(records)

    def fetch(cursor: str | None) -> Page:
        start = int(cursor) if cursor else 0
        page = recs[start : start + page_size]
        nxt = str(start + page_size) if start + page_size < len(recs) else None
        return Page(records=page, next_cursor=nxt)

    return fetch

"""Arrow-native per-bucket COW apply — the merge path.

Data files are bucket-partitioned on shared storage, so only the BATCH
needs to move: ``groupBy(_bucket).applyInArrow`` routes each bucket's
change events to one task as one ``pyarrow.Table``; the task reads that
bucket's existing files directly (pyarrow, column-parallel C++), applies
last-writer-wins in ``pyarrow.compute``, and writes the replacement
files itself — the same file-granularity copy-on-write an Iceberg/Delta
COW writer performs, with the engine's two-phase snapshot commit
unchanged on top.

The batch stays in Arrow from the JVM to the parquet writer: no pandas
round trip at the UDF boundary, no per-row Python. LWW sorts only the
key, seq and lsn columns, keeps the last row of each key run, and does
one full-width ``take`` — which works for every Arrow type, so array,
struct, map and decimal payloads (embedding tables) take this path like
flat ones. Task retries are idempotent: each bucket writes to a
deterministic file name via tmp + ``os.replace``.

Reference analog: the store-side PK upsert the reference delegates to
Milvus (reference: bear/db.py:72-83) — here the "store" is the lake and
the upsert kernel is ours.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from bear_spark.lake.reconcile import _erase_nullability


def arrow_schema(schema: T.StructType) -> pa.Schema:
    """Spark payload schema -> Arrow schema, nullable at every level
    (deletes carry null payloads whatever the declared schema says)."""
    return to_arrow_schema(_erase_nullability(schema))


def _last_of_key_runs(keys: pa.Table) -> pa.Array:
    """Boolean mask over key-sorted rows: True on the last row of each
    run of equal keys. Two nulls are one key, as in a hash group-by."""
    n = keys.num_rows
    if n == 0:
        return pa.array([], pa.bool_())
    import pyarrow.compute as pc

    change = None
    for name in keys.column_names:
        col = keys.column(name).combine_chunks()
        a, b = col.slice(0, n - 1), col.slice(1)
        ne = pc.not_equal(a, b)
        ne = pc.if_else(pc.is_null(ne), pc.xor(pc.is_null(a), pc.is_null(b)), ne)
        change = ne if change is None else pc.or_(change, ne)
    return pa.concat_arrays([change, pa.array([True])])


def make_apply_kernel(
    target: pa.Schema,
    stage_dir: str,
    key_cols: list[str],
    seq_col: str,
    manifests_by_bucket: dict[int, str],
    target_file_rows: int,
    wm_iso: str | None = None,
    drop_late: bool = False,
    table_root: str = "",
    compression: str = "snappy",
) -> Callable:
    """Build the applyInArrow kernel for one merge.

    ``target`` is the payload's Arrow schema (``arrow_schema``).
    ``manifests_by_bucket`` maps each bucket to the rel path of its
    immutable manifest document; the TASK reads its own manifest from
    shared storage (same access path as the data files), so the closure
    carries O(num_buckets) strings instead of the whole file inventory.

    Manifest entries cover all schema versions — alignment to the
    target schema happens here, which is exactly the
    registry-reconciler's "rewrite Arrow batches" step. Files whose
    first-key [min, max] range contains NO batch key are CARRIED OVER
    untouched (their rel paths come back in the ``kept`` column and the
    driver re-references them in the new snapshot) — task memory is
    bounded by the files a batch actually touches, not the bucket. A
    missing range (None) means "assume it intersects".

    Besides applying LWW, each group returns its slice of the BATCH
    stats — per (source_partition, segment) contiguous offset range,
    row count, late-event count vs the ``wm_iso`` watermark, and max
    event time — as a JSON column the driver folds into the commit.
    This makes merge a single job: no separate stats pass, no cache.
    """

    def kernel(tbl):
        import datetime as _dt
        import json as _json

        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        # one Arrow thread per task: parallelism belongs to Spark (one
        # python worker per core); Arrow's default pool (all machine
        # cores) would oversubscribe — and silently use cores the
        # cluster manager never granted this executor
        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
        # retain freed arena pages across merge batches (workers are
        # long-lived under spark.python.worker.reuse): jemalloc's
        # default ~1s dirty-page decay hands pages back to the OS
        # between batches, so every batch re-faults its working set
        # — a steady page-fault tax per batch, and a cliff on hosts
        # with slow fault paths. Independent of the thread-pool
        # normalization above (a worker whose pool already defaults to
        # one thread still wants retention). No-op on non-jemalloc
        # builds.
        try:
            pa.jemalloc_set_decay_ms(-1)
        except (NotImplementedError, AttributeError):
            pass

        bucket = tbl.column("_bucket")[0].as_py()

        # --- batch stats for this bucket's slice ----------------------
        # event time as naive UTC (the snapshot watermark format)
        # regardless of how Arrow delivered it
        ts = tbl.column(seq_col).cast(pa.timestamp("us"))
        if wm_iso:
            wm = pa.scalar(_dt.datetime.fromisoformat(wm_iso), pa.timestamp("us"))
            late = pc.fill_null(pc.less(ts, wm), False)
        else:
            late = pa.array(np.zeros(tbl.num_rows, np.bool_))
        tbl = tbl.append_column("_late", late.cast(pa.int64())).append_column("_ts", ts)
        # per (source_partition, segment): offset range, row count,
        # late-event count and max event time
        g = tbl.group_by(["_sp", "_segment"], use_threads=False).aggregate(
            [
                ("_off", "min"), ("_off", "max"),
                ("_off", "count", pc.CountOptions(mode="all")),
                ("_late", "sum"), ("_ts", "max"),
            ]
        )
        stats = [
            {
                "sp": int(r["_sp"]),
                "f": str(r["_segment"]),
                "lo": int(r["_off_min"]),
                "hi": int(r["_off_max"]),
                "c": int(r["_off_count"]),
                "late": int(r["_late_sum"]),
                "mts": None if r["_ts_max"] is None else r["_ts_max"].isoformat(),
            }
            for r in g.to_pylist()
        ]
        # hottest-key rows of the BATCH slice (pre-LWW, pre-filter): the
        # driver records the max over buckets in lineage as the skew stat
        key_rows = pc.value_counts(tbl.column(key_cols[0])).field("counts")
        tbl = tbl.drop_columns(["_sp", "_off", "_segment", "_late", "_ts"])
        if drop_late and wm_iso:
            # drop-late policy: late events are counted (stats above,
            # offsets committed) but never applied — the watermark is a
            # hard admission boundary, which is what makes tombstone
            # expiry safe. Null event times are kept (they lose LWW).
            tbl = tbl.filter(pc.invert(late))
        max_key_rows = int(pc.max(key_rows).as_py() or 0)

        payload_names = target.names
        # event shape: payload + _bucket/_op/_elsn
        evt_schema = pa.schema(
            list(target)
            + [
                pa.field("_bucket", pa.int32()),
                pa.field("_op", pa.string()),
                pa.field("_elsn", pa.int64()),
            ]
        )
        # output shape: payload + _bucket/_lsn/_deleted (data-file schema)
        out_schema = pa.schema(
            list(target)
            + [
                pa.field("_bucket", pa.int32()),
                pa.field("_lsn", pa.int64()),
                pa.field("_deleted", pa.bool_()),
            ]
        )

        def align(t: pa.Table, schema: pa.Schema, given: dict) -> pa.Table:
            """Rows -> ``schema``: ``given`` columns as-is, the bucket
            constant, the rest cast up (schema-evolution fill + cast)."""
            cols = []
            n = t.num_rows
            for f in schema:
                if f.name in given:
                    cols.append(given[f.name])
                elif f.name == "_bucket":
                    cols.append(pa.array([bucket] * n, pa.int32()))
                elif f.name in t.column_names:
                    cols.append(t.column(f.name).cast(f.type))
                else:
                    cols.append(pa.nulls(n, f.type))
            return pa.table(cols, schema=schema)

        # --- batch side (already target-aligned by the JVM projection) ---
        batch = align(tbl, evt_schema, {"_op": tbl.column("_op").cast(pa.string())})

        # --- existing files: read only those the batch can touch ------
        # file ranges come from parquet footers (files are key-sorted);
        # a file whose [kmin, kmax] contains no batch key is carried
        # over byte-identical — at 10^10 rows this is the difference
        # between O(touched files) and O(whole bucket) per task
        batch_keys = tbl.column(key_cols[0])
        mrel = manifests_by_bucket.get(bucket)
        bucket_files = []
        if mrel is not None:
            with open(os.path.join(table_root, mrel)) as mf:
                bucket_files = [
                    (fi["path"], fi.get("kmin"), fi.get("kmax"))
                    for fi in _json.load(mf)["files"]
                ]
        kept_paths = []
        to_read = []
        for rel, kmin, kmax in bucket_files:
            intersects = True
            if kmin is not None and kmax is not None:
                try:
                    hit = pc.and_(
                        pc.greater_equal(batch_keys, kmin),
                        pc.less_equal(batch_keys, kmax),
                    )
                    intersects = pc.any(hit).as_py() is True
                except (TypeError, pa.ArrowException):
                    intersects = True  # incomparable types → safe default
            if intersects:
                to_read.append(rel)
            else:
                kept_paths.append(rel)

        # contended-row split: the table invariant is one row per key
        # across a bucket's files (merge emits LWW winners; the range
        # pull rule keeps a key in exactly one file), so an existing row
        # whose key is NOT in the batch is already its own winner — it
        # skips the (ts, lsn) sort entirely and goes straight to the
        # key-sorted rewrite. Sort traffic is O(batch + contended), not
        # O(touched files) — the difference between a point update and a
        # full-file re-merge at 10^10 rows.
        kset = pc.unique(batch.column(key_cols[0]))
        ktype = target.field(key_cols[0]).type
        parts = [batch]
        passthrough = []
        for rel in to_read:
            t = pq.read_table(os.path.join(table_root, rel))
            kmask = pc.is_in(t.column(key_cols[0]).cast(ktype), value_set=kset)
            # null keys always contend (LWW collapses them; rare by design)
            kmask = pc.fill_null(kmask, True)
            free = pc.invert(kmask)
            deleted = pc.fill_null(t.column("_deleted").cast(pa.bool_()), False)
            untouched = t.filter(free)
            if untouched.num_rows:
                passthrough.append(
                    align(untouched, out_schema, {"_deleted": deleted.filter(free)})
                )
            cont = t.filter(kmask)
            if cont.num_rows:
                op = pc.if_else(deleted.filter(kmask), pa.scalar("D"), pa.scalar("U"))
                elsn = cont.column("_lsn").cast(pa.int64())
                parts.append(align(cont, evt_schema, {"_op": op, "_elsn": elsn}))
        events = pa.concat_tables(parts)

        # --- LWW: sort indices over only the key, seq and lsn columns
        # ((seq, lsn) ascending, nulls first, so a null event time always
        # loses; the sort is stable, so exact ties keep arrival order),
        # keep the last row of each key run, then ONE full-width take —
        # the payload is copied once, and take has kernels for every
        # Arrow type (lists, structs, maps, decimals)
        order_cols = [*key_cols, seq_col, "_elsn"]
        narrow = events.select(order_cols)
        order = pc.sort_indices(
            narrow,
            sort_keys=[(c, "ascending") for c in order_cols],
            null_placement="at_start",
        )
        winners = order.filter(_last_of_key_runs(narrow.select(key_cols).take(order)))
        win = events.take(winners)

        # --- write replacement files (file-granularity COW) --------------
        del_mask = pc.fill_null(pc.equal(win.column("_op"), pa.scalar("D")), False)
        full = pa.table(
            [
                *[win.column(n) for n in payload_names],
                win.column("_bucket"),
                win.column("_elsn"),
                del_mask,
            ],
            schema=out_schema,
        )
        # fold the untouched passthrough rows back in before the key
        # sort: they never entered the event shape, so this is their
        # only materialization in the task
        if passthrough:
            full = pa.concat_tables([full, *passthrough])
        # sort data files by key: conv_id runs prefix-compress, parquet
        # min/max stats get tight ranges, per-conversation reads are
        # sequential (the lake sort-order spec). Masks come from the
        # sorted table itself.
        full = full.sort_by([(k, "ascending") for k in key_cols])
        sorted_del = full.column("_deleted")
        counts = {False: 0, True: 0}
        tfr = max(1, int(target_file_rows))
        for deleted, mask in ((False, pc.invert(sorted_del)), (True, sorted_del)):
            sub = full.filter(mask)
            if sub.num_rows == 0:
                continue
            d = os.path.join(
                stage_dir, f"_bucket_dir={bucket}", f"_del={str(deleted).lower()}"
            )
            os.makedirs(d, exist_ok=True)
            # split at target_file_rows: a batch that touches a bucket's
            # whole key range must not produce one unbounded file — the
            # slices are key-sorted, so each chunk keeps a tight,
            # non-overlapping [kmin, kmax] for later range pruning.
            # Chunk names are deterministic → idempotent under retry.
            n_chunks = (sub.num_rows + tfr - 1) // tfr
            for i in range(n_chunks):
                chunk = sub.slice(i * tfr, tfr)
                final_path = os.path.join(d, f"part-{bucket:05d}-c{i:04d}.parquet")
                tmp_path = final_path + f".tmp-{uuid.uuid4().hex}"
                pq.write_table(chunk, tmp_path, compression=compression)
                os.replace(tmp_path, final_path)  # idempotent under task retry
            counts[deleted] = sub.num_rows

        return pa.table(
            {
                "_bucket": pa.array([bucket], pa.int32()),
                "rows_written": pa.array([counts[False] + counts[True]], pa.int64()),
                "tombstones": pa.array([counts[True]], pa.int64()),
                "max_key_rows": pa.array([max_key_rows], pa.int64()),
                # work-reduction evidence for the contended-row split,
                # wall-clock-independent: rows that entered the (ts, lsn)
                # LWW sort vs rows that bypassed it
                "lww_rows": pa.array([events.num_rows], pa.int64()),
                "passthrough_rows": pa.array(
                    [sum(t.num_rows for t in passthrough)], pa.int64()
                ),
                "stats": pa.array([_json.dumps(stats)], pa.string()),
                "kept": pa.array([_json.dumps(kept_paths)], pa.string()),
            }
        )

    return kernel


APPLY_RESULT_SCHEMA = (
    "_bucket int, rows_written long, tombstones long, max_key_rows long, "
    "lww_rows long, passthrough_rows long, stats string, kept string"
)

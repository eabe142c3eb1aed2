"""Arrow-native per-bucket kernels — the merge path, the writer of every
data file (the table's and its vector indexes'), and the change feed.

Data files are bucket-partitioned on shared storage, so only the BATCH
needs to move. The merge kernel gets one bucket's change events as one
``pyarrow.Table``, reads that bucket's existing files directly (pyarrow,
column-parallel C++), applies last-writer-wins in ``pyarrow.compute``,
and writes the replacement files itself — the same file-granularity
copy-on-write an Iceberg/Delta COW writer performs, with the engine's
two-phase snapshot commit unchanged on top.

``write_bucket`` writes every data file: the merge kernel's output, the
rewrite kernel's (``make_rewrite_kernel``), which compaction, tombstone
expiry and bucket splits run over their final rows, and the index
kernel's (``make_index_kernel``), which builds and refreshes a vector
index one list at a time. So every table file has one layout
(``data_file_schema``), and every file returns its own manifest entry;
the driver never lists a stage directory or opens a footer.

The change feed (``LakeTable.changes``) is one more kernel
(``make_diff_kernel``): it gets one bucket group's list of files that are
in only one of two snapshots, reads them as the merge kernel reads its
bucket's files, aligns them with the same ``align``, and pairs old and
new rows by key with one sort. No Spark join, no shuffle of rows.

Every kernel runs per bucket (or bucket group), on the driver
(``apply_on_driver``) or in Python workers (``for_task``), as
``LakeTable`` places it: on the driver when its input is small.

The batch stays in Arrow from the JVM to the parquet writer: no pandas
round trip at the UDF boundary, no per-row Python. LWW sorts only the
key, seq and lsn columns, keeps the last row of each key run, and does
one full-width ``take`` — which works for every Arrow type, so array,
struct, map and decimal payloads (embedding tables) take this path like
flat ones. Retries are idempotent: each bucket writes to a deterministic
file name via tmp + ``os.replace``.

Reference analog: the store-side PK upsert the reference delegates to
Milvus (reference: bear/db.py:72-83) — here the "store" is the lake and
the upsert kernel is ours.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from bear_spark.lake.reconcile import _erase_nullability


def arrow_schema(schema: T.StructType) -> pa.Schema:
    """Spark payload schema -> Arrow schema, nullable at every level
    (deletes carry null payloads whatever the declared schema says)."""
    return to_arrow_schema(_erase_nullability(schema))


def _distinct(a, b):
    """Elementwise ``a IS DISTINCT FROM b``: never null, and two nulls
    are equal (SQL's ``NOT (a <=> b)``)."""
    import pyarrow.compute as pc

    ne = pc.not_equal(a, b)
    return pc.if_else(pc.is_null(ne), pc.xor(pc.is_null(a), pc.is_null(b)), ne)


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
        ne = _distinct(col.slice(0, n - 1), col.slice(1))
        change = ne if change is None else pc.or_(change, ne)
    return pa.concat_arrays([change, pa.array([True])])


def align(t: pa.Table, schema: pa.Schema, given: dict, bucket: int | None = None) -> pa.Table:
    """Rows of a data file or batch -> ``schema``: ``given`` columns
    as-is, ``_bucket`` as the constant ``bucket`` when one is given, the
    rest cast up (schema-evolution fill + cast)."""
    cols = []
    n = t.num_rows
    for f in schema:
        if f.name in given:
            cols.append(given[f.name])
        elif f.name == "_bucket" and bucket is not None:
            cols.append(pa.array([bucket] * n, pa.int32()))
        elif f.name in t.column_names:
            cols.append(t.column(f.name).cast(f.type))
        else:
            cols.append(pa.nulls(n, f.type))
    return pa.table(cols, schema=schema)


def data_file_schema(target: pa.Schema) -> pa.Schema:
    """The layout of every table data file: the payload (``target``,
    from ``arrow_schema``), then ``_bucket``, ``_lsn`` and ``_deleted``."""
    return pa.schema([
        *target, pa.field("_bucket", pa.int32()), pa.field("_lsn", pa.int64()),
        pa.field("_deleted", pa.bool_()),
    ])


def write_bucket(
    full: pa.Table,
    bucket: int,
    stage_dir: str,
    table_root: str,
    key_cols: list[str],
    target_file_rows: int,
) -> list[dict]:
    """Write one bucket's final rows (``data_file_schema``; a vector
    index list's are its id and vector columns and ``_deleted``) as its
    data files under ``stage_dir`` and return their manifest entries: path
    (relative to ``table_root``), deleted, rows, and ``kmin``/``kmax``,
    the first key column's range (None unless a str, int or float).

    Rows are key-sorted (runs prefix-compress, ranges are tight, reads
    are sequential: the lake sort-order spec), live rows and tombstones
    go to separate ``_del=`` directories, and each side is split at
    ``target_file_rows``: the slices are key-sorted, so the files keep
    non-overlapping ranges for the merge kernel's range pruning. Names
    are deterministic and land by tmp + ``os.replace``, so a retried
    task rewrites the same files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    full = full.sort_by([(k, "ascending") for k in key_cols])
    sorted_del = full.column("_deleted")
    tfr = max(1, int(target_file_rows))
    entries = []
    for deleted, mask in ((False, pc.invert(sorted_del)), (True, sorted_del)):
        sub = full.filter(mask)
        if sub.num_rows == 0:
            continue
        d = os.path.join(stage_dir, f"_bucket_dir={bucket}", f"_del={str(deleted).lower()}")
        os.makedirs(d, exist_ok=True)
        for i in range((sub.num_rows + tfr - 1) // tfr):
            chunk = sub.slice(i * tfr, tfr)
            final_path = os.path.join(d, f"part-{bucket:05d}-c{i:04d}.parquet")
            tmp_path = final_path + f".tmp-{uuid.uuid4().hex}"
            pq.write_table(chunk, tmp_path)
            os.replace(tmp_path, final_path)
            rng = pc.min_max(chunk.column(key_cols[0])).as_py()
            ok = all(type(v) in (str, int, float) for v in rng.values())
            entries.append({
                "path": os.path.relpath(final_path, table_root),
                "deleted": deleted,
                "rows": chunk.num_rows,
                "kmin": rng["min"] if ok else None,
                "kmax": rng["max"] if ok else None,
            })
    return entries


def _unapplied(sp: pa.ChunkedArray, off: pa.ChunkedArray, applied: dict) -> np.ndarray:
    """Boolean mask: True for each row whose (source partition ``sp``,
    offset ``off``) lies in none of ``applied``'s ranges, which map a
    partition to the sorted, disjoint ``(lo, hi)`` bound arrays of its
    applied offsets. One ``searchsorted`` per partition present; a row
    with a null partition or offset is never fenced."""
    import pyarrow.compute as pc

    known = pc.and_(pc.is_valid(sp), pc.is_valid(off)).to_numpy(zero_copy_only=False)
    sp = pc.fill_null(sp, -1).to_numpy()
    off = pc.fill_null(off, 0).to_numpy()
    keep = np.ones(len(sp), np.bool_)
    for p in np.unique(sp[known]):
        if int(p) not in applied:
            continue
        lo, hi = applied[int(p)]
        rows = np.flatnonzero(known & (sp == p))
        o = off[rows]
        i = np.searchsorted(lo, o, side="right") - 1
        keep[rows] = (i < 0) | (o > hi[np.maximum(i, 0)])
    return keep


def make_apply_kernel(
    target: pa.Schema,
    stage_dir: str,
    key_cols: list[str],
    seq_col: str,
    manifests_by_bucket: dict[int, str],
    target_file_rows: int,
    table_root: str,
    wm_iso: str | None = None,
    drop_late: bool = False,
    applied: dict[str, list[list[int]]] | None = None,
) -> Callable:
    """Build the apply kernel for one merge (run per bucket, on the
    driver or under ``applyInArrow``).

    ``target`` is the payload's Arrow schema (``arrow_schema``).

    ``applied`` is the snapshot's commit log (source partition -> its
    merged, sorted ``[lo, hi]`` applied offset ranges, ``_merge_ranges``)
    and makes the merge exactly-once: the kernel's first step drops every
    row whose ``(_sp, _off)`` falls inside an applied range (a row with a
    null partition or offset is never fenced). The stats below count only
    the rows that pass. A bucket whose rows are all fenced writes no file
    and returns no row, so a fully replayed batch returns nothing at all.

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

    Each group writes its bucket through ``write_bucket`` and returns
    the manifest entries of the files it wrote (``files``, JSON).
    Besides that, it returns its slice of the BATCH
    stats — per (source_partition, segment) contiguous offset range,
    row count, late-event count vs the ``wm_iso`` watermark, and max
    event time — as a JSON column the driver folds into the commit.
    This makes merge a single job: no separate stats pass, no cache.
    """
    fence = {
        int(p): (np.array([r[0] for r in rs], np.int64), np.array([r[1] for r in rs], np.int64))
        for p, rs in (applied or {}).items()
        if rs
    }

    def kernel(tbl):
        import datetime as _dt
        import json as _json

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        bucket = tbl.column("_bucket")[0].as_py()

        # --- exactly-once fence: drop the rows already applied ----------
        if fence:
            tbl = tbl.filter(_unapplied(tbl.column("_sp"), tbl.column("_off"), fence))
            if tbl.num_rows == 0:
                return APPLY_RESULT.empty_table()

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
        # a null partition or offset has no range to commit: its group
        # reports None there and is counted all the same
        stats = [
            {
                "sp": r["_sp"],
                "f": str(r["_segment"]),
                "lo": r["_off_min"],
                "hi": r["_off_max"],
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
        evt_schema = pa.schema([
            *target, pa.field("_bucket", pa.int32()), pa.field("_op", pa.string()),
            pa.field("_elsn", pa.int64()),
        ])
        out_schema = data_file_schema(target)

        # --- batch side (already target-aligned by the JVM projection) ---
        batch = align(tbl, evt_schema, {"_op": tbl.column("_op").cast(pa.string())}, bucket)

        # --- existing files: read only those the batch can touch ------
        # file ranges come from the manifest (files are key-sorted);
        # a file whose [kmin, kmax] contains no batch key is carried
        # over byte-identical — at 10^10 rows this is the difference
        # between O(touched files) and O(whole bucket) per task
        batch_keys = tbl.column(key_cols[0])
        # a null key lies outside every [kmin, kmax] (the ranges skip
        # nulls) but may sit in any file, so a batch holding one reads all
        null_key = batch_keys.null_count > 0
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
            if kmin is not None and kmax is not None and not null_key:
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
                    align(untouched, out_schema, {"_deleted": deleted.filter(free)}, bucket)
                )
            cont = t.filter(kmask)
            if cont.num_rows:
                op = pc.if_else(deleted.filter(kmask), pa.scalar("D"), pa.scalar("U"))
                elsn = cont.column("_lsn").cast(pa.int64())
                parts.append(align(cont, evt_schema, {"_op": op, "_elsn": elsn}, bucket))
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
        files = write_bucket(full, bucket, stage_dir, table_root, key_cols, target_file_rows)

        return pa.table(
            {
                "_bucket": [bucket],
                "files": [_json.dumps(files)],
                "max_key_rows": [max_key_rows],
                # work-reduction evidence for the contended-row split,
                # wall-clock-independent: rows that entered the (ts, lsn)
                # LWW sort vs rows that bypassed it
                "lww_rows": [events.num_rows],
                "passthrough_rows": [sum(t.num_rows for t in passthrough)],
                "stats": [_json.dumps(stats)],
                "kept": [_json.dumps(kept_paths)],
            },
            schema=APPLY_RESULT,
        )

    return kernel


def make_rewrite_kernel(
    target: pa.Schema,
    stage_dir: str,
    key_cols: list[str],
    target_file_rows: int,
    table_root: str,
) -> Callable:
    """Build the kernel of compaction, tombstone expiry and bucket split
    (run per bucket, as the merge kernel is). Its input is already one
    destination bucket's final rows: the table's columns at the
    payload schema ``target``, with ``_bucket`` set to the destination.
    It writes them through ``write_bucket`` and returns their manifest
    entries (``REWRITE_RESULT_SCHEMA``)."""
    schema = data_file_schema(target)

    def kernel(tbl):
        import json as _json

        bucket = tbl.column("_bucket")[0].as_py()
        full = pa.table([tbl.column(f.name).cast(f.type) for f in schema], schema=schema)
        files = write_bucket(full, bucket, stage_dir, table_root, key_cols, target_file_rows)
        return pa.table({
            "_bucket": pa.array([bucket], pa.int32()),
            "files": pa.array([_json.dumps(files)], pa.string()),
        })

    return kernel


def make_index_kernel(
    target: pa.Schema,
    stage_dir: str,
    index_root: str,
    key_cols: list[str],
    lists: dict[str, list[dict]],
    target_file_rows: int,
) -> Callable:
    """Build the kernel of a vector index's build and refresh
    (``lake/vector_index.py``; run per list, placed as the merge kernel
    is). Its input is one list's assigned rows: ``target``'s columns (the
    index's id and vector columns), ``_bucket`` (the list id) and
    ``_change_type``. It reads the list's current files (``lists``: the
    index meta's entries, paths relative to ``index_root``), drops every
    row whose key is in its input (two nulls are one key, as in
    ``_last_of_key_runs``), appends the input's inserts and update
    postimages, and writes the list through ``write_bucket``. A delete or
    preimage row carries the old vector, so it is assigned to the list
    that holds the old row. Returns ``REWRITE_RESULT_SCHEMA``."""
    paths = {int(b): [fi["path"] for fi in fs] for b, fs in lists.items()}

    def kernel(tbl):
        import json as _json

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        lid = tbl.column("_bucket")[0].as_py()
        cur = [align(pq.read_table(os.path.join(index_root, p)), target, {}) for p in paths.get(lid, [])]
        new = align(tbl, target, {})
        rows = pa.concat_tables([*cur, new])
        n_cur = rows.num_rows - new.num_rows
        # the sort is stable and current rows come first, so a current
        # row is the last of its key run only if no input row shares
        # its key
        keys = rows.select(key_cols)
        order = pc.sort_indices(
            keys, sort_keys=[(k, "ascending") for k in key_cols], null_placement="at_start"
        )
        last = _last_of_key_runs(keys.take(order))
        kept = order.filter(pc.and_(last, pc.less(order, n_cur)))
        upsert = pc.is_in(tbl.column("_change_type"), value_set=pa.array(["insert", "update_postimage"]))
        full = pa.concat_tables([rows.take(kept), new.filter(upsert)])
        full = full.append_column("_deleted", pa.repeat(False, full.num_rows))
        files = write_bucket(full, lid, stage_dir, index_root, key_cols, target_file_rows)
        return pa.table({
            "_bucket": pa.array([lid], pa.int32()),
            "files": pa.array([_json.dumps(files)], pa.string()),
        })

    return kernel


def make_diff_kernel(
    target: pa.Schema,
    table_root: str,
    key_cols: list[str],
    seq_col: str,
    version: int,
    include_preimage: bool,
) -> Callable:
    """Build the kernel of one ``LakeTable.changes`` read (run per bucket
    group, on the driver or under ``applyInArrow``, as the merge kernel
    is).

    Its input is one group's files that are in only one of the two
    snapshots: ``_bucket`` (the group), ``_side`` (0: the ``from``
    snapshot, 1: ``to``) and ``path`` (relative to ``table_root``). It
    reads each file whole and aligns it to ``target``, the ``to``
    snapshot's payload (``arrow_schema``), plus ``_lsn`` and
    ``_deleted``. One sort over (keys, side) then pairs old and new rows:
    by the merge's one-row-per-key invariant a key has at most one row
    per snapshot, so each run of equal keys is an (old, new) pair, an
    old row alone or a new row alone. Two nulls are one key, as in
    ``_last_of_key_runs``.

    A pair is classified by liveness and its LWW version ``(seq, lsn)``:
    insert (no live old row, a live new one), delete (a live old row, no
    live new one) or update (both live, versions differ). Inserts and
    update postimages take the new row's payload; deletes, and update
    preimages when ``include_preimage``, the old row's. Returns the
    payload, ``_change_type`` and ``_commit_version`` (``version``)."""
    row_schema = pa.schema([*target, pa.field("_lsn", pa.int64()), pa.field("_deleted", pa.bool_())])
    out_schema = pa.schema([
        *target, pa.field("_change_type", pa.string()), pa.field("_commit_version", pa.int32()),
    ])

    def kernel(files):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        parts, sides = [], []
        for side, rel in zip(files.column("_side").to_pylist(), files.column("path").to_pylist()):
            t = pq.read_table(os.path.join(table_root, rel))
            deleted = pc.fill_null(t.column("_deleted").cast(pa.bool_()), False)
            parts.append(align(t, row_schema, {"_deleted": deleted}))
            sides.append(np.full(t.num_rows, side, np.int8))
        rows = pa.concat_tables(parts).append_column("_side", pa.array(np.concatenate(sides)))
        if rows.num_rows == 0:
            return out_schema.empty_table()

        # one sort over (keys, side): each key's old row comes first
        order_cols = [*key_cols, "_side"]
        order = pc.sort_indices(
            rows.select(order_cols),
            sort_keys=[(c, "ascending") for c in order_cols],
            null_placement="at_start",
        )
        last = _last_of_key_runs(rows.select(key_cols).take(order))
        first = pa.concat_arrays([pa.array([True]), last.slice(0, len(last) - 1)])
        new_i, old_i = order.filter(last), order.filter(first)
        side, deleted, lsn, seq = (
            rows.column(c).combine_chunks() for c in ("_side", "_deleted", "_lsn", seq_col)
        )
        n_live = pc.and_(pc.equal(side.take(new_i), 1), pc.invert(deleted.take(new_i)))
        o_live = pc.and_(pc.equal(side.take(old_i), 0), pc.invert(deleted.take(old_i)))
        moved = pc.or_(
            _distinct(lsn.take(old_i), lsn.take(new_i)),
            _distinct(seq.take(old_i), seq.take(new_i)),
        )
        insert = pc.and_(pc.invert(o_live), n_live)
        delete = pc.and_(o_live, pc.invert(n_live))
        update = pc.and_(pc.and_(o_live, n_live), moved)

        post = pc.or_(insert, update)
        pre = pc.or_(delete, update) if include_preimage else delete
        take = pa.concat_arrays([new_i.filter(post), old_i.filter(pre)])
        kinds = pa.concat_arrays([
            pc.if_else(insert.filter(post), "insert", "update_postimage"),
            pc.if_else(delete.filter(pre), "delete", "update_preimage"),
        ])
        out = rows.select(target.names).take(take)
        return pa.table(
            [*out.columns, kinds, pa.array(np.full(len(take), version, np.int32))],
            schema=out_schema,
        )

    return kernel


def for_task(kernel: Callable) -> Callable:
    """``kernel`` as an ``applyInArrow`` function, which first sets the
    Python worker's process-wide Arrow state.

    One Arrow thread per task: parallelism belongs to Spark (one Python
    worker per core); Arrow's default pool (all machine cores) would
    oversubscribe, and silently use cores the cluster manager never
    granted this executor. Freed arena pages are retained across merge
    batches (workers are long-lived under spark.python.worker.reuse):
    jemalloc's default ~1s dirty-page decay hands pages back to the OS
    between batches, so every batch re-faults its working set. Only a
    worker may do this: on the driver the same calls would pin the
    session's own Arrow pool to one thread.
    """

    def task(tbl):
        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
        try:
            pa.jemalloc_set_decay_ms(-1)
        except (NotImplementedError, AttributeError):
            pass  # not a jemalloc build
        return kernel(tbl)

    return task


def apply_on_driver(batch: pa.Table, kernel: Callable) -> pa.Table:
    """Run ``kernel`` in this process, once per ``_bucket`` of ``batch``,
    in a thread pool sized to the process's cores (the kernel spends its
    time in Arrow and parquet calls, which release the GIL). Returns the
    kernel's results as one table, the rows that
    ``applyInArrow(...).collect()`` would return (none, and no columns,
    when ``batch`` is empty)."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.compute as pc

    if batch.num_rows == 0:
        return pa.table({})
    # split once: a stable sort by bucket, then one slice per run
    # (value_counts lists values in first-seen order, here ascending)
    batch = batch.take(pc.sort_indices(batch.column("_bucket")))
    parts, lo = [], 0
    for n in pc.value_counts(batch.column("_bucket")).field("counts").to_pylist():
        parts.append(batch.slice(lo, n))
        lo += n
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1
    with ThreadPoolExecutor(max_workers=min(cores, len(parts))) as pool:
        return pa.concat_tables(pool.map(kernel, parts))


REWRITE_RESULT_SCHEMA = "_bucket int, files string"
APPLY_RESULT_SCHEMA = (
    f"{REWRITE_RESULT_SCHEMA}, max_key_rows long, lww_rows long, "
    "passthrough_rows long, stats string, kept string"
)
#: ``APPLY_RESULT_SCHEMA`` in Arrow: the merge kernel's result rows
APPLY_RESULT = pa.schema([
    ("_bucket", pa.int32()), ("files", pa.string()), ("max_key_rows", pa.int64()),
    ("lww_rows", pa.int64()), ("passthrough_rows", pa.int64()), ("stats", pa.string()),
    ("kept", pa.string()),
])

"""Durable ANN index state: build → probe = file pruning.

The probe must (a) read ONLY the probed lists' files — checked with the
index's pruning receipt AND input_file_name() on the candidate scan —
and (b) return exactly what the scan-time expression operators return
for the same hash family and probe parameters. Staleness is a hard
error by default; refresh() reassigns without refitting.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bear_spark.lake import LakeTable, StaleVectorIndex, VectorIndex
from bear_spark.operators import similarity as S

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("ts", T.TimestampType()),
    ]
)

DIM = 16


def _vec_rows(n, seed=0, start_id=0):
    rng = np.random.default_rng(seed)
    return [
        (start_id + i, [float(x) for x in rng.standard_normal(DIM)],
         "2024-01-01 00:00:00", "I", start_id + i)
        for i in range(n)
    ]


def _events(spark, rows):
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, ts string, op string, lsn long"
    )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _mk_table(spark, tmp_path, n=200):
    tbl = LakeTable.create(
        spark, str(tmp_path / "tbl"), SCHEMA,
        key_cols=["vec_id"], seq_col="ts", num_buckets=2,
    )
    tbl.merge(_events(spark, _vec_rows(n)))
    return tbl


def _query_vec(seed=99):
    rng = np.random.default_rng(seed)
    return [float(x) for x in rng.standard_normal(DIM)]


def _generations(idx):
    """The generation dirs the index's meta references."""
    return {fi["path"].split(os.sep)[0] for fs in idx.meta["lists"].values() for fi in fs}


def test_lsh_index_probe_prunes_files_and_matches_operator(spark, tmp_path, placement):
    tbl = _mk_table(spark, tmp_path)
    idx = tbl.build_vector_index("ann", kind="lsh", n_planes=4, seed=7)
    q = _query_vec()

    got = idx.probe(q, k=10, max_probe_hamming=2).collect()

    # pruning receipt: strictly fewer files opened than the index holds
    pr = idx.last_probe
    assert pr["files_read"], "probe read no files"
    assert len(pr["files_read"]) < pr["files_total"], (
        "probe read every index file — no pruning happened"
    )
    # independent check: every file feeding the candidate scan is one
    # that meta lists under a probed list
    lists = idx.probe_lists(q, max_probe_hamming=2)
    cand = idx._candidate_scan(lists)
    read_files = {
        r[0].replace("file://", "")
        for r in cand.select(F.input_file_name()).distinct().collect()
    }
    probed = {
        os.path.join(idx.root, fi["path"])
        for b in lists
        for fi in idx.meta["lists"].get(str(b), [])
    }
    assert read_files and read_files <= probed, read_files - probed

    # results identical to the scan-time expression operator (same hash
    # family: planes derive from (dim, n_planes, seed))
    exp = S.lsh_ann_topk(
        tbl.read(), q, k=10, n_planes=4, seed=7, max_probe_hamming=2
    ).collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == [
        (r.vec_id, r.cos_sim) for r in exp
    ]


def test_ivf_index_probe_prunes_files_and_matches_operator(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path)
    idx = tbl.build_vector_index("ivf", kind="ivf", n_lists=8, seed=7)
    q = _query_vec()

    got = idx.probe(q, k=10, n_probe=3).collect()

    pr = idx.last_probe
    assert pr["lists_probed"] and len(pr["lists_probed"]) == 3
    assert pr["files_read"] and len(pr["files_read"]) < pr["files_total"]

    # same centroids (persisted state) through the expression operator
    exp = S.ivf_ann_topk(
        tbl.read(), q, idx.meta["state"], k=10, n_probe=3
    ).collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == [
        (r.vec_id, r.cos_sim) for r in exp
    ]


def test_stale_index_raises_and_refresh_recovers(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path, n=100)
    idx = tbl.build_vector_index("ann", kind="lsh", n_planes=3, seed=7)
    q = _query_vec()
    before = idx.probe(q, k=5, max_probe_hamming=3).collect()
    assert before

    # table advances: new vectors the index has never seen
    tbl.merge(_events(spark, _vec_rows(50, seed=1, start_id=1000)))
    with pytest.raises(StaleVectorIndex):
        idx.probe(q, k=5)
    # explicit opt-in still serves the old membership
    stale = idx.probe(q, k=5, max_probe_hamming=3, allow_stale=True).collect()
    assert [(r.vec_id, r.cos_sim) for r in stale] == [
        (r.vec_id, r.cos_sim) for r in before
    ]

    # refresh reassigns WITHOUT refitting: same planes, new membership
    planes_before = idx.meta["state"]
    idx2 = idx.refresh()
    assert idx2.meta["state"] == planes_before
    assert idx2.meta["built_from_version"] == tbl._snapshot()["version"]
    after = idx2.probe(q, k=5, max_probe_hamming=3).collect()
    exp = S.lsh_ann_topk(
        tbl.read(), q, k=5, n_planes=3, seed=7, max_probe_hamming=3
    ).collect()
    assert [(r.vec_id, r.cos_sim) for r in after] == [
        (r.vec_id, r.cos_sim) for r in exp
    ]
    # generation lifecycle: every referenced generation exists; a
    # superseded generation may linger (reclamation is DEFERRED so a
    # concurrent reader's lazy job keeps its files) and is swept at the
    # start of the NEXT build/refresh
    gens = {d for d in os.listdir(idx2.root) if d.startswith("d-")}
    referenced = _generations(idx2)
    assert referenced <= gens
    superseded = gens - referenced
    idx3 = VectorIndex.build(
        tbl, "ann", kind="lsh", n_planes=3, seed=7, _state=planes_before
    )
    gens3 = {d for d in os.listdir(idx3.root) if d.startswith("d-")}
    assert superseded.isdisjoint(gens3), "deferred reclaim did not sweep"


def test_refresh_fallback_keeps_its_receipt_on_the_index(spark, tmp_path):
    """A refresh whose feed is gone (the indexed version vacuumed away)
    rebuilds in full; callers that ignore the return value (the
    streaming applier, the serving benchmark) still see the receipt."""
    tbl = _mk_table(spark, tmp_path, n=80)
    idx = tbl.build_vector_index("ann", kind="lsh", n_planes=3, seed=7)
    tbl.merge(_events(spark, _vec_rows(10, seed=2, start_id=500)))
    tbl.vacuum()
    assert idx.refresh() is idx
    assert idx.last_refresh == {"mode": "full"}
    assert idx.meta["built_from_version"] == tbl._version()
    tbl.merge(_events(spark, _vec_rows(10, seed=3, start_id=600)))
    assert idx.refresh() is idx
    assert idx.last_refresh["mode"] == "incremental"


def test_vector_index_load_roundtrip(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path, n=60)
    tbl.build_vector_index("ann", kind="lsh", n_planes=3, seed=7)
    # a fresh handle (new process analog) loads the persisted state
    reloaded = LakeTable.load(spark, tbl.root).vector_index("ann")
    q = _query_vec()
    got = reloaded.probe(q, k=5, max_probe_hamming=3).collect()
    exp = S.lsh_ann_topk(
        tbl.read(), q, k=5, n_planes=3, seed=7, max_probe_hamming=3
    ).collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == [
        (r.vec_id, r.cos_sim) for r in exp
    ]
    with pytest.raises(FileNotFoundError):
        tbl.vector_index("nope")


def test_incremental_refresh_touches_only_affected_lists(spark, tmp_path, placement):
    """Verdict round-4 directive 2: refresh() consumes the change feed
    and rewrites only the lists containing changed keys; probe results
    equal a from-scratch rebuild."""
    tbl = _mk_table(spark, tmp_path, n=300)
    idx = tbl.build_vector_index("ivf", kind="ivf", n_lists=8, seed=7)
    lists_before = idx.meta["lists"]
    n_lists_on_disk = len(lists_before)
    assert n_lists_on_disk >= 6  # 300 random vectors spread over 8 lists

    # small batch: 5 upserts (3 new, 2 overwriting existing keys with a
    # LATER seq) + 1 delete of an existing key
    up = _vec_rows(3, seed=5, start_id=5000) + [
        (7, [float(x) for x in np.random.default_rng(42).standard_normal(DIM)],
         "2024-01-02 00:00:00", "I", 9001),
        (11, [float(x) for x in np.random.default_rng(43).standard_normal(DIM)],
         "2024-01-02 00:00:00", "I", 9002),
        (13, None, "2024-01-02 00:00:00", "D", 9003),
    ]
    tbl.merge(_events(spark, up))

    idx = idx.refresh()
    r = idx.last_refresh
    assert r["mode"] == "incremental"
    affected = set(r["lists_rewritten"])
    # a handful of changed rows must not touch every list
    assert 0 < len(affected) < n_lists_on_disk
    # every file READ belongs to an affected list
    old_owner = {
        os.path.join(idx.root, fi["path"]): int(b)
        for b, fs in lists_before.items()
        for fi in fs
    }
    assert r["files_read"]
    for f in r["files_read"]:
        assert old_owner[f] in affected
    # unchanged lists keep their ORIGINAL entries (files untouched);
    # affected lists got new files
    after = idx.meta["lists"]
    for lid, fs in lists_before.items():
        if int(lid) not in affected:
            assert after[lid] == fs, f"unchanged list {lid} was rewritten"
    for lid in affected:
        if str(lid) in after:
            assert after[str(lid)] != lists_before.get(str(lid))

    # membership now equals a from-scratch rebuild with the same state
    q = _query_vec()
    got = idx.probe(q, k=10, n_probe=8).collect()  # probe all lists
    rebuilt = VectorIndex.build(
        tbl, "ivf_rebuild", kind="ivf", n_lists=8, seed=7,
        _state=idx.meta["state"],
    )
    exp = rebuilt.probe(q, k=10, n_probe=8).collect()
    assert [(r_.vec_id, r_.cos_sim) for r_ in got] == [
        (r_.vec_id, r_.cos_sim) for r_ in exp
    ]
    # deleted key is gone from the index
    all_ids = {r_.vec_id for r_ in idx.probe(q, k=1000, n_probe=8).collect()}
    assert 13 not in all_ids
    assert 5000 in all_ids and 7 in all_ids

    # orphan sweep: a later refresh/build reclaims generations no
    # pointer references
    tbl.merge(_events(spark, _vec_rows(2, seed=9, start_id=6000)))
    idx = idx.refresh()
    gens = {d for d in os.listdir(idx.root) if d.startswith("d-")}
    assert gens <= _generations(idx)


def test_incremental_refresh_noop_range_advances_version(spark, tmp_path):
    """A compaction-only table advance (no row changes) must advance
    built_from_version without rewriting any list."""
    tbl = _mk_table(spark, tmp_path, n=120)
    idx = tbl.build_vector_index("ann", kind="lsh", n_planes=3, seed=7)
    before = idx.meta["lists"]
    tbl.compact()
    if tbl._version() == idx.meta["built_from_version"]:
        return  # compact was a no-op commit; nothing to assert
    idx = idx.refresh()
    assert idx.last_refresh["lists_rewritten"] == []
    assert idx.meta["lists"] == before
    assert idx.meta["built_from_version"] == tbl._version()


def test_probe_lists_bounded_at_large_n_planes(spark, tmp_path):
    """Verdict round-4 directive 4: multi-probe enumeration is margin-
    ordered and budget-bounded — n_planes=24 with hamming<=2 must not
    enumerate C(24,2)+C(24,1)+1 = 301 buckets."""
    import json as _json

    tbl = _mk_table(spark, tmp_path, n=40)
    idx = tbl.build_vector_index("ann", kind="lsh", n_planes=4, seed=7)
    # graft a 24-plane state onto the meta (probe_lists is driver-side
    # math over meta; no data files needed for this property)
    m = idx.meta
    rng = np.random.default_rng(3)
    m["state"] = rng.standard_normal((24, DIM)).tolist()
    m["n_planes"] = 24
    with open(os.path.join(idx.root, "meta.json"), "w") as f:
        _json.dump(m, f)

    q = _query_vec()
    lists = idx.probe_lists(q, max_probe_hamming=2, max_probe_lists=64)
    assert len(lists) <= 64
    qb = next(iter(idx.probe_lists(q, max_probe_hamming=0)))
    assert qb in lists
    # shell-0 and the whole hamming-1 shell fit in a 64 budget: the 24
    # single-flip buckets must all be present (shells fill in order)
    ham1 = {qb ^ (1 << i) for i in range(24)}
    assert ham1 <= set(lists)
    # budget smaller than shell-1: the flips kept are the SMALLEST-
    # margin planes (the multi-probe LSH order)
    short = idx.probe_lists(q, max_probe_hamming=2, max_probe_lists=9)
    assert len(short) == 9
    margins = sorted(
        range(24),
        key=lambda i: (abs(float(np.dot(np.asarray(q), np.asarray(m["state"][i])))), i),
    )
    expect = {qb} | {qb ^ (1 << i) for i in margins[:8]}
    assert set(short) == expect


def test_probe_budget_keeps_the_cheapest_flip_pairs(spark, tmp_path):
    """Under a truncating budget the hamming-2 shell must keep the flip
    pairs with the smallest margin sums across ALL planes: with margins
    m0 < m1 < m2 < m3 and m0+m3 < m1+m2, flipping planes {0, 3} beats
    flipping {1, 2}, though plane 3 is outside the three planes a
    3-pair budget nominally needs."""
    import json as _json

    tbl = _mk_table(spark, tmp_path, n=40)
    idx = tbl.build_vector_index("ann", kind="lsh", n_planes=4, seed=7)
    # plane i = margin_i * e0 + e1, so the query e0 has margin |q·p_i| = m_i
    margins = [0.10, 0.20, 0.25, 0.30]
    assert margins[0] + margins[3] < margins[1] + margins[2]
    m = idx.meta
    m["state"] = [[mi, 1.0] + [0.0] * (DIM - 2) for mi in margins]
    with open(os.path.join(idx.root, "meta.json"), "w") as f:
        _json.dump(m, f)
    q = [1.0] + [0.0] * (DIM - 1)

    qb = 0b1111  # q·p_i = m_i > 0 for every plane
    # budget: the query bucket, the 4 single flips, then 3 flip pairs
    lists = set(idx.probe_lists(q, max_probe_hamming=2, max_probe_lists=8))
    pairs = {qb ^ 0b0011, qb ^ 0b0101, qb ^ 0b1001}  # {0,1}, {0,2}, {0,3}
    assert lists == {qb} | {qb ^ (1 << i) for i in range(4)} | pairs
    assert qb ^ 0b0110 not in lists  # {1,2}: larger margin sum than {0,3}


def test_probe_receipt_comes_from_meta_without_listing(spark, tmp_path, monkeypatch):
    """A probe's receipt, files_total included, is read from the lists'
    entries in meta: the probe lists no directory."""
    tbl = _mk_table(spark, tmp_path, n=80)
    idx = tbl.build_vector_index("ann", kind="lsh", n_planes=3, seed=7)
    q = _query_vec()

    def no_listing(*a, **k):
        raise AssertionError("a probe listed a directory")

    monkeypatch.setattr(os, "listdir", no_listing)
    got = idx.probe(q, k=5).collect()
    pr = idx.last_probe
    assert got and pr["files_read"]
    assert pr["files_total"] == sum(len(fs) for fs in idx.meta["lists"].values())
    assert len(pr["files_read"]) < pr["files_total"]


def test_streaming_applier_keeps_index_fresh(spark, tmp_path):
    """Verdict round-4 directive 3: with refresh_index_every set, a
    multi-batch CDC stream keeps the table's ANN index queryable — each
    refresh is the incremental change-feed path, and after the run the
    index is exactly current (no allow_stale needed)."""
    from bear_spark.sources.changelog import write_changelog
    from bear_spark.streaming import CDCApplier

    tbl = _mk_table(spark, tmp_path, n=250)
    idx = tbl.build_vector_index("ivf", kind="ivf", n_lists=8, seed=7)
    v0 = idx.meta["built_from_version"]

    # 3 log chunks: inserts, overwrites of existing keys, deletes
    rows = (
        _vec_rows(30, seed=50, start_id=2000)
        + [
            (i, [float(x) for x in np.random.default_rng(60 + i).standard_normal(DIM)],
             "2024-01-03 00:00:00", "I", 10_000 + i)
            for i in range(10)
        ]
        + [(i, None, "2024-01-03 00:00:00", "D", 20_000 + i) for i in range(40, 50)]
    )
    ev = _events(spark, rows)
    log_dir = str(tmp_path / "log")
    write_changelog(ev, log_dir, n_chunks=3)

    app = CDCApplier(
        spark, tbl, log_dir, str(tmp_path / "ckpt"), str(tmp_path / "metrics"),
        max_files_per_trigger=1, refresh_index_every=1,
        event_schema=ev.schema,
    )
    metrics = app.run_available()
    applied = [m for m in metrics if not m.get("skipped")]
    assert len(applied) == 3
    assert all(m.get("indexes_refreshed") == 1 for m in applied)

    # the index is CURRENT: probe succeeds without allow_stale and its
    # refreshes were the incremental path
    idx = tbl.vector_index("ivf")
    assert idx.meta["built_from_version"] == tbl._version() > v0
    q = _query_vec()
    got = idx.probe(q, k=15, n_probe=8).collect()
    exp = S.ivf_ann_topk(tbl.read(), q, idx.meta["state"], k=15, n_probe=8).collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == [
        (r.vec_id, r.cos_sim) for r in exp
    ]
    deleted = {r.vec_id for r in idx.probe(q, k=1000, n_probe=8).collect()}
    assert deleted.isdisjoint(range(40, 50))


def _jobs_of(spark, fn):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    fn()
    return len(set(tracker.getJobIdsForGroup()) - before)


def test_probe_starts_one_job(spark, tmp_path):
    """The candidate scan declares the index files' schema, so a probe
    starts no schema-inference job: the top-k is its only job."""
    tbl = _mk_table(spark, tmp_path, n=120)
    idx = tbl.build_vector_index("ann", kind="lsh", n_planes=3, seed=7)
    q = _query_vec()
    for _ in range(2):
        assert _jobs_of(spark, lambda: idx.probe(q, k=5, max_probe_hamming=1).collect()) == 1


def test_incremental_refresh_reads_generations_without_inference(spark, tmp_path):
    """An incremental refresh reads each index generation it needs from
    the files meta lists: a second generation adds no job, neither a scan
    nor a schema inference."""
    tbl = _mk_table(spark, tmp_path, n=200)
    idx = tbl.build_vector_index("ann", kind="lsh", n_planes=3, seed=7)
    rows = VectorIndex._assign(
        tbl.read().select("vec_id", "embedding"), "lsh", idx.meta["state"], "embedding"
    ).collect()
    members: dict[int, list] = {}
    for r in rows:
        members.setdefault(r["_list"], []).append((r["vec_id"], list(r["embedding"])))
    l1, l2 = sorted(members, key=lambda b: -len(members[b]))[:2]

    def rewrite(pairs, lsn0):
        # same vectors at a later ts: each key stays in its list
        return _events(
            spark,
            [(i, v, "2024-01-02 00:00:00", "U", lsn0 + n) for n, (i, v) in enumerate(pairs)],
        )

    def gens_read():
        return {os.path.relpath(f, idx.root).split(os.sep)[0] for f in idx.last_refresh["files_read"]}

    tbl.merge(rewrite(members[l1][:2], 10_000))
    j1 = _jobs_of(spark, idx.refresh)
    assert idx.last_refresh["lists_rewritten"] == [l1] and len(gens_read()) == 1

    tbl.merge(rewrite([members[l1][2], members[l2][0]], 20_000))
    j2 = _jobs_of(spark, idx.refresh)
    assert sorted(idx.last_refresh["lists_rewritten"]) == sorted([l1, l2])
    assert len(gens_read()) == 2
    assert j2 <= j1, (j1, j2)


def test_lsh_build_sizes_planes_past_a_null_vector(spark, tmp_path):
    """The lowest key, read first, has a null embedding: size(NULL) is
    NULL, so the planes must be sized from a vector that is there."""
    tbl = LakeTable.create(
        spark, str(tmp_path / "tbl"), SCHEMA,
        key_cols=["vec_id"], seq_col="ts", num_buckets=1,
    )
    rows = _vec_rows(40, start_id=1)
    tbl.merge(_events(spark, [(0, None, "2024-01-01 00:00:00", "I", 0), *rows]))
    idx = tbl.build_vector_index("ann", kind="lsh", n_planes=3, seed=7)
    assert np.asarray(idx.meta["state"]).shape == (3, DIM)
    q = _query_vec()
    got = idx.probe(q, k=5, max_probe_hamming=3).collect()
    exp = S.lsh_ann_topk(tbl.read(), q, k=5, n_planes=3, seed=7, max_probe_hamming=3).collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == [(r.vec_id, r.cos_sim) for r in exp]
    # the null vector is indexed, in list 0 (every sign test fails)
    assert 0 in {r.vec_id for r in idx._candidate_scan([0]).collect()}


def _index_rows(idx):
    """{key: (vector, list)} over every file meta lists, and the number
    of rows read (a key in two lists would make it exceed the keys)."""
    out, n = {}, 0
    for b, fs in idx.meta["lists"].items():
        for fi in fs:
            for r in pq.read_table(os.path.join(idx.root, fi["path"])).to_pylist():
                n += 1
                out[r["vec_id"]] = (r["embedding"], int(b))
    return out, n


def test_refresh_keeps_each_live_key_in_its_assigned_list(spark, tmp_path, placement):
    """After every refresh the lists' files hold exactly the table's rows
    under the index's assignment, each live key once; lists the feed did
    not touch keep their entries; no deleted key remains. The writes mix
    inserts, updates that move a key to another list (the negated vector
    flips every sign bit), a null key moved the same way (the kernel's
    key match is null-safe), an update to a null vector, deletes and a
    compaction-only range."""
    tbl = _mk_table(spark, tmp_path, n=120)
    idx = tbl.build_vector_index("ann", kind="lsh", n_planes=4, seed=7)
    vecs = {r.vec_id: list(r.embedding) for r in tbl.read().collect()}
    null_vec = _query_vec(5)
    deleted: set[int] = set()
    untouched = 0

    def check(before, rewritten):
        nonlocal untouched
        want = {
            r.vec_id: (None if r.embedding is None else list(r.embedding), r._list)
            for r in VectorIndex._assign(
                tbl.read().select("vec_id", "embedding"), "lsh", idx.meta["state"], "embedding"
            ).collect()
        }
        got, n = _index_rows(idx)
        assert got == want and n == len(want)
        assert deleted.isdisjoint(got)
        for b, fs in before.items():
            if int(b) not in rewritten:
                untouched += 1
                assert idx.meta["lists"][b] == fs, f"untouched list {b} was rewritten"

    check({}, set())
    writes = [
        # (moved keys, deleted keys, key set to a null vector, null key's vector)
        ((1, 2, 3), (4, 5), 8, null_vec),
        ((6, 1), (7,), 9, [-x for x in null_vec]),
    ]
    for w, (moved, dels, nulled, nk_vec) in enumerate(writes):
        ts, lsn = f"2024-01-0{w + 2} 00:00:00", 10_000 * (w + 1)
        rows = [(k, [-x for x in vecs[k]], ts, "U", lsn + i) for i, k in enumerate(moved)]
        rows += [(k, None, ts, "D", lsn + 10 + i) for i, k in enumerate(dels)]
        rows += [(nulled, None, ts, "U", lsn + 20), (None, nk_vec, ts, "U", lsn + 21)]
        rows += _vec_rows(4, seed=w, start_id=5000 + 100 * w)
        tbl.merge(_events(spark, rows))
        for k in moved:
            vecs[k] = [-x for x in vecs[k]]
        deleted |= set(dels)
        before = idx.meta["lists"]
        idx.refresh()
        assert idx.last_refresh["mode"] == "incremental"
        check(before, set(idx.last_refresh["lists_rewritten"]))
    assert None in _index_rows(idx)[0]

    assert tbl.compact()["buckets_compacted"] > 0
    before = idx.meta["lists"]
    idx.refresh()
    assert idx.last_refresh["lists_rewritten"] == []
    assert idx.meta["built_from_version"] == tbl._version()
    check(before, set())
    assert untouched > len(before)  # some refresh left a list alone


@pytest.mark.parametrize("feed", ["driver", "job"])
def test_refresh_runs_the_index_kernel_where_its_feed_ran(spark, tmp_path, monkeypatch, feed):
    """A refresh whose change feed ran as an ``applyInArrow`` job runs its
    index kernel as a job too, never collecting the whole feed on the
    driver: Catalyst sizes such a feed by the file list under it, not by
    the rows it returns. With the cut above the feed's files, both run on
    the driver. Either way the lists end up as the table's assignment."""
    from bear_spark.lake import arrow_apply
    from bear_spark.lake import table as lake_table

    tbl = _mk_table(spark, tmp_path, n=400)
    idx = tbl.build_vector_index("ann", kind="lsh", n_planes=3, seed=7)
    # a later version of every row: 400 updates
    tbl.merge(_events(spark, [
        (k, vec, "2024-01-02 00:00:00", "U", 1000 + k) for k, vec, *_ in _vec_rows(400, seed=1)
    ]))
    new_files = tbl.snapshot["files"].values()
    new_bytes = sum(os.path.getsize(os.path.join(tbl.root, fi["path"])) for fs in new_files for fi in fs)
    # the feed reads the old and the new files, so it is over this cut
    monkeypatch.setattr(lake_table, "DRIVER_APPLY_MAX_BYTES", new_bytes if feed == "job" else 1 << 62)
    on_driver = arrow_apply.apply_on_driver
    calls = []

    def spy(batch, kernel):
        calls.append(batch.num_rows)
        return on_driver(batch, kernel)

    monkeypatch.setattr(arrow_apply, "apply_on_driver", spy)
    idx.refresh()
    assert idx.last_refresh["mode"] == "incremental"
    if feed == "job":
        assert calls == []
    else:
        # the feed's file list, then the assigned feed: an update's
        # preimage and postimage per key
        assert calls[1:] == [800], calls
    want = {
        r.vec_id: (list(r.embedding), r._list)
        for r in VectorIndex._assign(
            tbl.read().select("vec_id", "embedding"), "lsh", idx.meta["state"], "embedding"
        ).collect()
    }
    got, n = _index_rows(idx)
    assert got == want and n == len(want)


@pytest.mark.parametrize("assign", ["jvm", "arrow"])
def test_small_ivf_refresh_runs_its_index_kernel_on_the_driver(spark, tmp_path, monkeypatch, assign):
    """A small IVF refresh runs both its kernels (the feed's diff, then
    the index's) on the driver, whichever assignment ``with_ivf_list``
    picks: the Arrow one is a row map (``mapInPandas``), which Catalyst
    sizes from its input rows. Each list then holds the table's
    assignment."""
    from bear_spark.lake import arrow_apply

    threshold = 0 if assign == "arrow" else S.IVF_ASSIGN_CELLS_THRESHOLD
    monkeypatch.setattr(S, "IVF_ASSIGN_CELLS_THRESHOLD", threshold)
    tbl = _mk_table(spark, tmp_path)
    idx = tbl.build_vector_index("ivf", kind="ivf", n_lists=8, seed=7)
    state = idx.meta["state"]
    assigned = VectorIndex._assign(tbl.read().select("vec_id", "embedding"), "ivf", state, "embedding")
    plan = assigned._jdf.queryExecution().optimizedPlan().toString()
    assert ("MapInPandas" in plan) == (assign == "arrow"), plan
    tbl.merge(_events(spark, _vec_rows(5, seed=3, start_id=1000)))

    on_driver, kernel_job = arrow_apply.apply_on_driver, LakeTable._kernel_job
    driver, jobs = [], []
    monkeypatch.setattr(
        arrow_apply, "apply_on_driver", lambda b, k: driver.append(b.num_rows) or on_driver(b, k)
    )
    monkeypatch.setattr(
        LakeTable, "_kernel_job", lambda self, *a: jobs.append(a) or kernel_job(self, *a)
    )
    idx.refresh()
    assert idx.last_refresh["mode"] == "incremental"
    assert len(driver) == 2 and jobs == [], (driver, jobs)
    want = {
        r.vec_id: (list(r.embedding), r._list)
        for r in VectorIndex._assign(
            tbl.read().select("vec_id", "embedding"), "ivf", state, "embedding"
        ).collect()
    }
    got, n = _index_rows(idx)
    assert got == want and n == len(want)


def test_ivf_builds_at_one_version_and_seed_are_identical(spark, tmp_path, monkeypatch):
    """The IVF fit samples the table deterministically (by a hash of the
    ids), so two builds at one version and seed fit the same centroids
    and put the same rows in each list, with the whole table as the
    sample and with a sample smaller than the table."""
    from bear_spark.lake import vector_index

    tbl = _mk_table(spark, tmp_path, n=300)
    for per_list in (vector_index.IVF_SAMPLE_PER_LIST, 10):
        monkeypatch.setattr(vector_index, "IVF_SAMPLE_PER_LIST", per_list)
        a = tbl.build_vector_index(f"a{per_list}", kind="ivf", n_lists=8, seed=7)
        b = tbl.build_vector_index(f"b{per_list}", kind="ivf", n_lists=8, seed=7)
        assert a.meta["state"] == b.meta["state"]
        assert np.asarray(a.meta["state"]).shape == (8, DIM)
        assert _index_rows(a) == _index_rows(b)
        assert len(_index_rows(a)[0]) == 300


def test_ivf_build_skips_null_and_ragged_vectors(spark, tmp_path):
    """The fit skips a null vector and a wrong-length one (sized from the
    most common vector length, as the LSH build is); the index still
    holds both, in list 0, and probes equal the scan-time operator."""
    tbl = LakeTable.create(
        spark, str(tmp_path / "tbl"), SCHEMA,
        key_cols=["vec_id"], seq_col="ts", num_buckets=1,
    )
    rows = [(0, None, "2024-01-01 00:00:00", "I", 0), *_vec_rows(40, start_id=1)]
    rows.append((999, [1.0, 2.0], "2024-01-01 00:00:00", "I", 999))
    tbl.merge(_events(spark, rows))
    idx = tbl.build_vector_index("ivf", kind="ivf", n_lists=8, seed=7)
    assert np.asarray(idx.meta["state"]).shape == (8, DIM)
    got, n = _index_rows(idx)
    assert n == 42 and got[0] == (None, 0) and got[999][1] == 0
    q = _query_vec()
    exp = S.ivf_ann_topk(tbl.read(), q, idx.meta["state"], k=10, n_probe=8).collect()
    probed = idx.probe(q, k=10, n_probe=8).collect()
    assert [(r.vec_id, r.cos_sim) for r in probed] == [(r.vec_id, r.cos_sim) for r in exp]


def test_ivf_build_needs_n_lists_valid_vectors(spark, tmp_path):
    """Nine rows but six valid vectors cannot fit eight centroids."""
    tbl = LakeTable.create(
        spark, str(tmp_path / "tbl"), SCHEMA,
        key_cols=["vec_id"], seq_col="ts", num_buckets=1,
    )
    nulls = [(100 + i, None, "2024-01-01 00:00:00", "I", 100 + i) for i in range(3)]
    tbl.merge(_events(spark, _vec_rows(6) + nulls))
    with pytest.raises(ValueError, match="n_lists=8"):
        tbl.build_vector_index("ivf", kind="ivf", n_lists=8, seed=7)


@pytest.mark.parametrize("kind", ["lsh", "ivf"])
def test_build_sizes_the_index_from_the_most_common_length(spark, tmp_path, kind):
    """The lowest key, read first, holds a 2-dim vector and the other 59
    keys dim-16 ones: the index is sized from the most common length, so
    the build succeeds and a probe of every list equals the exact top-k
    over the valid vectors."""
    tbl = LakeTable.create(
        spark, str(tmp_path / "tbl"), SCHEMA,
        key_cols=["vec_id"], seq_col="ts", num_buckets=1,
    )
    rows = [(0, [1.0, 2.0], "2024-01-01 00:00:00", "I", 0), *_vec_rows(59, start_id=1)]
    tbl.merge(_events(spark, rows))
    idx = tbl.build_vector_index("ann", kind=kind, n_planes=3, n_lists=8, seed=7)
    assert np.asarray(idx.meta["state"]).shape == ((3, DIM) if kind == "lsh" else (8, DIM))
    q = _query_vec()
    every = {"max_probe_hamming": 3} if kind == "lsh" else {"n_probe": 8}
    got = idx.probe(q, k=10, **every).collect()
    valid = tbl.read().where(F.size("embedding") == DIM)
    exp = S.cosine_rank(valid, q, 10, "vec_id", "embedding").collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == [(r.vec_id, r.cos_sim) for r in exp]

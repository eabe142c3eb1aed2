"""Multi-executor packaging test: the engine shipped to SEPARATE
executor JVMs via ``spark-submit --py-files`` on a ``local-cluster``
master runs the CDC merge end-to-end and converges to the same state,
with the merge kernel on the driver and in ``applyInArrow`` tasks on the
executors; so does a bucket split followed by a compaction, whose rewrite
kernel is placed the same way, the change feed's diff kernel gives the
same feed under both placements, and an LSH index built and refreshed by
the index kernel under each placement holds the same lists and answers a
probe the same way.

It boots a standalone-mode mini-cluster (2 executor JVM processes of
1.5 GiB each, plus a 2 GiB driver), so it costs about half a minute and is
opt-in: ``BEAR_TEST_CLUSTER=1 pytest tests/test_cluster_submit.py``.
``BENCH/run_cluster_scaling.py`` submits ``bench.py`` the same way at 1
and 4 executors to measure the N→4N pair.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

pytestmark = pytest.mark.skipif(
    os.environ.get("BEAR_TEST_CLUSTER") != "1",
    reason="multi-executor-JVM test is opt-in (BEAR_TEST_CLUSTER=1); boots a local-cluster",
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = """
import json, os, sys
sys.path.insert(0, {repo!r})
import numpy as np
import pandas as pd
from pyspark.sql import types as T
from bear_spark.events import change_events
from bear_spark.lake import LakeTable
from bear_spark.schema import KEY_COLS, TRANSCRIPT_SCHEMA
from bear_spark.session import get_spark
from bear_spark import oracle

spark = get_spark(app_name="cluster_submit_test", cores=2,
                  shuffle_partitions=8, driver_memory="2g")
assert spark.sparkContext.master.startswith("local-cluster"), spark.sparkContext.master

import bear_spark.lake.table as lake_table

default_file_rows = lake_table.TARGET_FILE_ROWS
ev = change_events(spark, 30_000, n_convs=80, seed=13).cache()
ev.count()
exp = oracle.replay(ev.toPandas())
out = {{}}
# once per kernel placement: on the driver, and in applyInArrow tasks on
# the executors; the split writes small files, so compaction has work
for place, limit in (("driver", 1 << 62), ("job", -1)):
    lake_table.DRIVER_APPLY_MAX_BYTES = limit
    tbl = LakeTable.create(spark, os.path.join({work!r}, place),
                           TRANSCRIPT_SCHEMA, key_cols=KEY_COLS, num_buckets=4)
    v0 = tbl.snapshot["version"]
    m = tbl.merge(ev)
    got = tbl.read().toPandas()
    oracle.assert_states_equal(got, exp)
    # the feed from an empty table: every live row, as an insert
    feed = tbl.changes(v0).toPandas()
    assert set(feed["_change_type"]) == {{"insert"}} and len(feed) == len(got)
    lake_table.TARGET_FILE_ROWS = 500
    assert tbl.split_buckets(factor=2)["num_buckets"] == 8
    lake_table.TARGET_FILE_ROWS = default_file_rows
    oracle.assert_states_equal(tbl.read().toPandas(), exp)
    c = tbl.compact()
    oracle.assert_states_equal(tbl.read().toPandas(), exp)
    # a split and a compaction rewrite every file and change no row
    assert tbl.changes(m["version"]).count() == 0
    # an LSH index, built and then refreshed after inserts, updates and
    # deletes; its kernel runs in executor tasks under the job placement
    rng = np.random.default_rng(3)

    def vec_events(ids, op, lsn0, day):
        return spark.createDataFrame(pd.DataFrame({{
            "vec_id": ids, "embedding": [rng.standard_normal(8).tolist() for _ in ids],
            "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(days=day), "op": op,
            "lsn": range(lsn0, lsn0 + len(ids)),
        }}), "vec_id long, embedding array<double>, ts timestamp, op string, lsn long")

    vt = LakeTable.create(spark, os.path.join({work!r}, place + "_vec"),
                          T.StructType([T.StructField("vec_id", T.LongType()),
                                        T.StructField("embedding", T.ArrayType(T.DoubleType())),
                                        T.StructField("ts", T.TimestampType())]),
                          key_cols=["vec_id"], num_buckets=4)
    vt.merge(vec_events(list(range(400)), "I", 0, 0))
    idx = vt.build_vector_index("ann", kind="lsh", n_planes=3, seed=5)
    vt.merge(vec_events(list(range(0, 400, 7)) + list(range(400, 440)), "U", 1000, 1))
    vt.merge(vec_events(list(range(3, 400, 11)), "D", 2000, 2))
    idx.refresh()
    assert idx.last_refresh["mode"] == "incremental", idx.last_refresh
    q = np.random.default_rng(9).standard_normal(8).tolist()
    probe = [[r["vec_id"], r["cos_sim"]] for r in idx.probe(q, k=20, max_probe_hamming=1).collect()]
    lists = {{b: sum(fi["rows"] for fi in fs) for b, fs in sorted(idx.meta["lists"].items())}}
    assert sum(lists.values()) == vt.read().count()
    out[place] = {{"rows": len(got), "dedup_drops": m["dedup_drops"],
                   "compacted": c["buckets_compacted"], "feed": len(feed),
                   "probe": probe, "lists": lists}}
print(json.dumps(out))
"""


def test_merge_under_local_cluster_via_py_files(tmp_path):
    import pyspark

    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    zip_dir = tempfile.mkdtemp(prefix="bear_zip_")
    zip_path = os.path.join(zip_dir, "bear_spark")
    shutil.make_archive(zip_path, "zip", root_dir=REPO, base_dir="bear_spark")

    script = tmp_path / "driver.py"
    script.write_text(DRIVER.format(repo=REPO, work=str(tmp_path)))

    env = dict(os.environ, SPARK_GRAFT_MASTER="local-cluster[2,1,1536]")
    out = subprocess.run(
        [submit, "--master", "local-cluster[2,1,1536]", "--driver-memory", "2g",
         "--py-files", zip_path + ".zip", str(script)],
        env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    stats = json.loads(line)
    assert set(stats) == {"driver", "job"}
    assert stats["driver"] == stats["job"]
    assert stats["job"]["rows"] > 0 and stats["job"]["dedup_drops"] > 0
    assert stats["job"]["compacted"] > 0
    assert stats["job"]["feed"] == stats["job"]["rows"]
    assert len(stats["job"]["probe"]) == 20 and len(stats["job"]["lists"]) > 1

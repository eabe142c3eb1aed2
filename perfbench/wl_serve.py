"""serve_mixed: a closed loop with one client over a transcript table that
has an ``array<double>`` embedding column and a persisted vector index.

Reads are point lookups (``LakeTable.lookup``), ANN probes
(``VectorIndex.probe``), ``SearchEngine.search_author`` over
``table.read()`` and change-feed reads (``LakeTable.changes``). Between
rounds of reads a small write lands: a merge followed by
``VectorIndex.refresh()``, so every run times reads on both sides of a
merge and an index refresh.
It is the only workload that reads the lake table and runs the vector
index and search layers; its merges take the Catalyst path, because array
columns bypass the Arrow kernel. Every answer is checked against a pandas
copy of the current state.
"""

from __future__ import annotations

import math
import time

import numpy as np
import pandas as pd

from perfbench.harness import median, pct

ROWS = 8_000
DIM = 16
AUTHORS = 200
WRITE = (6, 30, 4)  # rows inserted, updated, deleted by one write
# a cycle is ROUNDS_PER_SIDE rounds of reads, a write, and as many rounds
# again; the same cycle in every run, so runs differ only in keys and
# vectors. Two rounds a side give the median four samples, so one stalled
# round does not set it.
READ_ROUND = ("lookup", "probe", "search", "changes")
ROUNDS_PER_SIDE = 2
BASE_TS = pd.Timestamp("2024-01-01")


def _schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("turn_id", T.LongType(), False),
            T.StructField("conv_id", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
            T.StructField("authors", T.ArrayType(T.StringType()), True),
        ]
    )


class Mirror:
    """Pandas copy of the live table state, kept in step with each write."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.rows: dict[int, dict] = {}
        self.next_id = 0
        self.lsn = 0
        self.writes = 0

    def _row(self, tid: int) -> dict:
        r = self.rng
        emb = r.standard_normal(DIM).round(6)
        return {
            "turn_id": tid,
            "conv_id": f"conv_{tid // 8:06d}",
            "text": f"turn {tid} rev {self.writes} :: " + " ".join(
                f"w{x}" for x in r.integers(0, 997, 6)
            ),
            "ts": BASE_TS + pd.Timedelta(seconds=self.writes),
            "embedding": [float(x) for x in emb],
            "authors": [f"a{x:03d}" for x in sorted(set(r.integers(0, AUTHORS, 3).tolist()))],
        }

    def batch(self, n_new: int, n_upd: int = 0, n_del: int = 0) -> tuple[pd.DataFrame, dict]:
        """Next write as CDC events, and {turn_id: change type} it makes."""
        live = sorted(self.rows)
        picked = self.rng.choice(live, n_upd + n_del, replace=False).tolist() if live else []
        upd, dele = picked[:n_upd], picked[n_upd:]
        out, change = [], {}
        for tid in range(self.next_id, self.next_id + n_new):
            out.append({**self._row(tid), "op": "I"})
            change[tid] = "insert"
        self.next_id += n_new
        for tid in upd:
            out.append({**self._row(tid), "op": "U"})
            change[tid] = "update_postimage"
        for tid in dele:
            out.append({**self.rows[tid], "ts": BASE_TS + pd.Timedelta(seconds=self.writes), "op": "D"})
            change[tid] = "delete"
        for r in out:
            self.lsn += 1
            r["lsn"] = self.lsn
            if r["op"] == "D":
                self.rows.pop(r["turn_id"])
            else:
                self.rows[r["turn_id"]] = {k: v for k, v in r.items() if k not in ("op", "lsn")}
        self.writes += 1
        return pd.DataFrame(out), change

    def cos(self, q: np.ndarray) -> pd.Series:
        ids = np.fromiter(self.rows, dtype=np.int64)
        m = np.array([self.rows[i]["embedding"] for i in ids])
        c = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
        return pd.Series(np.round(c, 6), index=ids)

    def search_author(self, q: np.ndarray, top_k: int, top_n: int, limit: int) -> dict[str, float]:
        d = self.cos(q)
        hits = pd.DataFrame({"turn_id": d.index, "distance": d.values})
        hits = hits.sort_values(["distance", "turn_id"], ascending=[False, True]).head(top_k)
        hits["author"] = [self.rows[t]["authors"] for t in hits["turn_id"]]
        ex = hits.explode("author")
        ex["score"] = ex["distance"] ** 3
        ex = ex.sort_values(["author", "score", "turn_id"], ascending=[True, False, True])
        tot = ex.groupby("author").head(top_n).groupby("author")["score"].sum().round(4)
        tot = tot.reset_index().sort_values(["score", "author"], ascending=[False, True])
        return dict(zip(tot["author"].head(limit), tot["score"].head(limit)))


def _events(ctx, pdf: pd.DataFrame):
    from pyspark.sql import types as T

    schema = T.StructType(
        _schema().fields
        + [T.StructField("op", T.StringType(), False), T.StructField("lsn", T.LongType(), False)]
    )
    return ctx.spark.createDataFrame(pdf[[f.name for f in schema.fields]], schema)


def _close(a: float, b: float, tol: float) -> bool:
    return math.isclose(a, b, rel_tol=0, abs_tol=tol)


def run(ctx) -> None:
    from bear_spark.lake import LakeTable
    from bear_spark.search import SearchEngine

    res, tr = ctx.res, ctx.tracer
    ctx.key_cols = ("turn_id",)

    # prefill: the initial load, then one small write, so the merge path is
    # warm before timing (the index is built after it)
    mirror = Mirror(np.random.default_rng(ctx.seed))
    with tr.span("setup.prefill"):
        t0 = time.perf_counter()
        table = LakeTable.create(
            ctx.spark, str(ctx.work / "serve"), _schema(), ["turn_id"],
            num_buckets=4 * ctx.cores,
        )
        table.merge(_events(ctx, mirror.batch(ROWS)[0]))
        pdf, last_change = mirror.batch(*WRITE)
        last_version = table.merge(_events(ctx, pdf))["version"]
        ctx.setup_parts(prefill_s=time.perf_counter() - t0)
    with tr.span("setup.index_build"):
        t0 = time.perf_counter()
        index = table.build_vector_index("ann", kind="lsh", n_planes=4, seed=ctx.seed)
        ctx.setup_parts(index_build_s=time.perf_counter() - t0)
    ctx.instrument(table)

    def write(i):
        """Merge a small batch, refresh the index, re-plan the search corpus."""
        nonlocal engine
        pdf, change = mirror.batch(*WRITE)
        with tr.span("bench.write", req=i):
            t0 = time.perf_counter()
            m = table.merge(_events(ctx, pdf))
            with tr.span("lake.vector_index.refresh"):
                index.refresh()
            dt = time.perf_counter() - t0
            engine = SearchEngine(table.read(), id_col="turn_id", vec_col="embedding")
        return dt, m["version"], change

    engine = SearchEngine(table.read(), id_col="turn_id", vec_col="embedding")
    # warm-up: one read of each kind (not timed, not checked)
    rng = np.random.default_rng(ctx.seed + 1)
    with tr.span("setup.warmup"):
        t0 = time.perf_counter()
        q0 = [float(x) for x in rng.standard_normal(DIM)]
        table.lookup(0).collect()
        index.probe(q0, k=10, max_probe_hamming=1).collect()
        engine.search_author(q0, "authors", top_k=50, top_n_per_group=5, limit=10).collect()
        table.changes(last_version - 1, last_version).collect()
        ctx.setup_parts(warmup_s=time.perf_counter() - t0)

    reads: list[float] = []
    writes: list[float] = []
    probes: list[dict] = []
    refreshes: list[dict] = []

    def read(kind: str, i: int):
        """One timed read request. Returns a check of its answer, which the
        caller runs after the clock stops."""
        q = rng.standard_normal(DIM)
        qv = [float(x) for x in q]
        t0 = time.perf_counter()
        if kind == "lookup":
            tid = int(rng.integers(0, mirror.next_id))
            with tr.span("lake.table.lookup", req=i):
                got = table.lookup(tid).collect()
            reads.append(time.perf_counter() - t0)
            want = mirror.rows.get(tid)
            if want is None:
                return lambda: len(got) == 0
            return lambda: (len(got) == 1 and got[0]["text"] == want["text"]
                            and list(got[0]["embedding"]) == want["embedding"])
        if kind == "probe":
            with tr.span("lake.vector_index.probe", req=i):
                got = index.probe(qv, k=10, max_probe_hamming=1).collect()
            reads.append(time.perf_counter() - t0)
            probes.append(dict(index.last_probe or {}))

            def check():
                cos = mirror.cos(q)
                sims = [r["cos_sim"] for r in got]
                return 0 < len(got) <= 10 and sims == sorted(sims, reverse=True) and all(
                    r["turn_id"] in mirror.rows
                    and _close(r["cos_sim"], cos[r["turn_id"]], 2e-6)
                    for r in got
                )
            return check
        if kind == "search":
            with tr.span("search.search_author", req=i):
                got = engine.search_author(
                    qv, "authors", top_k=50, top_n_per_group=5, limit=10
                ).collect()
            reads.append(time.perf_counter() - t0)

            def check():
                want = mirror.search_author(q, 50, 5, 10)
                return len(got) == len(want) and all(
                    r["_group"] in want and _close(r["total_score"], want[r["_group"]], 1e-3)
                    for r in got
                )
            return check
        with tr.span("lake.table.changes", req=i):
            got = table.changes(last_version - 1, last_version).collect()
        reads.append(time.perf_counter() - t0)
        change = last_change
        return lambda: {r["turn_id"]: r["_change_type"] for r in got} == change

    rounds: list[float] = []
    i = 0

    def read_round():
        """One read of each kind; its summed read time is the unit
        reported as op_s."""
        nonlocal i
        n_reads = len(reads)
        for kind in READ_ROUND:
            i += 1
            try:
                check = read(kind, i)
                with tr.span("bench.check", req=i):
                    ok = check()
            except Exception as e:
                ok = False
                res.problems.append(f"{kind} {i}: {type(e).__name__}: {str(e)[:200]}")
            res.op(ok, f"{kind} request {i} returned a wrong answer")
        rounds.append(sum(reads[n_reads:]))

    # whole cycles until the time is up
    with ctx.timed():
        while i == 0 or time.perf_counter() < ctx.timed_start + ctx.seconds:
            for _ in range(ROUNDS_PER_SIDE):
                read_round()
            i += 1
            try:
                dt, last_version, last_change = write(i)
                writes.append(dt)
                refreshes.append(dict(index.last_refresh or {}))
                ok = True
            except Exception as e:
                ok = False
                res.problems.append(f"write {i}: {type(e).__name__}: {str(e)[:200]}")
            res.op(ok, f"write {i} failed")
            for _ in range(ROUNDS_PER_SIDE):
                read_round()

    # -- correctness of the final state, against the mirror
    live = pd.DataFrame(list(mirror.rows.values()))
    got = table.read().toPandas()
    for df in (live, got):
        df["embedding"] = df["embedding"].map(tuple)
        df["authors"] = df["authors"].map(tuple)
    ctx.check_state(got, live, "final table state")

    cpu = ctx.cpu_split["cpu.total_s"]
    ctx.op_metrics(rounds, cpu / len(rounds))
    res.detail.update(
        {
            "request_s.p50": (median(reads), "s"),
            "request_s.p90": (pct(reads, 90), "s"),
            "write_visible_s.p50": (median(writes), "s"),
            "reads": (len(reads), "count"),
            "writes": (len(writes), "count"),
        }
    )
    ctx.layer.update(
        {
            "lake.vector_index.probe.lists_probed": float(np.mean([len(p.get("lists_probed") or []) for p in probes])) if probes else 0.0,
            "lake.vector_index.probe.files_read": float(np.mean([len(p.get("files_read") or []) for p in probes])) if probes else 0.0,
            "lake.vector_index.refresh.lists_rewritten": float(np.mean([len(r.get("lists_rewritten") or []) for r in refreshes])) if refreshes else 0.0,
            "lake.vector_index.refresh.incremental_share": sum(r.get("mode") == "incremental" for r in refreshes) / len(refreshes) if refreshes else 0.0,
        }
    )

"""CDC engine benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload stream_tail --seed 1 --seconds 5 --trace 0

Run from the root of a checkout; it drives the engine only through its
public calls. Inputs come from ``--seed``; outputs are checked against
independent replays (pandas, DuckDB) and failures are counted.

End-to-end metrics (``--trace 0``), over each workload's unit of work, "op":

- bulk_apply: one staged 140k-event batch through ``LakeTable.merge``;
- stream_tail: one landed chunk, timed from its scheduled landing to the
  first ``applied_offsets()`` check that covers it (freshness);
- serve_mixed: one read round (lookup, ANN probe, search_author and
  change-feed read); each cycle is two rounds, a merge + index refresh,
  and two more rounds;
- query_suite: one pass over the twelve headline queries on the sf0.01
  fixture.

BENCHMARK.json lists stream_tail, serve_mixed and query_suite. bulk_apply
is run by hand: with a fourth workload, the full set of repeated runs on a
4-core host takes longer than the benchmark's time budget. Every layer it
measures (merge counters, CPU split, staging) is also measured on
stream_tail.

``setup_s`` is session start + staging + prefill + index build + warm-up;
``op_s.p50`` is the median of the run's ops; ``cpu_s_per_op`` is the CPU of
the benchmark's process tree over the timed region per op. Only stream_tail
has the samples for a 90th percentile (ten above it), so freshness_s.p90
and the other tails are reported on the detail line, not gated.

``--trace 1`` wraps the engine's public calls in spans, writes them to
``.perfbench_spans/<workload>-<seed>.jsonl`` and reports the per-layer
metrics instead, plus the tracing overhead against an untraced run of the
same seed and the same code, when there is one. The line before the result
line carries the workload's named metrics (apply_events_per_s,
freshness_s.*, request_s.*, ...), the failed share, the CPU split and the
host probe.
"""

from __future__ import annotations

import argparse
import importlib
import json
import shutil
import sys
import time
from pathlib import Path

_ROOT = Path(__file__).resolve().parent.parent
if not (_ROOT / "bear_spark" / "__init__.py").is_file() or not (_ROOT / "bench.py").is_file():
    sys.exit(f"error: run from a checkout of the engine; no bear_spark package or bench.py under {_ROOT}")
sys.path.insert(0, str(_ROOT))

from perfbench.harness import (  # noqa: E402
    ROOT,
    WORK,
    Ctx,
    Result,
    Tracer,
    covered,
    driver_heap,
    fresh_workdir,
    host_probe,
    median,
    start_session,
    state_path,
    stop_session,
)
from bench import HEADLINE_QUERIES  # noqa: E402

WORKLOADS = {
    "bulk_apply": "perfbench.wl_bulk",
    "stream_tail": "perfbench.wl_stream",
    "serve_mixed": "perfbench.wl_serve",
    "query_suite": "perfbench.wl_queries",
}

E2E = {"setup_s": "s", "op_s.p50": "s", "cpu_s_per_op": "s"}

_M = "lake.table.merge"
LAYERS = {
    f"{_M}.busy_s": "s",
    f"{_M}.s.p50": "s",
    f"{_M}.rows_in": "count",
    f"{_M}.target_rows_read": "count",
    f"{_M}.rows_written": "count",
    f"{_M}.dedup_drops": "count",
    f"{_M}.late_events": "count",
    f"{_M}.buckets_touched": "count",
    f"{_M}.read_amplification": "ratio",
    f"{_M}.lww_share": "ratio",
    f"{_M}.skipped_share": "ratio",
    f"{_M}.retries": "count",
    "cpu.python_worker_s": "s",
    "cpu.jvm_task_s": "s",
    "cpu.jvm_other_s": "s",
    "cpu.bench_s": "s",
    "lake.table.compact.busy_s": "s",
    "lake.table.compact.buckets_compacted": "count",
    "lake.table.vacuum.busy_s": "s",
    "lake.table.vacuum.removed": "count",
    "lake.table.lookup.s.p50": "s",
    "lake.table.changes.s.p50": "s",
    "lake.reconcile.schema_changes": "count",
    "lake.vector_index.probe.s.p50": "s",
    "lake.vector_index.probe.lists_probed": "count",
    "lake.vector_index.probe.files_read": "count",
    "lake.vector_index.refresh.s.p50": "s",
    "lake.vector_index.refresh.lists_rewritten": "count",
    "lake.vector_index.refresh.incremental_share": "ratio",
    "search.search_author.s.p50": "s",
    "streaming.apply.run_available.busy_s": "s",
    "streaming.apply.self_s": "s",
    "streaming.apply.batches": "count",
    "streaming.apply.events_per_batch": "count",
    "sources.changelog.chunks_landed": "count",
    "sources.changelog.backlog_chunks.max": "count",
    "sources.changelog.gen_late_s.max": "s",
    **{f"queries.{q}.s.p50": "s" for q in HEADLINE_QUERIES},
    "setup.session_s": "s",
    "setup.stage_s": "s",
    "setup.prefill_s": "s",
    "setup.index_build_s": "s",
    "trace.spans": "count",
    "trace.top_level_coverage": "ratio",
    "trace.span_cost_s": "s",
}


def merge_layer(ctx: Ctx) -> dict[str, float]:
    ms = [m for m in ctx.merges if not m.get("skipped")]

    def tot(k):
        return sum(int(m.get(k) or 0) for m in ms)

    rows_in, lww = tot("rows_in"), tot("lww_rows")
    tr = ctx.tracer
    return {
        f"{_M}.busy_s": tr.busy_s(_M),
        f"{_M}.s.p50": median(tr.durations(_M)),
        f"{_M}.rows_in": rows_in,
        f"{_M}.target_rows_read": tot("target_rows_read"),
        f"{_M}.rows_written": tot("rows_written"),
        f"{_M}.dedup_drops": tot("dedup_drops"),
        f"{_M}.late_events": tot("late_events"),
        f"{_M}.buckets_touched": tot("buckets_touched"),
        f"{_M}.read_amplification": tot("target_rows_read") / rows_in if rows_in else 0.0,
        f"{_M}.lww_share": lww / (lww + tot("passthrough_rows")) if lww else 0.0,
        f"{_M}.skipped_share": (len(ctx.merges) - len(ms)) / len(ctx.merges) if ctx.merges else 0.0,
        f"{_M}.retries": sum(int(m.get("merge_retries") or 0) for m in ctx.merges),
        "lake.table.compact.busy_s": tr.busy_s("lake.table.compact"),
        "lake.table.compact.buckets_compacted": sum(c["buckets_compacted"] for c in ctx.compacts),
        "lake.table.vacuum.busy_s": tr.busy_s("lake.table.vacuum"),
        "lake.table.vacuum.removed": sum(len(v) for v in ctx.vacuums),
        "lake.reconcile.schema_changes": sum(len(m.get("schema_changes") or []) for m in ms),
    }


def layer_metrics(ctx: Ctx) -> dict[str, float]:
    tr = ctx.tracer
    out = {k: 0.0 for k in LAYERS}
    out.update(merge_layer(ctx))
    out.update({k: v for k, v in ctx.cpu_split.items() if k in LAYERS})
    out.update({k: v for k, v in ctx.setup.items() if k in LAYERS})
    out.update({k: v for k, v in ctx.layer.items() if k in LAYERS})

    def timed_p50(name):  # warm-up calls before the timed region left out
        return median([s["end"] - s["start"] for s in tr.named(name) if s["start"] >= ctx.timed_start])

    for name in ("lake.table.lookup", "lake.table.changes", "lake.vector_index.probe",
                 "lake.vector_index.refresh", "search.search_author"):
        out[f"{name}.s.p50"] = timed_p50(name)
    for q in HEADLINE_QUERIES:
        out[f"queries.{q}.s.p50"] = timed_p50(f"queries.{q}")
    out["trace.spans"] = len(tr.spans)
    wall = ctx.timed_wall
    timed = [s for s in tr.spans if s["parent"] is None and s["start"] >= ctx.timed_start
             and s["end"] <= ctx.timed_start + wall]
    out["trace.top_level_coverage"] = covered(timed) / wall if wall else 0.0
    out["trace.span_cost_s"] = len(tr.spans) * tr.span_cost_s()
    return out


def trace_overhead(ctx: Ctx, workload: str, seed: int) -> float | None:
    """Traced minus untraced op_s.p50, as a share of the untraced figure,
    against an untraced run of the same seed and the same code. None, with
    a warning, when there is no such run."""
    untraced = state_path(f"untraced-{workload}-{seed}")
    if not untraced.exists():
        print(f"warning: no untraced {workload} run of seed {seed} with this code; "
              "tracing overhead not measured (run --trace 0 first)", file=sys.stderr)
        return None
    base = json.loads(untraced.read_text())["op_s.p50"]
    return ctx.res.e2e["op_s.p50"][0] / base - 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb the expected state (self-test of the correctness gate)")
    args = ap.parse_args(argv)

    fresh_workdir()
    probe = host_probe()
    tracer = Tracer(bool(args.trace))
    res = Result()
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("setup.session", root=True):
            spark = start_session(f"perfbench-{args.workload}")
        ctx = Ctx(spark, args.seed, args.seconds, tracer, res, time.perf_counter() - t0,
                  corrupt_expected=args.corrupt_expected)
        importlib.import_module(WORKLOADS[args.workload]).run(ctx)
        res.e2e["setup_s"] = (ctx.setup_s, "s")
        layers = layer_metrics(ctx) if args.trace else None
    finally:
        stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    if args.trace:
        spans_dir = ROOT / ".perfbench_spans"
        spans_dir.mkdir(exist_ok=True)
        tracer.dump(spans_dir / f"{args.workload}-{args.seed}.jsonl")
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in LAYERS.items()}
        res.detail["trace.overhead_share"] = (trace_overhead(ctx, args.workload, args.seed), "ratio")
    else:
        state_path(f"untraced-{args.workload}-{args.seed}").write_text(
            json.dumps({k: v for k, (v, _) in res.e2e.items()})
        )
        metrics = {k: {"value": float(res.e2e[k][0]), "unit": u} for k, u in E2E.items()}

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "metrics": {
            "setup_s": {"value": ctx.setup_s, "unit": "s"},
            "failed_share": {"value": res.failed / max(1, res.attempted), "unit": "ratio"},
            **{k: {"value": v, "unit": u} for k, (v, u) in res.detail.items()},
        },
        "setup": ctx.setup,
        "cpu_split": ctx.cpu_split,
        "host": {"cores": ctx.cores, "driver_heap": driver_heap(), "host_probe": probe},
        "problems": res.problems,
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py [workload ...]

For each workload, bulk_apply included though BENCHMARK.json leaves it out:
a one-second untraced run must be correct and print every end-to-end metric
of BENCHMARK.json and the workload's named metrics, each with its unit; a traced run against a deliberately corrupted expected state
must report a non-zero failed share and print every per-layer metric.
Exits non-zero on the first broken expectation.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

NAMED = {
    "bulk_apply": ["apply_events_per_s", "cpu_s_per_mevent"],
    "stream_tail": ["freshness_s.p50", "freshness_s.p90", "cpu_s_per_mevent"],
    "serve_mixed": ["request_s.p50", "request_s.p90", "write_visible_s.p50"],
    "query_suite": ["query_suite_s"],
}


def run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {what}")
    print(f"ok   {what}")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in sys.argv[1:] or list(NAMED):
        detail, result = run(w, 0)
        expect(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
               f"{w}: correct, {result['attempted']} operations, none failed")
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        expect(got == e2e, f"{w}: every end-to-end metric printed with its unit")
        named = detail["metrics"]
        expect(all(k in named and named[k]["unit"] for k in NAMED[w] + ["setup_s", "failed_share"]),
               f"{w}: named metrics {NAMED[w] + ['setup_s', 'failed_share']} printed with units")
        detail, result = run(w, 1, "--corrupt-expected")
        expect(result["failed"] > 0 and detail["metrics"]["failed_share"]["value"] > 0,
               f"{w}: a corrupted expected state gives failed_share "
               f"{detail['metrics']['failed_share']['value']:.3f} > 0")
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        expect(got == layers, f"{w}: every per-layer metric printed with its unit")
        expect((ROOT / ".perfbench_spans" / f"{w}-7.jsonl").is_file(), f"{w}: spans written")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

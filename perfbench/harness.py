"""Shared plumbing for the benchmark: host sizing, the Spark session, the
process-tree CPU split, spans, and the result line.

Everything here runs inside the checkout the benchmark is started from:
working files go to ``.perfbench_work/`` and per-seed integrity counters to
``.perfbench_state/`` under the checkout root, keyed by a digest of the code
that produced them.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import math
import os
import shutil
import signal
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
STATE = ROOT / ".perfbench_state"

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ host
def host_cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_heap() -> str:
    """A quarter of available memory, between 1 and 4 GiB: one local-mode
    JVM plus one Python worker per core must fit beside other tenants."""
    gib = mem_available_bytes() / 2**30
    return f"{max(1, min(4, int(gib / 4)))}g"


def host_probe(mib: int = 128) -> dict[str, float]:
    """Memory bandwidth context: first-touch (page faults included) and
    steady-state fill rate of a fresh buffer. Recorded once per run; it
    gates nothing."""
    import numpy as np

    n = mib * 2**20
    t0 = time.perf_counter()
    buf = np.empty(n, dtype=np.uint8)
    buf.fill(1)
    t1 = time.perf_counter()
    buf.fill(2)
    t2 = time.perf_counter()
    del buf
    return {
        "first_touch_gb_s": round(n / (t1 - t0) / 1e9, 3),
        "steady_gb_s": round(n / (t2 - t1) / 1e9, 3),
    }


def fresh_workdir() -> Path:
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        (WORK / sub).mkdir(parents=True)
    # py4j's gateway handshake file and PySpark's own temp files follow
    # TMPDIR; keep them inside the checkout
    os.environ["TMPDIR"] = str(WORK / "tmp")
    return WORK


def start_session(app: str):
    """Host-sized local session with the status REST API on a free port
    (the JVM-task CPU figure comes from it)."""
    from bear_spark.session import get_spark

    cores = host_cores()
    # Python workers import bear_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    return get_spark(
        app_name=app,
        cores=cores,
        driver_memory=driver_heap(),
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.sql.ui.retainedExecutions": "50",
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        },
    )


def _descendants(pid: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for p, (ppid, _, _) in _proc_table().items():
        kids.setdefault(ppid, []).append(p)
    out, stack = set(), [pid]
    while stack:
        for c in kids.get(stack.pop(), ()):
            out.add(c)
            stack.append(c)
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rfind(")") + 2] not in "ZX"  # a zombie has ended


def _wait_gone(pids, timeout_s: float) -> set[int]:
    deadline = time.monotonic() + timeout_s
    left = {p for p in pids if _running(p)}
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = {p for p in left if _running(p)}
    return left


def stop_session(spark, grace_s: float = 20.0) -> None:
    """Stop the session and end every process it started, waiting for
    each: the JVM exits when its stdin closes, and the Python workers it
    forked go with it. Left to itself the JVM would only see that EOF
    after this process has exited, so it could outlive the run."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        procs |= _descendants(os.getpid())
        gw = SparkContext._gateway
        jvm = getattr(gw, "proc", None)
        SparkContext._gateway = SparkContext._jvm = None
        if jvm is not None and jvm.stdin is not None:
            jvm.stdin.close()
        left = _wait_gone(procs, grace_s)
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for p in left:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            left = _wait_gone(left, 10)
        if jvm is not None:
            jvm.poll()  # reap it
        if left:
            raise RuntimeError(f"processes {sorted(left)} outlived the session")


# ------------------------------------------------------------- CPU split
def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        comm = s[s.find("(") + 1 : s.rfind(")")]
        rest = s[s.rfind(")") + 2 :].split()
        ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
        out[int(d)] = (int(rest[1]), comm, ticks / _CLK_TCK)
    return out


class CpuMeter:
    """CPU split of the benchmark's process tree.

    ``/proc`` gives the benchmark's own process, the JVM and the Python
    workers under it; the Spark status API gives the CPU the JVM spent
    running tasks (stage ``executorCpuTime``). JVM CPU outside tasks
    (driver planning, scheduling, GC, streaming bookkeeping) is the rest.
    """

    def __init__(self, spark):
        self.spark = spark
        self.base = spark.sparkContext.uiWebUrl
        self.app = spark.sparkContext.applicationId

    def _task_cpu_s(self) -> float:
        url = f"{self.base}/api/v1/applications/{self.app}/stages"
        with urllib.request.urlopen(url, timeout=30) as r:
            stages = json.load(r)
        return sum(s.get("executorCpuTime", 0) for s in stages) / 1e9

    def sample(self) -> dict[str, float]:
        procs = _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        me = os.getpid()
        split = {"bench": procs[me][2], "jvm": 0.0, "python_worker": 0.0}
        stack = [(c, "other") for c in kids.get(me, [])]
        while stack:
            pid, under = stack.pop()
            _, comm, cpu = procs[pid]
            side = "jvm" if comm == "java" else ("python_worker" if under == "jvm" else under)
            if side in split:
                split[side] += cpu
            stack.extend((c, "jvm" if side in ("jvm", "python_worker") else under) for c in kids.get(pid, []))
        split["jvm_task"] = self._task_cpu_s()
        return split

    @staticmethod
    def delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
        d = {k: b[k] - a[k] for k in a}
        return {
            "cpu.bench_s": d["bench"],
            "cpu.python_worker_s": d["python_worker"],
            "cpu.jvm_task_s": d["jvm_task"],
            "cpu.jvm_other_s": max(0.0, d["jvm"] - d["jvm_task"]),
            "cpu.total_s": d["bench"] + d["python_worker"] + d["jvm"],
        }


# ----------------------------------------------------------------- spans
class Tracer:
    """In-memory spans (name, start, end, parent, request id), written out
    once at the end. Disabled, ``span`` costs one attribute test.

    Spans opened on a thread with no open span of its own (the streaming
    foreachBatch callback thread) take the main thread's innermost open
    span as parent, which is the call that caused them.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []

    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, req=None, root: bool = False):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if parent is None and not root and stack is not self._main_stack and self._main_stack:
            parent = self._main_stack[-1]
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "req": req if req is not None else (parent["req"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")

    # -- per-layer reductions ------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def busy_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def self_s(self, name: str) -> float:
        """Duration of ``name`` spans minus the time their children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        total = 0.0
        for s in self.named(name):
            total += (s["end"] - s["start"]) - covered(children.get(s["id"], []), s)
        return total

    def span_cost_s(self, n: int = 20000) -> float:
        """Measured cost of one span open/close on this host."""
        probe = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n


def covered(spans: list[dict], within: dict | None = None) -> float:
    """Length of the union of span intervals (clipped to ``within``)."""
    iv = sorted(
        (
            max(s["start"], within["start"]) if within else s["start"],
            min(s["end"], within["end"]) if within else s["end"],
        )
        for s in spans
    )
    total, cur_s, cur_e = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ----------------------------------------------------------------- stats
def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return 0.0
    xs = sorted(xs)
    return float(xs[min(len(xs) - 1, max(0, math.ceil(q / 100 * len(xs)) - 1))])


# ---------------------------------------------------------- seed counters
def code_digest() -> str:
    """Digest of the engine and benchmark sources. State recorded by one
    version of the code is never compared with another version's."""
    h = hashlib.sha256()
    for d in ("bear_spark", "perfbench"):
        for f in sorted((ROOT / d).rglob("*.py")):
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def state_path(name: str) -> Path:
    STATE.mkdir(exist_ok=True)
    return STATE / f"{name}-{code_digest()}.json"


def check_repeatable(workload: str, seed: int, key: str, counters: dict) -> bool:
    """Counters of a deterministic workload must repeat bit-for-bit across
    runs of one seed and one version of the code: the first such run
    records them, later runs compare."""
    path = state_path(f"{workload}-{seed}-{key}")
    if path.exists():
        return json.loads(path.read_text()) == counters
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(counters, sort_keys=True))
    os.replace(tmp, path)
    return True


class Result:
    """Accumulates operations, failures and metrics for the result line."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.detail: dict[str, tuple[float, str]] = {}

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what and len(self.problems) < 20:
                self.problems.append(what)

    def check(self, ok: bool, what: str) -> None:
        """A correctness check that is not itself an operation: a failure
        marks one more operation wrong."""
        if not ok:
            self.failed += 1
            self.problems.append(what)


class Ctx:
    """What a workload gets: the session, its arguments, the tracer, the
    result, and the instrumented calls' results."""

    def __init__(self, spark, seed: int, seconds: float, tracer: Tracer, res: Result,
                 session_s: float, corrupt_expected: bool = False):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.res = res
        self.work = WORK
        self.cores = host_cores()
        self.cpu = CpuMeter(spark)
        self.corrupt_expected = corrupt_expected
        self.key_cols = ("conv_id", "turn_idx")  # of the table check_state compares
        self.setup = {"setup.session_s": session_s}
        self.merges: list[dict] = []
        self.compacts: list[dict] = []
        self.vacuums: list[list] = []
        self.after_merge = None
        self.layer: dict[str, float] = {}
        self.timed_start = self.timed_wall = 0.0
        self.cpu_split: dict[str, float] = {}

    def setup_parts(self, **parts: float) -> None:
        self.setup.update({f"setup.{k}": v for k, v in parts.items()})

    @property
    def setup_s(self) -> float:
        return sum(self.setup.values())

    @contextmanager
    def timed(self):
        a = self.cpu.sample()
        self.timed_start = time.perf_counter()
        yield
        self.timed_wall = time.perf_counter() - self.timed_start
        self.cpu_split = CpuMeter.delta(a, self.cpu.sample())

    def instrument(self, table) -> None:
        """Wrap the table's write and maintenance calls on this instance,
        so calls made inside the engine (the streaming applier) are seen
        too. Results are kept in both modes: the integrity checks use them."""
        merge, compact, vacuum = table.merge, table.compact, table.vacuum
        span = self.tracer.span

        def traced_merge(*a, **kw):
            with span("lake.table.merge"):
                m = merge(*a, **kw)
            self.merges.append(m)
            if self.after_merge is not None:
                self.after_merge()
            return m

        def traced_compact(*a, **kw):
            with span("lake.table.compact"):
                c = compact(*a, **kw)
            self.compacts.append(c)
            return c

        def traced_vacuum(*a, **kw):
            with span("lake.table.vacuum"):
                v = vacuum(*a, **kw)
            self.vacuums.append(v)
            return v

        table.merge, table.compact, table.vacuum = traced_merge, traced_compact, traced_vacuum

    def check_state(self, actual, expected, what: str = "final table state") -> None:
        from bear_spark import oracle

        if self.corrupt_expected:
            expected = expected.iloc[1:]
        try:
            oracle.assert_states_equal(actual, expected, key_cols=self.key_cols)
            ok = True
        except AssertionError as e:
            ok = False
            what = f"{what} differs from the replay oracle: {str(e)[:200]}"
        self.res.check(ok, what)

    def op_metrics(self, op_s: list[float], cpu_per_op: float) -> None:
        self.res.e2e.update(
            {"op_s.p50": (median(op_s), "s"), "cpu_s_per_op": (cpu_per_op, "s")}
        )
        self.res.detail["ops_timed"] = (len(op_s), "count")

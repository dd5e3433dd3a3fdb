"""Measurement plumbing shared by the workloads: the pinned SparkSession,
process-tree CPU and RSS from ``/proc``, the op loop with its warm-up
rule, and the span recorder of the traced mode.

Nothing here imports the engine; ``workloads`` and ``layers`` do.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

MIN_SAMPLES = 3


def pin_environment(work: str) -> None:
    """Environment the JVM and its Python workers inherit. Must run before
    pyspark is imported: pyspark's gateway writes its connection file
    through ``tempfile``, which reads TMPDIR once."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    os.environ["PYTHONHASHSEED"] = "0"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    import tempfile

    tempfile.tempdir = None
    time.tzset()


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_conf(work: str) -> dict[str, str]:
    """The benchmark's own session settings: one local executor with a
    task thread per core, a fixed heap (min = max), no UI, fixed shuffle
    partitions and no adaptive re-planning, UTC, and every scratch path
    inside ``work``."""
    n = cores()
    tmp = os.path.join(work, "tmp")
    return {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(n),
        "spark.default.parallelism": str(n),
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.python.worker.reuse": "true",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def start_session(work: str):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in spark_conf(work).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM the gateway launched, and wait for it:
    the benchmark leaves no process behind."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# /proc: CPU seconds and RSS of this process and all its descendants
# (the JVM, the Python worker daemon and its workers)
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _tree_pids() -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        parent[int(d)] = int(st[st.rindex(")") + 2 :].split()[1])
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        tree += kids
        frontier += kids
    return tree


def tree_cpu_s() -> float:
    """User+sys seconds of the process tree, including reaped children."""
    total = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        f = st[st.rindex(")") + 2 :].split()
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def cpu_times() -> list[int]:
    """Machine-wide jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of machine CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def reset_peak_rss() -> None:
    """Reset every live tree process's peak RSS to its current RSS, so a
    later ``tree_peak_rss_mb`` covers only what ran after this call."""
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak RSS since
    the last ``reset_peak_rss``."""
    kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


# ---------------------------------------------------------------------------
# spans (traced mode)
# ---------------------------------------------------------------------------


@dataclass
class Tracer:
    """Spans recorded around calls into the engine's layers, kept in
    memory and written out once when the run ends. Each span has a name,
    start and end (``perf_counter`` seconds), its parent span and the op
    it belongs to."""

    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op_id: str = ""

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, ops: set[str]) -> list[float]:
        """Durations of the spans called ``name`` that belong to one of
        ``ops``."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["op"] in ops]

    def self_times(self) -> dict[str, float]:
        """Per span name, the summed span time not covered by child spans.
        Children of one parent run one after another, so their durations
        add without overlap."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)


class NoTracer:
    """The untraced run's stand-in: spans cost one no-op context."""

    op_id = ""

    def span(self, name: str):
        return contextlib.nullcontext()


# ---------------------------------------------------------------------------
# the op loop
# ---------------------------------------------------------------------------


@dataclass
class OpSample:
    op_id: str
    wall_s: float
    cpu_s: float
    traced: bool
    extra: dict


@dataclass
class Loop:
    samples: list[OpSample] = field(default_factory=list)
    warmup_ops: int = 0
    warmup_walls: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)


def quiesce(spark) -> None:
    """Untimed, between ops: collect garbage in this process and the JVM so
    no op pays for the previous op's garbage."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_loop(spark, op, seconds: float, warmup_ops: int, tracer=None,
             deadline_s: float = 120.0) -> Loop:
    """Closed loop, one client. ``op(tracer)`` runs the timed part of one
    op and returns its check, a call that returns ``(ok, extra)`` and runs
    after the op's wall and CPU time are read. The first ``warmup_ops``
    ops are discarded; the window opens at the next op and closes once it
    is ``seconds`` long and holds MIN_SAMPLES ops. With a ``tracer`` the
    ops alternate untraced and traced, for the tracing overhead."""
    loop = Loop()
    null = NoTracer()
    ops: list[tuple[float, OpSample | None]] = []  # (start, sample or None if failed)
    t_begin = time.perf_counter()
    i = 0
    while True:
        op_id = f"op{i}"
        traced = tracer is not None and i % 2 == 1
        tr = tracer if traced else null
        if traced:
            tracer.op_id = op_id
        quiesce(spark)
        loop.attempted += 1
        check, error = None, ""
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                check = op(tr)
        except Exception as e:  # an op that raises is a failed op, not a crash
            error = f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        ok, extra = False, {"error": error}
        if check is not None:
            try:
                ok, extra = check()
            except Exception as e:
                ok, extra = False, {"error": f"{type(e).__name__}: {e}"}
        if not ok:
            loop.failed += 1
            loop.errors.append(str(extra.get("error", "wrong result"))[:500])
            ops.append((t0, None))
        else:
            ops.append((t0, OpSample(op_id, wall, cpu, traced, extra)))
        i += 1
        window = ops[warmup_ops:]
        if len(window) >= MIN_SAMPLES and time.perf_counter() - window[0][0] >= seconds:
            break
        if time.perf_counter() - t_begin > deadline_s:
            break
    first_kept = min(warmup_ops, len(ops) - 1)
    loop.warmup_ops = first_kept
    loop.warmup_walls = [s.wall_s if s else float("nan") for _t, s in ops[:first_kept]]
    loop.samples = [s for _t, s in ops[first_kept:] if s is not None]
    return loop


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")

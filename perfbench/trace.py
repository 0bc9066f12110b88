"""Measurement helpers: spans, per-batch kernel timers, the Spark event
log, process RSS and CPU-window telemetry.

Everything here wraps the program's public functions from the outside;
nothing inside ``datamatcher_spark`` is changed. Spans are kept in memory
and written out once when the benchmark ends.
"""

from __future__ import annotations

import json
import logging
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

# Executor-side kernel timers append here. The variable is set before the
# JVM starts, so every Python worker it forks inherits it.
UDF_LOG_ENV = "PERFBENCH_UDF_LOG"


class Tracer:
    """In-memory spans: (name, parent, start, end) in epoch seconds."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: str | None = None) -> None:
        self.spans.append({"name": name, "parent": parent, "start": start, "end": end})

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        start = time.time()
        try:
            yield
        finally:
            self.add(name, start, time.time(), parent)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def last(self, name: str) -> dict:
        return [s for s in self.spans if s["name"] == name][-1]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


# -- executor-side kernel timers ----------------------------------------------

def record_udf(layer: str, seconds: float, rows: int) -> None:  # pragma: no cover - executor side
    d = os.environ.get(UDF_LOG_ENV)
    if not d:
        return
    with open(os.path.join(d, f"udf-{os.getpid()}.tsv"), "a") as f:
        f.write(f"{layer}\t{seconds:.9f}\t{rows}\n")


def read_udf_log(log_dir: Path) -> dict[str, tuple[float, int]]:
    """{layer: (busy seconds summed over batches, rows)}."""
    out: dict[str, list] = {}
    for p in log_dir.glob("udf-*.tsv"):
        for line in p.read_text().splitlines():
            layer, secs, rows = line.split("\t")
            acc = out.setdefault(layer, [0.0, 0])
            acc[0] += float(secs)
            acc[1] += int(rows)
    return {k: (v[0], v[1]) for k, v in out.items()}


def clear_udf_log(log_dir: Path) -> None:
    for p in log_dir.glob("udf-*.tsv"):
        p.unlink()


def _timed_pandas_udf(layer: str, inner):
    """A pandas UDF with ``inner``'s type that times each Arrow batch."""
    from pyspark.sql import functions as F

    fn = inner.func

    def timed(*cols):  # pragma: no cover - executor side
        t0 = time.perf_counter()
        out = fn(*cols)
        record_udf(layer, time.perf_counter() - t0, len(cols[0]))
        return out

    return F.pandas_udf(timed, inner.returnType, inner.evalType)


# -- wrapping the program's public functions ----------------------------------

class CensusLog(logging.Handler):
    """Captures the enrich operator's oversized-block census warnings."""

    def __init__(self) -> None:
        super().__init__(logging.WARNING)
        self.blocks = 0

    def emit(self, record: logging.LogRecord) -> None:
        if "oversized candidate block" in record.msg and record.args:
            self.blocks += int(record.args[1])


@contextmanager
def instrumented(tracer: Tracer, census: CensusLog):
    """Swap spans and kernel timers in around the layers' public
    functions for the duration of the block, then restore them."""
    from datamatcher_spark.functions import minhash, similarity
    from datamatcher_spark.operators import enrich
    from datamatcher_spark.plans import blocking, lineage, run, scoring

    def spanned(name, fn):
        def wrapper(*a, **kw):
            with tracer.span(name, "job"):
                return fn(*a, **kw)
        return wrapper

    def minhash_udf(*a, **kw):
        return _timed_pandas_udf("minhash", minhash.minhash_signature_udf(*a, **kw))

    patches = [
        (blocking, "minhash_signature_udf", minhash_udf),
        (scoring, "jaro_winkler_udf",
         _timed_pandas_udf("jw", similarity.jaro_winkler_udf)),
        (run, "connected_components",
         spanned("clustering.cc", run.connected_components)),
        (lineage.MetricsTable, "append",
         spanned("lineage.append", lineage.MetricsTable.append)),
        (enrich, "match_stats", spanned("enrich.match_stats", enrich.match_stats)),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
    logger = logging.getLogger(enrich.__name__)
    for obj, attr, new in patches:
        setattr(obj, attr, new)
    logger.addHandler(census)
    try:
        yield
    finally:
        logger.removeHandler(census)
        for obj, attr, old in saved:
            setattr(obj, attr, old)


# -- Spark event log ------------------------------------------------------------

def read_tasks(event_dir: Path) -> list[dict]:
    """Finished tasks from the event log: launch/finish (epoch s), run
    time, GC, spill and shuffle-write bytes."""
    tasks = []
    for p in event_dir.rglob("*"):  # rolling logs are a directory of files
        if not p.is_file():
            continue
        with open(p) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append({
                    "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                    "launch": info["Launch Time"] / 1000.0,
                    "finish": info["Finish Time"] / 1000.0,
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                })
    return tasks


def tasks_in(tasks: list[dict], span: dict) -> list[dict]:
    return [t for t in tasks if span["start"] <= t["launch"] <= span["end"]]


def engine_stats(tasks: list[dict]) -> dict:
    """GC, spill, task count, and the task skew (max ÷ median run time)
    of the Spark stage that ran longest in total."""
    by_stage: dict = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    skew = 0.0
    if by_stage:
        heaviest = max(by_stage.values(), key=sum)
        med = statistics.median(heaviest)
        skew = max(heaviest) / med if med > 0 else 1.0
    return {
        "gc_s": sum(t["gc_s"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "tasks": len(tasks),
        "task_skew": skew,
    }


def shuffle_bytes(tasks: list[dict]) -> int:
    return sum(t["shuffle_write"] for t in tasks)


# -- process memory ---------------------------------------------------------------

def _tree_rss_bytes(root: int) -> int:
    """RSS of every process below ``root`` (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    total, stack = 0, list(children.get(root, []))
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total


class RssSampler:
    """Peak RSS of this process's descendants, sampled every ``every`` s."""

    def __init__(self, every: float = 0.2) -> None:
        self.every = every
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.every)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

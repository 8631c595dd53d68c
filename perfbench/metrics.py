"""Metric code of the benchmark that needs no Spark: spans and self
time, pair recall/precision, the Spark event-log parser, and the
process-tree resident-memory sampler.

Everything here is plain Python so it can be tested on hand-made
inputs (perfbench/tests/test_metrics.py).
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    trace: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """In-memory span recorder for calls made from the benchmark into
    the program's layers. Spans nest by call order; a root span opens a
    new trace id. With ``enabled=False`` nothing is recorded and no
    hook runs, so untraced repetitions pay nothing.

    ``on_enter(name)`` / ``on_exit(name)`` let the caller tag the work
    done inside a span (the benchmark sets a Spark job group so the
    event log attributes stages to layers)."""

    def __init__(self, enabled: bool = True, on_enter=None, on_exit=None,
                 clock=time.perf_counter):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._traces = itertools.count(1)
        self._on_enter = on_enter
        self._on_exit = on_exit
        self._clock = clock

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans),
            name=name,
            trace=parent.trace if parent else next(self._traces),
            parent=parent.id if parent else None,
            start=self._clock(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if self._on_enter:
            self._on_enter(name)
        try:
            yield sp
        finally:
            sp.end = self._clock()
            self._stack.pop()
            if self._on_exit:
                self._on_exit(parent.name if parent else None)

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "trace": s.trace,
             "parent": s.parent, "start": s.start, "end": s.end}
            for s in self.spans
        ]


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> its duration minus the time its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(children.get(s.id, []))
        for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Summed self time per layer (the span name's first component)."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
    return out


# ---------------------------------------------------------------------------
# Clustering quality against ground-truth labels
# ---------------------------------------------------------------------------


def _pairs(groups) -> set[tuple[int, int]]:
    out: set[tuple[int, int]] = set()
    for g in groups:
        members = sorted(set(g))
        out.update(itertools.combinations(members, 2))
    return out


def pair_recall_precision(
    clusters: list[list[int]], labels: dict[int, int]
) -> tuple[float, float]:
    """Pair-counting quality of ``clusters`` (lists of doc ids, may
    overlap) against ``labels`` (doc id -> ground-truth group).

    recall = share of same-label doc pairs that share a cluster;
    precision = share of co-clustered pairs that share a label. An
    empty denominator scores 1.0 (nothing to find / nothing claimed).
    """
    by_label: dict[int, list[int]] = {}
    for doc, lab in labels.items():
        by_label.setdefault(lab, []).append(doc)
    truth = _pairs(by_label.values())
    pred = _pairs(clusters)
    hit = len(truth & pred)
    recall = hit / len(truth) if truth else 1.0
    precision = hit / len(pred) if pred else 1.0
    return recall, precision


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


SKEW_MIN_MS = 50


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # stage id -> executor run times (ms) of its successful tasks
    stage_run_ms: dict[int, list[int]] = field(default_factory=dict)

    @property
    def task_skew(self) -> float:
        """Largest per-stage max/median task run time among stages with
        at least two tasks and a slowest task of SKEW_MIN_MS or more
        (1.0 = perfectly even; 0.0 = no such stage). Stages whose tasks
        all finish within a few milliseconds are left out: their ratio
        is scheduling jitter, not data skew."""
        worst = 0.0
        for times in self.stage_run_ms.values():
            if len(times) < 2 or max(times) < SKEW_MIN_MS:
                continue
            med = statistics.median(times)
            worst = max(worst, max(times) / med if med > 0 else 1.0)
        return worst


def event_log_lines(log_dir: str):
    """Yield the JSON lines of every event log under ``log_dir``, in
    order: plain files and rolling ``eventlog_v2_*/events_*`` parts."""
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith(".crc")
    )
    for d in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(d, "events_*"))
        # events_<index>_<appid>: order parts by their numeric index
        paths.extend(sorted(parts, key=lambda p: int(
            os.path.basename(p).split("_")[1])))
    for p in paths:
        with open(p) as f:
            yield from f


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Aggregate task metrics per Spark job group.

    Stages are attributed to the group of the job that submitted them
    (``spark.jobGroup.id`` in the job's properties); jobs without a
    group land under ''. A task counts as failed when its end reason is
    not Success; failed tasks add no run time to the skew."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out.setdefault(group, GroupStats()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            g = out.setdefault(group, GroupStats())
            g.tasks += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason != "Success":
                g.tasks_failed += 1
                continue
            m = ev.get("Task Metrics") or {}
            g.shuffle_write_bytes += (
                (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
            )
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.stage_run_ms.setdefault(ev["Stage ID"], []).append(
                m.get("Executor Run Time", 0)
            )
    return out


# ---------------------------------------------------------------------------
# Resident memory of the process tree
# ---------------------------------------------------------------------------


def proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, peak resident KiB so far) for every readable
    process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as f:
                ppid = hwm = 0
                for line in f:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmHWM:"):
                        hwm = int(line.split()[1])
        except (OSError, ValueError, IndexError):
            continue
        table[int(entry)] = (ppid, hwm)
    return table


def tree_pids(root: int, table: dict[int, tuple[int, int]]) -> list[int]:
    """``root`` and all its descendants present in ``table``."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Background thread that records the peak resident memory of this
    process and each of its descendants (the JVM and its Python
    workers). ``peak_kib`` is the sum of the per-process peaks, read
    from the kernel's high-water mark, so a short spike between two
    samples is not missed."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self._peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_kib(self) -> int:
        return sum(self._peaks.values())

    def sample(self) -> None:
        table = proc_table()
        for pid in tree_pids(os.getpid(), table):
            self._peaks[pid] = max(self._peaks.get(pid, 0), table[pid][1])

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

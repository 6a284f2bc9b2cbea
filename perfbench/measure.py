"""Measuring helpers of the benchmark: pure functions over numbers,
spans and Spark stage records, plus /proc readers for process-tree RSS
and CPU. Nothing here imports Spark, so the arithmetic is testable on
its own (perfbench/tests)."""

from __future__ import annotations

import os
import statistics
import time

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# sample statistics
# ---------------------------------------------------------------------------

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile in TAIL_PERCENTILES that has at least ten
    samples beyond it, as (percentile, value); None when the sample
    count supports none of them. The value is the nearest-rank
    percentile of the sorted samples."""
    n = len(samples)
    ordered = sorted(samples)
    for p in TAIL_PERCENTILES:
        rank = -(-p * n // 100)  # ceil(p/100 * n), 1-based
        if rank >= 1 and n - rank >= 10:
            return p, ordered[int(rank) - 1]
    return None


def summarize(samples: list[float]) -> dict:
    """Median, tail percentile (see tail_percentile) and sample count."""
    out = {"n": len(samples), "median": statistics.median(samples)}
    tail = tail_percentile(samples)
    out["tail"] = None if tail is None else {"p": tail[0], "value": tail[1]}
    return out


def error_rate(verdicts: list[bool]) -> tuple[int, int, float]:
    """(attempted, failed, failed/attempted) over per-run verdicts, where
    True means the run finished and its output matched the oracle. A
    failed or wrong run counts in `failed`; none is dropped."""
    attempted = len(verdicts)
    failed = sum(1 for ok in verdicts if not ok)
    return attempted, failed, (failed / attempted if attempted else 1.0)


def compare_triples(rows: list[tuple], want: set[tuple], min_pr: float) -> dict:
    """Verdict of one run's triples output (`rows`, duplicates kept)
    against the oracle set. The run passes when it has no duplicate
    triples and triple precision and recall are >= min_pr. Exact
    differences are returned either way; `correct` counts the distinct
    output triples the oracle also has."""
    got = set(rows)
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    duplicates = len(rows) - len(got)
    return {
        "ok": duplicates == 0 and precision >= min_pr and recall >= min_pr,
        "precision": precision,
        "recall": recall,
        "exact": got == want,
        "correct": tp,
        "extra": len(got - want),
        "missing": len(want - got),
        "duplicates": duplicates,
    }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder: one span per public call into the
    program, with name, start, end, parent and run id. Spans are kept
    in a list and written out once, at the end of the benchmark."""

    def __init__(self, clock=time.monotonic):
        self.clock = clock
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, run_id: str):
        return _Span(self, name, run_id)


class _Span:
    def __init__(self, tracer: Tracer, name: str, run_id: str):
        self.tracer, self.name, self.run_id = tracer, name, run_id
        self.record: dict | None = None

    def __enter__(self) -> dict:
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        self.record = {
            "id": len(t.spans),
            "name": self.name,
            "run_id": self.run_id,
            "parent": parent,
            "start": t.clock(),
            "end": None,
        }
        t.spans.append(self.record)
        t._stack.append(self.record["id"])
        return self.record

    def __exit__(self, *exc) -> None:
        self.record["end"] = self.tracer.clock()
        self.tracer._stack.pop()


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_time(span: dict, spans: list[dict]) -> float:
    """The span's duration minus the part of its interval covered by
    its direct children (overlapping children are counted once)."""
    lo, hi = span["start"], span["end"]
    cuts = sorted(
        (max(c["start"], lo), min(c["end"], hi))
        for c in spans
        if c.get("parent") == span["id"] and c["end"] is not None
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in cuts:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


# ---------------------------------------------------------------------------
# Spark stage records → per-layer metrics
# ---------------------------------------------------------------------------


def new_stage_ids(before: set[int], after: set[int]) -> list[int]:
    """Stage ids submitted inside a call's window: those known after the
    call and not before it. A job group set on the calling thread does
    not reach the pipeline's stage threads, so attribution is by window,
    not by group."""
    return sorted(after - before)


def stage_window_metrics(stages: list[dict]) -> dict:
    """Sum the Spark metrics of the stages of one window. Each stage
    dict carries the status-store fields (times in ms / ns as Spark
    reports them) plus `task_p50_ms` / `task_max_ms` when Spark kept a
    task summary. Skew is max/p50 task time of the window's busiest
    stage (largest executor run time); 1.0 when no stage ran tasks."""
    keys = (
        "executor_run_ms",
        "executor_cpu_ns",
        "gc_ms",
        "shuffle_read_bytes",
        "shuffle_write_bytes",
        "spill_bytes",
        "output_bytes",
    )
    tot = {k: sum(s.get(k, 0) for s in stages) for k in keys}
    busy = [s for s in stages if s.get("task_p50_ms")]
    skew = 1.0
    if busy:
        top = max(busy, key=lambda s: s.get("executor_run_ms", 0))
        skew = top["task_max_ms"] / top["task_p50_ms"]
    return {
        "executor_cpu_s": tot["executor_cpu_ns"] / 1e9,
        "gc_s": tot["gc_ms"] / 1e3,
        "shuffle_read_bytes": tot["shuffle_read_bytes"],
        "shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spill_bytes": tot["spill_bytes"],
        "bytes_written": tot["output_bytes"],
        "task_skew": skew,
        "spark_stages": len(stages),
    }


# ---------------------------------------------------------------------------
# /proc readers
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, so that
    index 0 is `state` (field 3 of proc(5)); None if the process is
    gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def process_table() -> dict[int, dict]:
    """pid → {state, ppid, sid, rss_bytes, cpu_s, child_cpu_s, cmd} for
    every readable process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        f = _stat_fields(pid)
        if f is None:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            cmd = ""
        table[pid] = {
            "state": f[0],
            "ppid": int(f[1]),
            "sid": int(f[3]),
            "cpu_s": (int(f[11]) + int(f[12])) / CLK_TCK,
            "child_cpu_s": (int(f[13]) + int(f[14])) / CLK_TCK,
            "rss_bytes": int(f[21]) * PAGE_BYTES,
            "cmd": cmd,
        }
    return table


def descendants(table: dict[int, dict], root: int) -> set[int]:
    """root and every process below it in the parent tree."""
    children: dict[int, list[int]] = {}
    for pid, p in table.items():
        children.setdefault(p["ppid"], []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out & (set(table) | {root})


def is_python_worker(p: dict) -> bool:
    return "pyspark.daemon" in p["cmd"] or "pyspark.worker" in p["cmd"]


def python_worker_cpu_s(table: dict[int, dict], root: int) -> float:
    """CPU seconds of the Spark Python workers below `root`: each live
    worker's own time, plus the reaped-children time of each top-level
    daemon (workers that exited are charged to the daemon that forked
    them). Spark's executorCpuTime excludes all of it."""
    tree = descendants(table, root)
    total = 0.0
    for pid in tree:
        p = table.get(pid)
        if p is None or not is_python_worker(p):
            continue
        total += p["cpu_s"]
        parent = table.get(p["ppid"])
        if parent is None or not is_python_worker(parent):
            total += p["child_cpu_s"]
    return total


def tree_rss_bytes(table: dict[int, dict], pids: set[int]) -> int:
    """Summed RSS of `pids`. A child caught between vfork and exec (the
    JVM spawning a process) shares its parent's address space and reads
    the same cmdline and RSS; it is skipped so the JVM is not counted
    twice."""
    total = 0
    for p in pids:
        me = table.get(p)
        if me is None:
            continue
        parent = table.get(me["ppid"])
        if (
            parent is not None
            and parent["cmd"] == me["cmd"]
            and parent["rss_bytes"] == me["rss_bytes"]
        ):
            continue
        total += me["rss_bytes"]
    return total


def cpu_steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor since boot (the
    `steal` column of /proc/stat): time other tenants took from this
    machine's virtual CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK

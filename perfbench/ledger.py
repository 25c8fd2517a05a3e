"""Per-layer ledger measured from outside the program.

Three sources, all read by the benchmark, none by ``sparkocr``:

- ``ProcSampler`` polls ``/proc`` for the Spark JVM and its Python
  worker processes: combined RSS, JVM CPU and Python-worker CPU. The
  status store's ``executorCpuTime`` only covers JVM task threads, so
  the Python side is visible only here.
- ``spark_jobs`` reads Spark's live status store
  (``statusStore().jobsList`` and ``lastStageAttempt``), which works
  with the UI disabled.
- ``Tracer`` records one span per call into the program, tags the
  call's Spark jobs with ``setJobGroup``, and splits each call into
  layer windows. Jobs are attributed to the window their submission
  time falls in, so every job lands in exactly one layer.

Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

#: Layers, named after the sparkocr modules that implement them.
LAYERS = (
    "checkpoint",
    "dispatch",
    "assemble",
    "dedup.exact",
    "dedup.near",
    "textstats",
    "packing",
    "corpus_state",
    "lsh_store",
)

#: Per-layer fields: (name, unit, better).
FIELDS = (
    ("wall_s", "s", "lower"),
    ("task_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("tasks", "count", "lower"),
    ("jobs", "count", "lower"),
    ("driver_s", "s", "lower"),
    ("task_skew", "ratio", "lower"),
    ("jvm_cpu_s", "s", "lower"),
    ("py_cpu_s", "s", "lower"),
)

#: ``stage_sec`` lap names of ``build_corpus`` → layer.
LAP_LAYER = {
    "extract_assemble": "dispatch",
    "exact_dedup": "dedup.exact",
    "near_dedup": "dedup.near",
    "quality_filter": "textstats",
    "split_pack_write": "packing",
}

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, is python, own cpu ticks, reaped-children cpu ticks, rss
    bytes) of ``pid``, or None when it has exited."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    close = raw.rindex(b")")
    is_python = raw[raw.index(b"(") + 1:close].startswith(b"python")
    rest = raw[close + 2:].split()
    ppid = int(rest[1])
    own = int(rest[11]) + int(rest[12])
    children = int(rest[13]) + int(rest[14])
    return ppid, is_python, own, children, int(rest[21]) * _PAGE


@dataclass
class Sample:
    t: float  # epoch seconds
    rss_mb: float  # JVM + Python workers
    jvm_cpu_s: float
    py_cpu_s: float


class ProcSampler:
    """Background poller of the JVM process tree. Python workers are
    the JVM's descendants (``pyspark.daemon`` and its forks); a worker
    that exits hands its CPU time to its parent's reaped-children
    counter, so the Python total stays monotone."""

    def __init__(self, jvm_pid: int, period: float = 0.1):
        self.jvm_pid = jvm_pid
        self.period = period
        self.samples: list[Sample] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> Sample:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                s = _stat(int(name))
                if s is not None:
                    stats[int(name)] = s
        kids: dict[int, list[int]] = {}
        for pid, s in stats.items():
            kids.setdefault(s[0], []).append(pid)
        jvm = stats.get(self.jvm_pid)
        rss = jvm[4] if jvm else 0
        py = 0
        todo = list(kids.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            _, is_python, own, reaped, r = stats[pid]
            # only Python processes: a helper the JVM spawns shares the
            # JVM's memory until it execs, and would count it twice
            if is_python:
                py += own + reaped
                rss += r
            todo.extend(kids.get(pid, []))
        return Sample(
            time.time(), rss / 1e6, (jvm[2] if jvm else 0) / _TICK, py / _TICK,
        )

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append(self.sample())
            self._stop.wait(self.period)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def peak_rss_mb(self, t0: float, t1: float) -> float:
        inside = [s.rss_mb for s in self.samples if t0 <= s.t <= t1]
        return max(inside) if inside else self.sample().rss_mb

    def cpu_at(self, t: float) -> tuple[float, float]:
        """(jvm_cpu_s, py_cpu_s) counters at epoch ``t``, linearly
        interpolated between the two samples around it."""
        ss = self.samples
        if not ss:
            return 0.0, 0.0
        if t <= ss[0].t:
            return ss[0].jvm_cpu_s, ss[0].py_cpu_s
        for a, b in zip(ss, ss[1:]):
            if a.t <= t <= b.t:
                w = (t - a.t) / (b.t - a.t) if b.t > a.t else 0.0
                return (
                    a.jvm_cpu_s + w * (b.jvm_cpu_s - a.jvm_cpu_s),
                    a.py_cpu_s + w * (b.py_cpu_s - a.py_cpu_s),
                )
        return ss[-1].jvm_cpu_s, ss[-1].py_cpu_s


@dataclass
class Stage:
    stage_id: int
    run_s: float  # summed executor run time
    gc_s: float
    shuffle_write_mb: float
    spill_mb: float
    tasks: int
    skew: float  # max / median task run time


@dataclass
class Job:
    job_id: int
    name: str
    group: str | None
    submitted: float  # epoch seconds
    completed: float
    stages: list[Stage] = field(default_factory=list)


def _opt(o):
    return o.get() if o.isDefined() else None


def _skew(store, jvm, gateway, sid: int, attempt: int) -> float:
    qs = gateway.new_array(jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    summary = _opt(store.taskSummary(sid, attempt, qs))
    if summary is None:
        return 0.0
    runs = summary.executorRunTime()
    # run times are whole milliseconds; floor both at 1 ms so a stage
    # of sub-millisecond tasks reads 1, not 0/0
    return max(float(runs.apply(1)), 1.0) / max(float(runs.apply(0)), 1.0)


def _iter(seq):
    """Iterate a Scala collection through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def last_job_id(spark) -> int:
    """Highest job id the status store holds (-1 when none)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    return max((j.jobId() for j in _iter(store.jobsList(None))), default=-1)


def spark_jobs(spark, after_job_id: int, seen: set[int]) -> list[Job]:
    """Jobs with id > ``after_job_id``, each with its stages.
    A stage that several jobs list (a reused shuffle map stage) is
    counted once, under the first job that lists it (``seen`` holds the
    stage ids already counted); skipped stages ran no tasks and are
    left out."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    raw = sorted(
        (j for j in _iter(store.jobsList(None)) if j.jobId() > after_job_id),
        key=lambda j: j.jobId(),
    )
    jobs = []
    for j in raw:
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        job = Job(
            j.jobId(), j.name(), _opt(j.jobGroup()),
            sub.getTime() / 1e3 if sub else 0.0,
            done.getTime() / 1e3 if done else time.time(),
        )
        ids = [int(x) for x in j.stageIds().mkString(",").split(",") if x]
        for sid in sorted(ids):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted or never submitted
                continue
            if st.numCompleteTasks() == 0:
                continue
            job.stages.append(Stage(
                sid,
                st.executorRunTime() / 1e3,
                st.jvmGcTime() / 1e3,
                st.shuffleWriteBytes() / 1e6,
                st.memoryBytesSpilled() / 1e6,
                st.numCompleteTasks(),
                _skew(store, sc._jvm, sc._gateway, sid, st.attemptId()),
            ))
        jobs.append(job)
    return jobs


@dataclass
class Window:
    layer: str
    start: float
    end: float
    name: str  # the lap or phase the window came from


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans and job groups around the benchmark's calls into the
    program, and the per-layer ledger built from them. Use one tracer
    per traced job call (or probe)."""

    def __init__(self, spark, sampler: ProcSampler, cores: int):
        self.spark = spark
        self.sampler = sampler
        self.cores = cores
        self.spans: list[Span] = []
        self.windows: list[Window] = []
        self.jobs: list[Job] = []
        self.job_layer: dict[int, str] = {}
        self._last_job = last_job_id(spark)
        self._seen_stages: set[int] = set()

    def call(self, name: str, fn):
        """Run ``fn`` under job group ``name`` as one span; returns
        (span, fn's result)."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            out = fn()
        finally:
            t1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        span = Span(len(self.spans), None, name, t0, t1)
        self.spans.append(span)
        return span, out

    def collect_jobs(self) -> None:
        """Fetch the jobs completed since the last fetch."""
        new = spark_jobs(self.spark, self._last_job, self._seen_stages)
        if new:
            self._last_job = max(j.job_id for j in new)
        self.jobs += new

    def lap_windows(self, span: Span, stage_sec: dict) -> None:
        """Windows from the corpus job's ``stage_sec`` laps, laid end
        to end from the call's start; the last one stretches to the
        call's end so the windows cover the whole call."""
        t = span.start
        laps = list(stage_sec.items())
        for i, (lap, dur) in enumerate(laps):
            end = span.end if i == len(laps) - 1 else min(t + dur, span.end)
            self.windows.append(Window(LAP_LAYER.get(lap, "other"), t, end, lap))
            t = end

    def whole_window(self, span: Span, layer: str) -> None:
        self.windows.append(Window(layer, span.start, span.end, span.name))

    def traced_jobs(self) -> list[Job]:
        """Jobs of the traced calls: tagged with a call's job group, or
        submitted inside a call's span. Jobs of the output checks run
        between calls and carry no group, so they are left out."""
        calls = [s for s in self.spans if s.parent is None]
        groups = {s.name for s in calls}
        return [
            j for j in self.jobs
            if j.group in groups
            or any(s.start <= j.submitted <= s.end for s in calls)
        ]

    def finish(self) -> None:
        """Attribute every traced job to one window and add the window
        and job spans under their call spans."""
        self.collect_jobs()
        calls = [s for s in self.spans if s.parent is None]
        win_span = {}
        for i, w in enumerate(self.windows):
            parent = min(calls, key=lambda s: _gap(s.start, s.end, w.start))
            sp = Span(len(self.spans), parent.span_id, f"{w.layer}:{w.name}",
                      w.start, w.end)
            self.spans.append(sp)
            win_span[i] = sp.span_id
        for job in self.traced_jobs():
            i = self.window_index(job.submitted)
            self.job_layer[job.job_id] = self.windows[i].layer
            self.spans.append(Span(
                len(self.spans), win_span[i], f"job {job.job_id}: {job.name}",
                job.submitted, job.completed,
                {"group": job.group, "tasks": sum(s.tasks for s in job.stages),
                 "task_s": sum(s.run_s for s in job.stages)},
            ))

    def window_index(self, t: float) -> int:
        """The window holding epoch ``t``; at a boundary the later window
        (a job submitted as a window opens belongs to it), and a job
        submitted in a gap goes to the nearest window."""
        return min(
            range(len(self.windows)),
            key=lambda i: (
                _gap(self.windows[i].start, self.windows[i].end, t),
                -self.windows[i].start,
            ),
        )

    def layer_metrics(self) -> dict[str, dict[str, float]]:
        out = {}
        for layer in sorted({w.layer for w in self.windows}):
            wins = [w for w in self.windows if w.layer == layer]
            jobs = [j for j in self.jobs if self.job_layer.get(j.job_id) == layer]
            stages = [s for j in jobs for s in j.stages]
            wall = sum(w.end - w.start for w in wins)
            task = sum(s.run_s for s in stages)
            jvm = py = 0.0
            for w in wins:
                a, b = self.sampler.cpu_at(w.start), self.sampler.cpu_at(w.end)
                jvm += b[0] - a[0]
                py += b[1] - a[1]
            largest = max(stages, key=lambda s: s.run_s, default=None)
            out[layer] = {
                "wall_s": wall,
                "task_s": task,
                "gc_s": sum(s.gc_s for s in stages),
                "shuffle_mb": sum(s.shuffle_write_mb for s in stages),
                "spill_mb": sum(s.spill_mb for s in stages),
                "tasks": sum(s.tasks for s in stages),
                "jobs": len(jobs),
                "driver_s": wall - task / self.cores,
                "task_skew": largest.skew if largest else 0.0,
                "jvm_cpu_s": jvm,
                "py_cpu_s": py,
            }
        return out

    def to_json(self) -> dict:
        return {
            "spans": [vars(s) for s in self.spans],
            "job_layer": self.job_layer,
        }


def _gap(start: float, end: float, t: float) -> float:
    return 0.0 if start <= t <= end else min(abs(t - start), abs(t - end))


def median_of(dicts: list[dict]) -> dict:
    """Per-key median over a list of flat metric dicts."""
    keys = {k for d in dicts for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in dicts) for k in keys}

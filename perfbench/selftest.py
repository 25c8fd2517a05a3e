"""Self-tests of the benchmark on a tiny input (about two minutes):

    python3 perfbench/selftest.py

For each workload, one traced rep, then:
- every Spark job of the traced calls lands in exactly one known layer;
- the per-layer ``task_s`` sum equals the status store's total for
  those jobs, read again independently;
- the layer windows cover the job calls' wall time;
- the clean output passes the workload's checks and a corrupted copy
  fails them.
Also: every metric name matches ``[A-Za-z0-9_.-]+``, ``BENCHMARK.json``
lists exactly the workloads and metrics the benchmark emits, and the
state probe leaves both stores clean. Exits 1 on any failure.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench.run import (  # noqa: E402
    CORES, END_TO_END, ROOT, per_layer_units, start_session, stop_session,
)

TINY = (24, 10, 30, 5000, 8)
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


class Checks:
    def __init__(self):
        self.failed: list[str] = []
        self.passed = 0

    def expect(self, ok: bool, what: str) -> None:
        if ok:
            self.passed += 1
        else:
            self.failed.append(what)
            print(f"FAIL: {what}", file=sys.stderr)


def check_names(c: Checks) -> None:
    names = list(per_layer_units()) + list(END_TO_END)
    bad = [n for n in names if not NAME_RE.fullmatch(n)]
    c.expect(not bad, f"metric names outside [A-Za-z0-9_.-]+: {bad}")
    c.expect(len(names) == len(set(names)), "duplicate metric names")
    from perfbench.workloads import WORKLOADS

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    c.expect(
        {w["name"] for w in bench["workloads"]} <= set(WORKLOADS),
        "BENCHMARK.json names a workload run.py does not know",
    )
    c.expect(
        [m["name"] for m in bench["end_to_end"]] == list(END_TO_END),
        "BENCHMARK.json end_to_end differs from run.py's END_TO_END",
    )
    c.expect(
        {m["name"]: m["unit"] for m in bench["per_layer"]} == per_layer_units(),
        "BENCHMARK.json per_layer differs from run.py's per-layer metrics",
    )


def corrupt(out: Path, workload: str) -> None:
    """Delete one data file of the job's output."""
    sub = {"extract": "data", "corpus_build": "corpus"}[workload]
    victim = sorted(p for p in (out / sub).rglob("*.parquet"))[0]
    victim.unlink()


def check_workload(c: Checks, spark, sampler, name: str, table: str, n_rows: int,
                   work: Path) -> None:
    from perfbench.ledger import LAYERS, Tracer, last_job_id, spark_jobs
    from perfbench.workloads import WORKLOADS, state_probe

    wl = WORKLOADS[name](spark, table, n_rows, 3, shape=TINY)
    out = work / name
    before = last_job_id(spark)
    tracer = Tracer(spark, sampler, CORES)
    _, res = wl.rep(str(out), tracer.call, tracer)
    tracer.finish()

    traced = tracer.traced_jobs()
    groups = {s.name for s in tracer.spans if s.parent is None}
    tagged = [j for j in tracer.jobs if j.group in groups]
    c.expect(bool(traced), f"{name}: no traced jobs")
    c.expect(
        {j.job_id for j in tagged} <= {j.job_id for j in traced},
        f"{name}: a job tagged with a call's group was not traced",
    )
    c.expect(
        sorted(tracer.job_layer) == sorted(j.job_id for j in traced),
        f"{name}: traced jobs and attributed jobs differ",
    )
    c.expect(
        set(tracer.job_layer.values()) <= set(LAYERS),
        f"{name}: jobs attributed outside the known layers: "
        f"{set(tracer.job_layer.values()) - set(LAYERS)}",
    )
    if name == "extract":
        biggest = max(traced, key=lambda j: sum(s.run_s for s in j.stages))
        c.expect(
            tracer.job_layer[biggest.job_id] == "dispatch",
            f"extract: the MapInPandas write job {biggest.name!r} is not "
            "attributed to dispatch",
        )
    layers = tracer.layer_metrics()
    ids = {j.job_id for j in traced}
    total = sum(
        s.run_s for j in spark_jobs(spark, before, set()) if j.job_id in ids
        for s in j.stages
    )
    summed = sum(m["task_s"] for m in layers.values())
    c.expect(
        abs(summed - total) < 1e-6,
        f"{name}: per-layer task_s sum {summed} != status-store total {total}",
    )
    calls = sum(s.end - s.start for s in tracer.spans if s.parent is None)
    walls = sum(m["wall_s"] for m in layers.values())
    c.expect(
        abs(walls - calls) < 1e-3,
        f"{name}: layer windows {walls:.3f} s != call walls {calls:.3f} s",
    )
    bad, _ = wl.check(str(out), res)
    c.expect(not bad, f"{name}: clean output failed its checks: {bad}")
    if name == "corpus_build":
        probe = Tracer(spark, sampler, CORES)
        bad, counts = state_probe(spark, str(out), probe)
        probe.finish()
        c.expect(not bad, f"state probe failed: {bad}")
        c.expect(
            {"corpus_state", "lsh_store"} <= set(probe.layer_metrics()),
            "state probe did not measure both state layers",
        )
    corrupt(out, name)
    bad, _ = wl.check(str(out), res)
    c.expect(bool(bad), f"{name}: a corrupted output passed its checks")


def main() -> int:
    from perfbench.ledger import ProcSampler
    from perfbench.workloads import WORKLOADS, write_table

    c = Checks()
    check_names(c)
    work = ROOT / ".perfbench_work" / f"selftest-{os.getpid()}"
    spark = start_session(work, "perfbench-selftest")
    sampler = ProcSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()
    try:
        table = work / "table"
        n_rows = write_table(str(table), 3, TINY)
        for name in WORKLOADS:
            check_workload(c, spark, sampler, name, str(table), n_rows, work)
    finally:
        sampler.stop()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"selftest: {c.passed} passed, {len(c.failed)} failed")
    return 1 if c.failed else 0


if __name__ == "__main__":
    sys.exit(main())

"""sparkocr benchmark: one job at a time on a local[4] bench session.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 20 --trace 0

Run from the repository root. The input table is generated from
``--seed``; set-up (input generation, session start, one untimed
warm-up rep of the extract job on the input) is timed as
``setup_s``. Timed reps then run until ``--seconds`` have
passed (at least one rep), each on a fresh output directory, and each
output is checked. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, where the metrics
are the end-to-end metrics with ``--trace 0`` and the per-layer ledger
with ``--trace 1``. A traced run alternates untraced and traced reps;
the difference of their median walls is ``tracing.overhead_s``.
See perfbench/README.md for the workloads, layers and checks.

All files go under ``.perfbench_work/`` in the repository root; the
span tree of a traced run is kept in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

CORES = 4
DRIVER_MEM = "2g"
REP_TIMEOUT_S = 120  # a rep still running after this is cancelled
RUN_BUDGET_S = 165  # no rep starts unless it should end by then

END_TO_END = {
    "wall_s": "s", "turns_per_s": "turns/s", "setup_s": "s",
    "peak_rss_mb": "MB", "ok_share": "share",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.ledger import FIELDS, LAYERS
    from perfbench.probes import MODES

    units = {f"{layer}.{f}": u for layer in LAYERS for f, u, _ in FIELDS}
    units.update({f"dispatch.us_per_row.{m}": "us/row" for m in MODES})
    units.update({
        "repeats.us_per_row": "us/row",
        "dispatch.transfer_s": "s",
        "dispatch.sink_s": "s",
        "dedup.near.cluster_edges": "count",
        "corpus_state.rows_appended": "count",
        "lsh_store.rows_appended": "count",
        "tracing.overhead_s": "s",
    })
    return units


def start_session(work: Path, app: str):
    """The bench session, with every file Spark and Python write kept
    under ``work`` (warehouse, shuffle, JVM and Python temp dirs)."""
    for d in ("local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARKOCR_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", f"-Djava.io.tmpdir={work / 'tmp'}",
            "pyspark-shell",
        ]),
    )
    from sparkocr.session import bench_session

    spark = bench_session(app, CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def plain_call(name: str, fn):
    from perfbench.ledger import Span

    t0 = time.time()
    out = fn()
    return Span(0, None, name, t0, time.time()), out


class Bench:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.funnel: dict | None = None

    def setup(self):
        from perfbench.ledger import ProcSampler
        from perfbench.workloads import WORKLOADS, Extract, write_table

        t0 = time.monotonic()
        table = self.work / "table"
        n_rows = write_table(str(table), self.args.seed)
        self.spark = start_session(self.work, f"perfbench-{self.args.workload}")
        self.sampler = ProcSampler(self.spark.sparkContext._gateway.proc.pid)
        self.sampler.start()
        self.wl = WORKLOADS[self.args.workload](
            self.spark, str(table), n_rows, self.args.seed
        )
        # warm-up: one rep of the extract job on the input starts the
        # Python worker pool and JIT-compiles the scan, extract and
        # assemble paths. corpus_build warms up the same way: a warm-up
        # of build_corpus itself costs about 43 s on 4 cores even on a
        # tiny input (packing runs 576 tasks whatever the input size),
        # which the run's time budget cannot hold
        Extract(self.spark, str(table), n_rows, self.args.seed).rep(
            str(self.work / "warm_out"), plain_call
        )
        shutil.rmtree(self.work / "warm_out")
        self.setup_s = time.monotonic() - t0

    def rep(self, i: int, traced: bool) -> dict:
        """One timed job call plus its output checks."""
        from perfbench.ledger import Tracer

        out = self.work / f"rep{i}"
        tracer = Tracer(self.spark, self.sampler, CORES) if traced else None
        sc = self.spark.sparkContext
        watchdog = threading.Timer(REP_TIMEOUT_S, sc.cancelAllJobs)
        watchdog.start()
        t0 = time.time()
        rec = {"traced": traced, "start": t0}
        try:
            wall, res = self.wl.rep(
                str(out), tracer.call if traced else plain_call, tracer
            )
            rec["end"] = time.time()
            rec["wall"] = wall
            if tracer is not None:
                tracer.finish()
            bad, funnel = self.wl.check(str(out), res)
            if self.funnel is None:
                self.funnel = funnel
            elif funnel != self.funnel:
                bad.append(f"funnel changed: {funnel} != {self.funnel}")
            rec["res"] = res
            if traced and self.args.workload == "corpus_build":
                bad += self.state_probe(out, rec)
        except Exception as e:  # a failed rep is counted, the run goes on
            rec.setdefault("end", time.time())
            rec["wall"] = rec["end"] - t0
            bad = [f"{type(e).__name__}: {e}"]
        finally:
            watchdog.cancel()
        rec["peak_rss_mb"] = self.sampler.peak_rss_mb(t0, rec["end"])
        print(
            f"perfbench: rep {i}{' traced' if traced else ''} "
            f"wall {rec['wall']:.2f} s, peak RSS {rec['peak_rss_mb']:.0f} MB, "
            f"{'failed' if bad else 'ok'}",
            file=sys.stderr,
        )
        rec["tracer"] = tracer
        rec["rep_s"] = time.time() - t0  # with checks and probe
        self.attempted += 1
        if bad:
            self.failed += 1
            print(f"perfbench: rep {i} failed: {bad}", file=sys.stderr)
        shutil.rmtree(out, ignore_errors=True)
        return rec

    def state_probe(self, out: Path, rec: dict) -> list[str]:
        from perfbench.ledger import Tracer
        from perfbench.workloads import state_probe

        tracer = Tracer(self.spark, self.sampler, CORES)
        bad, counts = state_probe(self.spark, str(out), tracer)
        tracer.finish()
        rec["probe"] = (tracer, counts)
        return bad

    def timed(self) -> list[dict]:
        """Reps until ``--seconds`` have passed. A traced run alternates
        untraced and traced reps, untraced-traced-untraced when the run's
        time budget allows it."""
        trace = bool(self.args.trace)
        reps: list[dict] = []
        t0 = time.monotonic()
        while True:
            traced = trace and len(reps) % 2 == 1
            reps.append(self.rep(len(reps), traced))
            done = time.monotonic() - t0 >= self.args.seconds
            if trace:
                done = done and len(reps) >= 3
            longest = max(r["rep_s"] for r in reps) * 1.2
            if done or time.monotonic() - self.run_start + longest > RUN_BUDGET_S:
                return reps

    def end_to_end(self, reps: list[dict]) -> dict[str, float]:
        walls = [r["wall"] for r in reps]
        return {
            "wall_s": statistics.median(walls),
            "turns_per_s": statistics.median(self.wl.n_rows / w for w in walls),
            "setup_s": self.setup_s,
            "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in reps),
            "ok_share": (self.attempted - self.failed) / self.attempted,
        }

    def per_layer(self, reps: list[dict]) -> dict[str, float]:
        from perfbench.ledger import median_of
        from perfbench.probes import dispatch_probes

        metrics = dict.fromkeys(per_layer_units(), 0.0)
        traced = [r for r in reps if r["traced"] and r.get("res") is not None]
        plain = [r for r in reps if not r["traced"]]
        flat = []
        for r in traced:
            tr = r["tracer"]
            m = {f"{layer}.{k}": v
                 for layer, d in tr.layer_metrics().items() for k, v in d.items()}
            if "probe" in r:
                ptr, counts = r["probe"]
                m.update({f"{layer}.{k}": v
                          for layer, d in ptr.layer_metrics().items()
                          for k, v in d.items()})
                m.update(counts)
            if "cluster_edges" in r["res"]:
                m["dedup.near.cluster_edges"] = r["res"]["cluster_edges"]
            flat.append(m)
        metrics.update({k: v for k, v in median_of(flat).items() if k in metrics})
        if traced and plain:
            # the JVM keeps warming across reps, so the untraced reference
            # is the untraced reps run after the first traced one when
            # there are any; otherwise the overhead includes that drift
            after = [r for r in plain if r["start"] > traced[0]["start"]]
            metrics["tracing.overhead_s"] = (
                statistics.median(r["wall"] for r in traced)
                - statistics.median(r["wall"] for r in after or plain)
            )
        if self.args.workload == "extract":
            metrics.update(dispatch_probes(self.spark, self.wl.table, str(self.work)))
        return metrics

    def write_trace(self, reps: list[dict], metrics: dict) -> None:
        spans = []
        for r in reps:
            for tr in [r.get("tracer")] + [r.get("probe", (None,))[0]]:
                if tr is not None:
                    spans.append(tr.to_json())
        out = ROOT / ".perfbench_work" / "traces"
        out.mkdir(parents=True, exist_ok=True)
        name = f"{self.args.workload}-s{self.args.seed}-{os.getpid()}.json"
        with open(out / name, "w") as f:
            json.dump({"workload": self.args.workload, "seed": self.args.seed,
                       "metrics": metrics, "reps": spans}, f, indent=1)

    def run(self) -> dict:
        self.run_start = time.monotonic()
        self.setup()
        reps = self.timed()
        if self.args.trace:
            values = self.per_layer(reps)
            self.write_trace(reps, values)
            units = per_layer_units()
        else:
            values = self.end_to_end(reps)
            units = END_TO_END
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import sparkocr  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the sparkocr package is missing: {e}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        if getattr(bench, "sampler", None) is not None:
            bench.sampler.stop()
        if getattr(bench, "spark", None) is not None:
            stop_session(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

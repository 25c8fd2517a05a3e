"""Traced-run probes of the extraction layer.

- ``mode_us_per_row``: Spark-free ``extract_batch`` time per row on
  single-mode frames cut from the input table.
- ``repeats_us_per_row``: ``repeats.has_repeat`` per grounding payload.
- ``transfer_s``: an identity ``mapInPandas`` over the same scan into a
  noop sink — the Arrow round trip with no extraction.
- ``sink_s``: the parquet write minus a noop-sink write of the same
  extraction.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

MODES = (
    "grounding", "grounding_cli", "grounding_eval", "html", "pdfspans",
    "markdown", "plain",
)
#: Modes the input table does not hold run on grounding payloads.
_SOURCE_TOOL = {"grounding_cli": "grounding", "grounding_eval": "grounding"}
_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]


def _frames(table: str, rows: int):
    import pyarrow.dataset as ds

    pdf = ds.dataset(table, format="parquet").to_table(columns=_COLS).to_pandas()
    out = {}
    for mode in MODES:
        src = pdf[pdf.tool == _SOURCE_TOOL.get(mode, mode)].head(rows).copy()
        src["tool"] = mode
        out[mode] = src.reset_index(drop=True)
    return out


def mode_us_per_row(table: str, rows: int = 600, reps: int = 3) -> dict[str, float]:
    from sparkocr.extract.dispatch import extract_batch

    out = {}
    for mode, frame in _frames(table, rows).items():
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            extract_batch(frame, dedup_markdown=True)
            times.append(time.perf_counter() - t0)
        out[mode] = statistics.median(times) / len(frame) * 1e6
    return out


def repeats_us_per_row(table: str, rows: int = 600, reps: int = 3) -> float:
    from sparkocr.textproc import repeats

    texts = _frames(table, rows)["grounding"]["text"].tolist()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for t in texts:
            repeats.has_repeat(t, "pdf")
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / len(texts) * 1e6


def _timed(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def transfer_s(spark, table: str, reps: int = 2) -> float:
    src = spark.read.parquet(table).select(*_COLS)
    ident = src.mapInPandas(lambda batches: batches, src.schema)
    return _timed(
        lambda: ident.write.format("noop").mode("overwrite").save(), reps
    )


def sink_s(spark, table: str, work: str, reps: int = 1) -> float:
    from sparkocr.extract.dispatch import extract_turns

    turns = extract_turns(spark.read.parquet(table))
    out = os.path.join(work, "sink_probe")
    noop = _timed(lambda: turns.write.format("noop").mode("overwrite").save(), reps)
    parquet = _timed(lambda: turns.write.mode("overwrite").parquet(out), reps)
    shutil.rmtree(out, ignore_errors=True)
    return parquet - noop


def dispatch_probes(spark, table: str, work: str) -> dict[str, float]:
    out = {f"dispatch.us_per_row.{m}": v for m, v in mode_us_per_row(table).items()}
    out["repeats.us_per_row"] = repeats_us_per_row(table)
    out["dispatch.transfer_s"] = transfer_s(spark, table)
    out["dispatch.sink_s"] = sink_s(spark, table, work)
    return out

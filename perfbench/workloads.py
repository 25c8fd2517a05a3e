"""Workloads: inputs made from the seed, the timed calls into the
program, and the checks on their outputs.

Each workload's ``rep`` makes one complete job call through the
program's public functions. ``call(name, fn)`` runs one outside call
and returns ``(span, result)``; the benchmark passes a plain timer for
timed reps and ``Tracer.call`` for traced reps. ``check`` returns the
list of failed checks (empty when the output is correct) plus the
funnel counts, which must repeat exactly for a given seed.
"""

from __future__ import annotations

import glob
import json
import os
import random
from pathlib import Path

#: The input table: bench_lg-shaped (5-mode uniform mix, 128 files,
#: one skew conversation scattered across every file), scaled down so
#: that one warm-up plus timed reps fit the benchmark's time budget.
#: (n_convs, min_turns, max_turns, skew_turns, n_files)
TABLE = (600, 10, 90, 12_000, 128)
TABLE_PROFILE = "perfbench"

N_BUCKETS = 32  # extract_job's default --buckets
BUDGET = 2048  # corpus_job's default --budget

_TURN_COLS = (
    "conv_id", "turn_idx", "role", "tool", "clean_text", "markdown_text",
    "spans", "is_truncated", "has_repeat", "error", "n_chars_in",
    "n_chars_out",
)


def write_table(path: str, seed: int, shape: tuple = TABLE) -> int:
    """Generate the seeded input table of ``shape`` (a ``TABLE``-style
    tuple) as a directory of parquet files; returns its row count."""
    from sparkocr import datagen

    datagen.DIR_PROFILES[TABLE_PROFILE] = shape
    return datagen.write_transcripts_dir(path, TABLE_PROFILE, seed)


class Workload:
    def __init__(
        self, spark, table: str, n_rows: int, seed: int, shape: tuple = TABLE
    ):
        self.spark, self.table, self.n_rows, self.seed = spark, table, n_rows, seed
        self.n_convs = shape[0]
        self.skew_conv = f"conv_{shape[0]:06d}"  # datagen numbers it last


class Extract(Workload):
    """North-rule deployment job (``extract_job --docs``): resumable
    per-bucket extraction to parquet, then per-conversation docs."""

    name = "extract"

    def rep(self, out: str, call, tracer=None):
        from sparkocr.assemble import assemble_docs_cli
        from sparkocr.checkpoint import run_extract_job

        spark = self.spark
        s1, res = call(
            "checkpoint.run_extract_job",
            lambda: run_extract_job(spark, self.table, out, n_buckets=N_BUCKETS),
        )
        s2, _ = call(
            "assemble.assemble_docs_cli",
            lambda: assemble_docs_cli(
                spark.read.parquet(os.path.join(out, "data"))
            ).write.mode("overwrite").parquet(os.path.join(out, "docs")),
        )
        if tracer is not None:
            tracer.collect_jobs()
            extract_windows(tracer, s1)
            tracer.whole_window(s2, "assemble")
        return s2.end - s1.start, res

    def check(self, out: str, res: dict) -> tuple[list[str], dict]:
        from pyspark.sql import functions as F

        spark = self.spark
        bad = []
        turns = spark.read.parquet(os.path.join(out, "data"))
        docs = spark.read.parquet(os.path.join(out, "docs"))
        if res["rows_out"] != self.n_rows:
            bad.append(f"rows out {res['rows_out']} != rows in {self.n_rows}")
        agg = turns.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_distinct("conv_id", "turn_idx").alias("keys"),
            F.sum((~F.col("is_truncated")).cast("int")).alias("kept"),
        ).first()
        if agg["rows"] != self.n_rows:
            bad.append(f"written turns {agg['rows']} != rows in {self.n_rows}")
        if agg["keys"] != agg["rows"]:
            bad.append(f"(conv_id, turn_idx) not unique: {agg['keys']} keys")
        # one doc per conversation with a kept turn, n_turns = kept turns
        want = (
            turns.filter(~F.col("is_truncated"))
            .groupBy("conv_id").agg(F.count(F.lit(1)).alias("want"))
        )
        d = docs.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_docs"), F.first("n_turns").alias("n_turns")
        )
        wrong = (
            want.join(d, "conv_id", "full")
            .filter(
                F.col("want").isNull() | F.col("n_docs").isNull()
                | (F.col("n_docs") != 1) | (F.col("n_turns") != F.col("want"))
            )
            .count()
        )
        if wrong:
            bad.append(f"{wrong} conversations without exactly one correct doc")
        manifests = sum(
            json.loads(Path(p).read_text())["rows_out"]
            for p in glob.glob(os.path.join(out, "_manifests", "bucket=*.json"))
        )
        if manifests != self.n_rows:
            bad.append(f"manifest rows_out sum {manifests} != {self.n_rows}")
        bad += self._sample_matches(turns)
        n_docs = docs.count()
        return bad, {"rows_out": res["rows_out"], "kept_turns": agg["kept"],
                     "docs": n_docs, "buckets": len(res["processed"])}

    def _sample_matches(self, turns) -> list[str]:
        """Every output column equals Spark-free ``extract_batch`` on a
        seeded sample: 16 whole conversations plus every 50th turn of
        the skew conversation."""
        import pyarrow.dataset as ds
        from pyspark.sql import functions as F

        from sparkocr.extract.dispatch import extract_batch

        rng = random.Random(self.seed)
        convs = [f"conv_{c:06d}" for c in rng.sample(range(self.n_convs), 16)]
        skew, phase = self.skew_conv, rng.randrange(50)
        src = ds.dataset(self.table, format="parquet").to_table(
            filter=ds.field("conv_id").isin(convs + [skew])
        ).to_pandas()
        src = src[(src.conv_id != skew) | (src.turn_idx % 50 == phase)]
        want = {
            (r["conv_id"], r["turn_idx"]): r
            for r in extract_batch(src).to_dict("records")
        }
        got = (
            turns.filter(
                F.col("conv_id").isin(convs)
                | ((F.col("conv_id") == skew) & (F.col("turn_idx") % 50 == phase))
            )
            .select(*_TURN_COLS).collect()
        )
        bad = []
        if len(got) != len(want):
            bad.append(f"sample: {len(got)} output rows, {len(want)} expected")
        for row in got:
            exp = want.get((row["conv_id"], row["turn_idx"]))
            if exp is None:
                bad.append(f"sample: unexpected row {row['conv_id']}/{row['turn_idx']}")
                continue
            for col in _TURN_COLS:
                if _norm(row[col]) != _norm(exp[col]):
                    bad.append(
                        f"sample: {col} differs at {row['conv_id']}/{row['turn_idx']}"
                    )
        return bad[:10]


def _norm(v):
    """Spark rows and pandas records as comparable plain values; a span
    becomes the tuple of its ``schema.SPAN`` fields."""
    import pandas as pd

    from sparkocr.schema import SPAN

    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if isinstance(v, dict):
        return tuple(_norm(v.get(k)) for k in SPAN.fieldNames())
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return None if v is None or pd.isna(v) else v


def extract_windows(tracer, span) -> None:
    """Split ``run_extract_job``'s span into layer windows by the jobs'
    recorded call sites. The job runs the fingerprint ``collect``
    (call site in checkpoint.py), then the parquet write of the
    MapInPandas stage (no Python call site), then the count re-read
    ``collect`` (checkpoint.py again). The write window, from the first
    job after the fingerprint without a checkpoint.py call site up to
    the re-read, is ``dispatch``; the rest of the call is
    ``checkpoint``."""
    from perfbench.ledger import Window

    jobs = sorted(
        (j for j in tracer.jobs if span.start <= j.submitted <= span.end),
        key=lambda j: j.job_id,
    )
    ours = [j for j in jobs if "checkpoint.py:" in j.name]
    write = next(
        (j for j in jobs if ours and j.job_id > ours[0].job_id and j not in ours),
        None,
    )
    if write is None:
        tracer.whole_window(span, "checkpoint")
        return
    reread = next((j for j in ours if j.job_id > write.job_id), None)
    t1 = write.submitted
    t2 = reread.submitted if reread else span.end
    tracer.windows += [
        Window("checkpoint", span.start, t1, "fingerprint"),
        Window("dispatch", t1, t2, "extract_write"),
        Window("checkpoint", t2, span.end, "reread_manifests"),
    ]


class CorpusBuild(Workload):
    """The composed product: ``corpus_job.build_corpus`` (no store)."""

    name = "corpus_build"

    def rep(self, out: str, call, tracer=None):
        from sparkocr.jobs.corpus_job import build_corpus

        span, counts = call(
            "corpus_job.build_corpus",
            lambda: build_corpus(self.spark, self.table, out, budget=BUDGET),
        )
        if tracer is not None:
            tracer.collect_jobs()
            tracer.lap_windows(span, counts["stage_sec"])
        return span.end - span.start, counts

    def check(self, out: str, counts: dict) -> tuple[list[str], dict]:
        from pyspark.sql import functions as F

        from sparkocr.pipeline import caching

        bad = []
        funnel = [
            counts["assembled_docs"], counts["after_exact_dedup"],
            counts["after_near_dedup"], counts["after_quality_filter"],
            counts["packed_docs"],
        ]
        if funnel != sorted(funnel, reverse=True) or not funnel[-1]:
            bad.append(f"funnel not monotone or empty: {funnel}")
        if counts["packed_docs"] != counts["after_quality_filter"]:
            bad.append("packed_docs != after_quality_filter")
        corpus = self.spark.read.parquet(os.path.join(out, "corpus"))
        packs = corpus.groupBy("pack_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("tok")
        )
        agg = packs.agg(
            F.sum("n").alias("rows"),
            F.count(F.lit(1)).alias("packs"),
            F.sum(((F.col("tok") > BUDGET) & (F.col("n") > 1)).cast("int")).alias(
                "over"
            ),
        ).first()
        if agg["rows"] != counts["packed_docs"]:
            bad.append(f"corpus rows {agg['rows']} != packed_docs {counts['packed_docs']}")
        if agg["packs"] != counts["packs"]:
            bad.append(f"corpus packs {agg['packs']} != packs {counts['packs']}")
        if agg["over"]:
            bad.append(f"{agg['over']} multi-doc packs exceed the {BUDGET}-token budget")
        if caching.live_count() != 0:
            bad.append(f"{caching.live_count()} operator caches left live")
        keys = ("assembled_docs", "after_exact_dedup", "after_near_dedup",
                "after_quality_filter", "packed_docs", "packs", "cluster_edges")
        return bad, {k: counts[k] for k in keys}


def state_probe(spark, corpus_dir: str, tracer) -> tuple[list[str], dict]:
    """Traced-run probe of the two state layers on a built corpus: build
    the content state and LSH store from ~95% of its docs, then admit
    the other ~5% as one increment (novelty anti-joins, then both
    appends) and audit both stores."""
    from pyspark.sql import functions as F

    from sparkocr.pipeline import corpus_state, lsh_store

    docs = spark.read.parquet(os.path.join(corpus_dir, "corpus")).select("doc_id", "text")
    day_flag = F.pmod(F.xxhash64("doc_id"), F.lit(20)) == 0
    base, day = docs.filter(~day_flag), docs.filter(day_flag)
    store = "perfbench_state"

    def layer(name, layer_name, fn):
        span, out = tracer.call(name, fn)
        tracer.whole_window(span, layer_name)
        return out

    layer("lsh_store.build_lsh_store", "lsh_store",
          lambda: lsh_store.build_lsh_store(base, store, hash_kind="rolling"))
    layer("corpus_state.build_content_state", "corpus_state",
          lambda: corpus_state.build_content_state(base, store))
    novel = layer("corpus_state.filter_novel", "corpus_state",
                  lambda: corpus_state.filter_novel(day, store).count())
    lsh = layer("lsh_store.append_lsh_store", "lsh_store",
                lambda: lsh_store.append_lsh_store(day, store, "day1"))
    st = layer("corpus_state.append_content_state", "corpus_state",
               lambda: corpus_state.append_content_state(day, store, "day1", 1))
    bad = []
    n_day = day.count()
    if not (novel == lsh["rows"] == st["rows"] == n_day):
        bad.append(f"state probe: novel {novel}, lsh {lsh['rows']}, "
                   f"state {st['rows']}, day docs {n_day}")
    cs = corpus_state.check_content_state(spark, store)
    ls = lsh_store.check_lsh_store(spark, store)
    for k, v in list(cs.items()) + [(k, v) for k, v in ls.items() if k != "docs"]:
        if v:
            bad.append(f"state probe: {k} = {v}")
    return bad, {"corpus_state.rows_appended": st["rows"],
                 "lsh_store.rows_appended": lsh["rows"]}


WORKLOADS = {w.name: w for w in (Extract, CorpusBuild)}


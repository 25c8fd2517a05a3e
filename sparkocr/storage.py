"""Bucketed table storage — shuffle-free per-conversation operations — and
the exactly-once discipline of the catalog-table stores built on it.

The Iceberg design (north rule) buckets the transcript table by
``bucket(conv_id, N)``. Without the Iceberg jar, Spark's native bucketed
tables (``bucketBy`` + ``sortBy`` + ``saveAsTable``) provide the same
property through the session catalog: a table hash-bucketed on ``conv_id``
lets every downstream ``groupBy("conv_id")`` aggregation — doc assembly —
and every conv_id equi-join read co-located data with NO Exchange in the
plan (asserted in tests/test_plans.py). At 10^12 turns that removes the
single biggest shuffle in the pipeline: assembly moves zero bytes between
executors.

Requires ``spark.sql.sources.bucketing.enabled`` (default true) and a
session catalog (in-memory or Hive); the plain-parquet path with the
checkpoint module's bucket column stays the fallback for catalogless runs.

The persisted dedup stores (``lsh_store``, ``corpus_state``) keep their
data in such tables (``save_bucketed``, bucketed on each table's join
key) under one exactly-once discipline, defined here:

- every data row carries an ``append_id`` stamp: ``'base'`` for the
  build, a fresh per-ATTEMPT token (``new_attempt``) for an append, so a
  retry of a crashed append never commits the dead attempt's rows;
- the commit log (one row per committed append: ``append_id``,
  ``attempt``, ``rows``, store-specific columns) is written LAST
  (``write_row``). Readers see only committed attempts
  (``committed_rows``); a death mid-append leaves invisible orphans
  (``orphan_rows``; a rebuild purges them), and a committed id retried
  is a skipped no-op (``find_commit``);
- the all-int meta row is dropped first and written last by a build, so
  every reader refuses a half-built store (``read_meta``); a store
  without a commit log (pre-discipline or damaged) is refused with the
  same guided rebuild error (``read_commits``);
- ``check_append_id`` validates append ids: they name files and
  directories in ``ann_index``, and ``'base'`` is reserved for builds.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, Row, SparkSession, functions as F

_APPEND_ID_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")


def save_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    mode: str,
    sort_by: tuple[str, ...] = (),
) -> None:
    """Write ``df`` as a parquet table hash-bucketed on ``key`` and sorted
    by ``(key, *sort_by)`` within each bucket.

    The pre-write repartition matters: native bucketing writes one file
    per (task, bucket) pair, so an unrepartitioned input with T tasks
    emits up to T×n_buckets small files; repartitioning on ``key`` uses
    the same murmur3-mod assignment as the bucket spec, giving each task
    exactly one bucket → one file per bucket."""
    (
        df.repartition(n_buckets, key)
        .write.mode(mode)
        .bucketBy(n_buckets, key)
        .sortBy(key, *sort_by)
        .format("parquet")
        .saveAsTable(table)
    )


def save_turns_bucketed(
    turns: DataFrame,
    table: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist per-turn output hash-bucketed and sorted by
    (conv_id, turn_idx): bucket pruning for point lookups, shuffle-free
    grouping for assembly, and in-bucket sort order that matches the
    stable output ordering the golden surface requires."""
    save_bucketed(turns, table, "conv_id", n_buckets, mode, ("turn_idx",))


def read_turns_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def read_meta(spark: SparkSession, table: str, builder: str) -> dict:
    """A store's meta row as ints, or a loud error for a half-built store
    (meta is written last, so a missing — or registered-but-EMPTY — meta
    table means a build died mid-way)."""
    try:
        row = spark.table(table).first()
    except Exception as e:
        row = None
        err = e
    else:
        err = None
    if row is None:
        raise ValueError(
            f"no complete store behind {table!r}: its meta table is "
            "missing, unreadable, or empty — the build failed mid-way or "
            f"the name is wrong; rebuild with {builder}"
        ) from err
    return {k: int(v) for k, v in row.asDict().items()}


def read_commits(spark: SparkSession, table: str, builder: str) -> list[Row]:
    """The commit log's rows — one tiny driver-side read, bounded by the
    number of appends ever run. A missing log gets the guided rebuild
    error; the existence check is explicit, so a transient read failure
    (metastore hiccup, permission, concurrent DDL) propagates as itself
    instead of being misdiagnosed as a damaged store."""
    if not spark.catalog.tableExists(table):
        raise ValueError(
            f"store commit log {table!r} is missing — the store predates "
            f"the commit discipline or is damaged; rebuild with {builder}"
        )
    return spark.table(table).collect()


def write_row(
    spark: SparkSession, table: str, columns: list[str], values: tuple,
    mode: str,
) -> None:
    """Write one row as a single-file table: a commit row (appended, the
    LAST write of an append) or a meta row (overwritten, the LAST write
    of a build)."""
    spark.createDataFrame([values], columns).coalesce(1).write.mode(
        mode
    ).saveAsTable(table)


def committed_rows(spark: SparkSession, table: str, commits: list[Row]) -> DataFrame:
    """The COMMITTED view of a store table: rows whose attempt stamp has
    a commit row, with the stamp column dropped so downstream plans are
    unchanged. The isin filter sits on the scan (no Exchange added;
    bucketing survives a Filter)."""
    return (
        spark.table(table)
        .filter(F.col("append_id").isin([r.attempt for r in commits]))
        .drop("append_id")
    )


def orphan_rows(spark: SparkSession, tables: list[str], commits: list[Row]) -> int:
    """Total UNcommitted rows across ``tables`` — debris of crashed
    append attempts, invisible to every reader until a rebuild purges
    it."""
    attempts = [r.attempt for r in commits]
    return sum(
        spark.table(t).filter(~F.col("append_id").isin(attempts)).count()
        for t in tables
    )


def find_commit(commits: list[Row], append_id: str) -> Row | None:
    """The commit row of ``append_id``, or None if it never committed —
    the "has this append already fully run?" check."""
    return next((r for r in commits if r.append_id == append_id), None)


def check_append_id(append_id: str) -> None:
    if not _APPEND_ID_RE.match(append_id or "") or append_id == "base":
        raise ValueError(
            f"append_id {append_id!r} must match {_APPEND_ID_RE.pattern} "
            "and not be the reserved 'base'"
        )


def new_attempt(append_id: str) -> str:
    """A fresh per-attempt stamp for ``append_id``'s rows."""
    return f"{append_id}-{uuid.uuid4().hex[:12]}"

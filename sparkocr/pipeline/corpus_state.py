"""Persisted exact-dedup content state for incremental corpus builds.

At 10^12-turn scale the corpus job cannot re-read the whole corpus to
admit a daily increment: the increment must discover "have I seen this
exact text / this conversation before?" by joining its OWN (small) side
against persisted state, never by shuffling anything corpus-sized. This
module is the exact-dup companion of ``lsh_store`` (which answers the
NEAR-dup version of the same question): a pair of bucketed tables
holding one row per exact-distinct document ever admitted to the
pipeline, with the same exactly-once append discipline.

Tables (warehouse-managed, like ``lsh_store``'s):

- ``{store}_content_byhash`` — ``(content_hash, doc_id, append_id)``
  bucketed by ``content_hash``: serves the "seen this text?" anti-join.
- ``{store}_content_byid`` — ``(doc_id, content_hash, append_id)``
  bucketed by ``doc_id``: serves the "seen this conversation?"
  anti-join (a re-crawl carries the same conv-derived doc_id with
  possibly different text). Two projections of the same tiny relation
  (~3 columns/doc) so BOTH anti-joins are Exchange-free on the state
  side — one table can only be bucketed on one key.
- ``{store}_content_commits`` — ``(append_id, attempt, rows,
  ordinal)``: the commit log. Rows in the data tables are stamped with
  a per-ATTEMPT token; only attempts recorded here are visible (a death
  mid-append leaves invisible orphans, a retry lands exactly once, a
  committed retry is a skipped no-op). ``ordinal`` numbers increments
  1, 2, ... (base build = 0) and drives per-increment pack-id
  namespacing.
- ``{store}_content_meta`` — ``(n_buckets, content_v)``, written LAST:
  a build that dies mid-way leaves a state every reader refuses.

The content hash is ``dedup._dedup_key()`` — the SAME definition
``exact_dedup`` groups on, so state membership and within-batch exact
dedup can never disagree on what "identical" means.

Concurrency contract: increments are sequential (one at a time);
retries of a crashed increment are safe. Two increments racing the
same store could interleave ordinals — unsupported, like concurrent
``append_lsh_store`` calls.

The exactly-once discipline itself (stamps, commit log, meta, committed
view) is ``storage.py``'s, shared with ``lsh_store``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkocr import storage
from sparkocr.pipeline import caching
from sparkocr.pipeline.dedup import _dedup_key

#: Version of the content-hash definition (dedup._dedup_key). Bump if
#: the hash definition changes: state built under another version must
#: be rebuilt, not silently probed with incompatible hashes.
CONTENT_V = 1


def _byhash_table(store: str) -> str:
    return f"{store}_content_byhash"


def _byid_table(store: str) -> str:
    return f"{store}_content_byid"


def _commits_table(store: str) -> str:
    return f"{store}_content_commits"


def _meta_table(store: str) -> str:
    return f"{store}_content_meta"


_COMMIT_COLS = ["append_id", "attempt", "rows", "ordinal"]


def read_content_meta(spark: SparkSession, store: str) -> dict:
    """State parameters, or a loud error for a half-built state (meta is
    written last) or one built under another content-hash version."""
    m = storage.read_meta(spark, _meta_table(store), "build_content_state")
    if m["content_v"] != CONTENT_V:
        raise ValueError(
            f"content state {store!r} was built under hash version "
            f"{m['content_v']} (current {CONTENT_V}) — rebuild with "
            "build_content_state"
        )
    return m


def _commits(spark: SparkSession, store: str) -> list:
    return storage.read_commits(
        spark, _commits_table(store), "build_content_state"
    )


def _stamped(docs: DataFrame, stamp: str) -> DataFrame:
    """The state's 3-column rows for ``docs``, stamped ``stamp``."""
    return docs.select(
        _dedup_key().alias("content_hash"), "doc_id", F.lit(stamp).alias("append_id")
    )


def build_content_state(docs: DataFrame, store: str, n_buckets: int = 64) -> None:
    """Build (or rebuild) the state from a full corpus build's
    exact-distinct docs. Meta is dropped first and written last; base
    rows commit as append_id='base' with ordinal 0 (a rebuild resets the
    commit log, so markers from a previous state never resurrect orphan
    rows)."""
    spark = docs.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {_meta_table(store)}")
    storage.save_bucketed(
        _stamped(docs, "base"), _byhash_table(store), "content_hash",
        n_buckets, "overwrite",
    )
    # derive the byid projection from reading byhash back (the text is
    # hashed once; this reads the 3-column relation, not the corpus)
    storage.save_bucketed(
        spark.table(_byhash_table(store)).select(
            "doc_id", "content_hash", "append_id"
        ),
        _byid_table(store), "doc_id", n_buckets, "overwrite",
    )
    n_base = spark.table(_byhash_table(store)).count()
    storage.write_row(
        spark, _commits_table(store), _COMMIT_COLS, ("base", "base", n_base, 0),
        "overwrite",
    )
    storage.write_row(
        spark, _meta_table(store), ["n_buckets", "content_v"],
        (n_buckets, CONTENT_V), "overwrite",
    )


def committed_ordinal(spark: SparkSession, store: str, append_id: str):
    """The committed ordinal for ``append_id``, or None if uncommitted —
    the "has this increment already fully run?" check."""
    read_content_meta(spark, store)
    done = storage.find_commit(_commits(spark, store), append_id)
    return None if done is None else int(done.ordinal)


def next_ordinal(spark: SparkSession, store: str) -> int:
    """The ordinal the NEXT increment will commit under (1 + max
    committed). Deterministic across a crashed increment's retries as
    long as increments are sequential (see module contract)."""
    return 1 + max(int(r.ordinal) for r in _commits(spark, store))


def filter_novel(
    docs: DataFrame, store: str, stats: dict | None = None
) -> DataFrame:
    """Docs not yet in the state: drop rows whose content hash is
    already committed (exact re-fetch under any conv key), then rows
    whose doc_id is already committed (a re-crawled conversation whose
    text changed — the corpus keeps the originally admitted version;
    note a 64-bit doc_id COLLISION between different conversations is
    indistinguishable here and is also dropped — astronomically
    unlikely below ~10^8 docs, the same bound ``corpus_job``'s
    injectivity check documents).

    Both anti-joins are Exchange-free on the state side (bucketed on the
    join key); only the increment side shuffles.

    ``stats``: when given, an ``Observation`` is planted between the two
    anti-joins under key ``"after_byhash_obs"`` — after the caller's
    first action over the result it reports how many docs survived the
    content-hash filter, so (that value - novel count) = docs dropped
    by the byid join with CONTENT THE STATE HAS NEVER SEEN. That
    difference is the observable signal for the module's batch-boundary
    contract: a conversation whose turns straddled two
    batches/increments (or whose text changed between crawls) shows up
    here instead of vanishing silently. Zero-cost: the count rides the
    caller's existing action, no extra job."""
    spark = docs.sparkSession
    read_content_meta(spark, store)
    commits = _commits(spark, store)
    byhash = storage.committed_rows(spark, _byhash_table(store), commits)
    byid = storage.committed_rows(spark, _byid_table(store), commits)
    mid = (
        docs.withColumn("content_hash", _dedup_key())
        .join(byhash.select("content_hash"), "content_hash", "left_anti")
        .drop("content_hash")
    )
    if stats is not None:
        from pyspark.sql import Observation

        obs = Observation()
        mid = mid.observe(obs, F.count(F.lit(1)).alias("n"))
        stats["after_byhash_obs"] = obs
    return mid.join(byid.select("doc_id"), "doc_id", "left_anti")


def _write_commit(
    spark: SparkSession, store: str, append_id: str, attempt: str,
    n_rows: int, ordinal: int,
) -> None:
    """The commit row — appended LAST, in its own function so tests can
    simulate a death in the commit window."""
    storage.write_row(
        spark, _commits_table(store), _COMMIT_COLS,
        (append_id, attempt, n_rows, ordinal), "append",
    )


def append_content_state(
    docs: DataFrame, store: str, append_id: str, ordinal: int
) -> dict:
    """Append an increment's exact-distinct docs to the state,
    exactly-once per ``append_id``: rows stamped per-attempt, commit row
    (with the increment's ordinal) lands last, committed retry is a
    skipped no-op. ``append_id`` must pass ``storage.check_append_id``
    (``'base'`` is the build's reserved id). Returns ``{"append_id",
    "rows", "ordinal", "skipped"}``."""
    storage.check_append_id(append_id)
    spark = docs.sparkSession
    m = read_content_meta(spark, store)
    done = storage.find_commit(_commits(spark, store), append_id)
    if done is not None:
        return {
            "append_id": append_id, "rows": int(done.rows),
            "ordinal": int(done.ordinal), "skipped": True,
        }
    attempt = storage.new_attempt(append_id)
    # hash once, cache the tiny 3-column increment relation, and feed
    # BOTH projections (and the count) from the cache — re-reading the
    # state table filtered by attempt would scan state-sized data per
    # append. Scoped here: every consuming action happens inside.
    with caching.scope():
        rows = caching.register(_stamped(docs, attempt))
        storage.save_bucketed(
            rows, _byhash_table(store), "content_hash", m["n_buckets"], "append"
        )
        storage.save_bucketed(
            rows.select("doc_id", "content_hash", "append_id"),
            _byid_table(store), "doc_id", m["n_buckets"], "append",
        )
        n = rows.count()
    _write_commit(spark, store, append_id, attempt, n, ordinal)
    return {
        "append_id": append_id, "rows": n, "ordinal": ordinal,
        "skipped": False,
    }


def check_content_state(spark: SparkSession, store: str) -> dict:
    """Consistency audit: committed rows must appear exactly once in
    BOTH projections. ``orphan_rows`` counts uncommitted debris (crashed
    attempts — invisible to readers, reclaimed by a rebuild);
    ``mismatched_docs`` counts doc_ids whose committed byhash/byid row
    counts differ (a broken append — rebuild)."""
    read_content_meta(spark, store)
    commits = _commits(spark, store)
    orphans = storage.orphan_rows(
        spark, [_byhash_table(store), _byid_table(store)], commits
    )
    h = (
        storage.committed_rows(spark, _byhash_table(store), commits)
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_h"))
    )
    i = (
        storage.committed_rows(spark, _byid_table(store), commits)
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_i"))
    )
    mismatched = int(
        h.join(i, "doc_id", "full")
        .filter(
            (F.coalesce("n_h", F.lit(0)) != F.coalesce("n_i", F.lit(0)))
            | (F.col("n_h") != 1)
        )
        .count()
    )
    return {"orphan_rows": orphans, "mismatched_docs": mismatched}

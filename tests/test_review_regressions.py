"""Regression pins for defects found in the round-1 code review — each of
these diverged from the reference or crashed/duplicated before the fix."""

import pytest

from sparkocr.textproc import grounding, pdfspans, repeats

EOS = grounding.EOS


def test_page_split_has_double_newline():
    # run_dpsk_ocr_pdf.py: contents += content + '\n' + '\n<--- Page Split --->\n'
    from sparkocr.assemble import PAGE_SPLIT_SUFFIX

    assert PAGE_SPLIT_SUFFIX == "\n\n<--- Page Split --->\n"
    assert grounding.PAGE_SPLIT == "\n\n<--- Page Split --->\n"


def test_parse_bbox_fast_path_rejects_what_literal_eval_rejects():
    # adjacent boxes with no comma: eval raises -> must be None
    assert grounding.parse_bbox("[[1,2,3,4][5,6,7,8]]") is None
    # leading-zero int: python literal syntax error -> None
    assert grounding.parse_bbox("[[01,2,3,4]]") is None
    # trailing comma IS a valid literal -> parses
    assert grounding.parse_bbox("[[0,0,999,999],]") == [[0, 0, 1275, 1650]]
    # plain valid case still fast-pathed correctly
    assert grounding.parse_bbox("[[100,200,300,400]]") == [
        [int(100 / 999 * 1275), int(200 / 999 * 1650),
         int(300 / 999 * 1275), int(400 / 999 * 1650)]
    ]


def test_eval_batch_clean_removes_image_refs_too():
    # eval-batch's re_match puts ALL matches into mathes_other
    # (run_dpsk_ocr_eval_batch.py:75-84), image refs included
    s = "x <|ref|>image<|/ref|><|det|>[[1,2,3,4]]<|/det|> y<center>c</center>"
    out = grounding.eval_batch_clean(s)
    assert "<|ref|>" not in out
    assert "<center>" not in out
    assert out == "x  yc"


def test_pdfspans_nonnumeric_bbox_is_error_not_crash():
    bad = '{"page":0,"spans":[{"t":"a","bbox":["30",40,50,60]},{"t":"b","bbox":[10,20,30,40]}]}'
    text, spans, err = pdfspans.extract_pdf_spans(bad)
    assert text == "" and spans == [] and "error" in err


def test_repeat_detected_with_fewer_than_2n_tokens():
    # 30 identical tokens, n=20: the 20-gram at i=1 repeats i=0's
    txt = "tok " * 30
    assert repeats.find_repeat(txt, ngram_size=20, window_size=50) is not None
    assert repeats.find_repeat("tok " * 20, ngram_size=20, window_size=50) is None


def test_repeat_window_boundary_matches_processor():
    # processor scans prior starts down to p - window: start distance up to
    # window - n + 1 (ngram_norepeat.py:25-27). n=20, w=50 -> max dist 31.
    gram = " ".join(f"w{i}" for i in range(20))
    near = gram + " " + " ".join(f"f{i}" for i in range(11)) + " " + gram  # dist 31
    far = gram + " " + " ".join(f"f{i}" for i in range(12)) + " " + gram   # dist 32
    assert repeats.find_repeat(near, 20, 50) is not None
    assert repeats.find_repeat(far, 20, 50) is None


def test_html_junk_after_heading_not_exempted():
    from sparkocr.textproc.htmlmain import extract_html_main

    para = "a sufficiently long paragraph of real article prose goes here."
    text, spans = extract_html_main(
        f"<html><body><h1>Title</h1>Buy now!<p>{para}</p></body></html>"
    )
    assert "Buy now!" not in text  # inter-block junk must not inherit <h1>
    assert "Title" in text and para in text


def test_td_cells_inside_code_fence_skipped():
    from sparkocr.textproc.mdtable import extract_markdown

    md = "```\n<table><tr><td>codecell</td></tr></table>\n```\n\n<td>real</td>"
    norm, spans = extract_markdown(md)
    cells = [norm[s["start"]:s["end"]] for s in spans]
    assert cells == ["real"]


def test_pdfspans_nonstring_text_is_error_not_crash():
    bad = '{"page":0,"spans":[{"t":null,"bbox":[1,2,3,4]}]}'
    text, spans, err = pdfspans.extract_pdf_spans(bad)
    assert text == "" and spans == [] and "error" in err


def test_shingles_short_and_empty_docs(spark):
    from sparkocr.pipeline.dedup import jaccard_pairs, shingles

    docs = spark.createDataFrame(
        [(0, ""), (1, ""), (2, "short"), (3, "exactly8"), (4, "long enough text")],
        "doc_id long, text string",
    )
    sh = {(r.doc_id, r.sh) for r in shingles(docs, k=8).collect()}
    assert not any(d in (0, 1, 2) for d, _ in sh), "sub-k docs must yield no shingles"
    assert (3, "exactly8") in sh
    # empty docs must NOT pair with each other
    pairs = jaccard_pairs(docs, k=8, threshold=0.1).collect()
    assert not any({r.id1, r.id2} == {0, 1} for r in pairs)


def test_cosine_zero_vector_not_in_topk(spark):
    from sparkocr.pipeline.similarity import cosine_topk

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = cosine_topk(emb, [1.0, 0.0], k=2).collect()
    assert [r.vec_id for r in got] == [0, 1], got


def test_locate_with_spans_no_dup_per_hit(spark):
    from pyspark.sql import functions as F

    from sparkocr.extract.dispatch import extract_turns
    from sparkocr.regions import locate_with_spans

    # 3 spans, 1 needle hit overlapping none of them
    text = (
        "<|ref|>a<|/ref|><|det|>[[1,2,3,4]]<|/det|>"
        "<|ref|>b<|/ref|><|det|>[[1,2,3,4]]<|/det|>"
        "<|ref|>c<|/ref|><|det|>[[1,2,3,4]]<|/det|> needle here" + EOS
    )
    df = spark.createDataFrame(
        [("c", 0, "u", text, "grounding")],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.lit(None).cast("timestamp"))
    turns = extract_turns(df, min_parallelism=0)
    rows = locate_with_spans(turns, "needle").collect()
    assert len(rows) == 1 and rows[0].label is None


def test_fingerprint_covers_tool_column(spark, tmp_path):
    # a row whose tool (extraction mode) changes — same text — must
    # invalidate its bucket, or resume serves stale wrong-mode output
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkocr.checkpoint import input_fingerprints
    from sparkocr.datagen import SCHEMA
    import datetime as dt

    def write(path, tool):
        cols = {
            "conv_id": ["c"], "turn_idx": [0], "role": ["u"],
            "text": ["same text"], "tool": [tool],
            "ts": [dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)],
        }
        pq.write_table(pa.Table.from_pydict(cols, schema=SCHEMA), path)

    p1, p2 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    write(p1, "plain")
    write(p2, "grounding")
    f1 = input_fingerprints(spark.read.parquet(p1), 4)
    f2 = input_fingerprints(spark.read.parquet(p2), 4)
    assert f1 != f2


def test_vanished_bucket_cleaned_on_rerun(spark, tmp_path, tiny_transcripts):
    import os

    from pyspark.sql import functions as F

    from sparkocr.checkpoint import run_extract_job

    out = str(tmp_path / "out")
    r1 = run_extract_job(spark, tiny_transcripts, out, n_buckets=8)
    assert len(r1["processed"]) >= 2
    # rewrite the input without the conversations of one processed bucket
    victim = r1["processed"][0]
    kept = (
        spark.read.parquet(tiny_transcripts)
        .withColumn("b", F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int"))
        .filter(F.col("b") != victim)
        .drop("b")
    )
    smaller = str(tmp_path / "smaller.parquet")
    kept.write.mode("overwrite").parquet(smaller)
    run_extract_job(spark, smaller, out, n_buckets=8)
    assert not os.path.exists(os.path.join(out, "data", f"bucket={victim}"))
    got = spark.read.parquet(os.path.join(out, "data"))
    assert got.filter(F.col("bucket") == victim).count() == 0


def test_simhash_radius_guard():
    from sparkocr.pipeline.dedup import simhash_near_dups

    with pytest.raises(ValueError):
        simhash_near_dups(None, max_hamming=16)


def test_asof_null_tiebreak_loses(spark):
    import datetime as dt

    from sparkocr.pipeline.relational_ext import asof_join

    t = dt.datetime(2026, 1, 1)
    left = spark.createDataFrame([("k", t, "L")], "k string, t timestamp, lid string")
    right = spark.createDataFrame(
        [("k", t, "good", 7), ("k", t, "bad", None)],
        "k string, rt timestamp, rid string, tb int",
    )
    out = asof_join(
        left, right, key="k", left_time="t", right_time="rt",
        right_cols=["rid", "tb"], right_tiebreak="tb",
    ).first()
    assert out.rid_asof == "good"


def test_range_join_precondition_enforced(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from sparkocr.pipeline.relational_ext import range_join

    t = dt.datetime(2026, 1, 1)
    left = spark.createDataFrame([("k", t)], "k string, t timestamp")
    right = spark.createDataFrame(
        [("k", t, t + dt.timedelta(days=10))], "k string, s timestamp, e timestamp"
    )
    with pytest.raises(ValueError):
        range_join(left, right, key="k", left_time="t", r_start="s", r_end="e",
                   bucket_seconds=86400, right_cols=["s"])


def test_crop_regions_numbering_survives_failed_bbox(spark):
    from pyspark.sql import functions as F

    from sparkocr.extract.dispatch import extract_turns
    from sparkocr.regions import crop_regions, embed_crops_in_markdown

    # image ref 1 has malformed coords (bbox None), ref 2 is valid
    text = (
        "<|ref|>image<|/ref|><|det|>[[1,2,<|/det|>"
        "<|ref|>image<|/ref|><|det|>[[10,20,30,40]]<|/det|>done" + EOS
    )
    df = spark.createDataFrame(
        [("c", 0, "u", text, "grounding")],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.lit(None).cast("timestamp"))
    turns = extract_turns(df, min_parallelism=0)
    crops = {r.img_idx: r for r in crop_regions(turns).collect()}
    assert set(crops) == {0, 1}
    assert crops[0].x1 is None  # failed parse still consumes index 0
    assert crops[1].x1 == int(10 / 999 * 1275)
    md = embed_crops_in_markdown(turns).first().markdown_embedded
    # both placeholders replaced, each with its own aligned path
    assert "![](images/0_0.jpg)" in md and "![](images/0_1.jpg)" in md
    assert "图片" not in md


def test_event_sessions_fractional_second_gap(spark):
    """A 1800.4 s gap straddling the 30-min threshold must start a NEW
    session: unix_timestamp() truncation would see exactly 1800 (not >
    1800) and merge the sessions — round-2 fix uses fractional epoch."""
    import datetime as dt

    from pyspark.sql import Window, functions as F

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0, 300000)
    t1 = t0 + dt.timedelta(seconds=1800, microseconds=400000)
    e = spark.createDataFrame(
        [("u", 1, t0), ("u", 2, t1)], "user_id string, event_id int, ts timestamp"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.col("ts").cast("double")
    gap = ts_s - F.lag(ts_s).over(w)
    sess = F.sum(F.when(gap > 1800, 1).otherwise(0)).over(w) + 1
    got = (
        e.withColumn("sess", sess)
        .groupBy("user_id")
        .agg(F.max("sess").alias("n_sessions"))
        .collect()
    )
    assert got[0].n_sessions == 2


def test_range_join_fractional_span_validation(spark):
    """An interval spanning bucket_seconds - 0.5 s must FAIL validation for
    bucket_seconds-1 (truncated arithmetic would round the span down and
    pass, silently losing matches)."""
    import datetime as dt

    from sparkocr.pipeline.relational_ext import range_join

    t0 = dt.datetime(2026, 1, 1)
    right = spark.createDataFrame(
        [("k", t0, t0 + dt.timedelta(seconds=59, microseconds=500000), 1)],
        "k string, r_start timestamp, r_end timestamp, rid int",
    )
    left = spark.createDataFrame(
        [("k", t0 + dt.timedelta(seconds=30), 10)],
        "k string, t timestamp, lid int",
    )
    with pytest.raises(ValueError, match="max interval span"):
        range_join(
            left, right, key="k", left_time="t", r_start="r_start",
            r_end="r_end", bucket_seconds=59, right_cols=["rid"],
        )
    # and with a big-enough bucket the match is found
    out = range_join(
        left, right, key="k", left_time="t", r_start="r_start",
        r_end="r_end", bucket_seconds=60, right_cols=["rid"],
    ).collect()
    assert len(out) == 1 and out[0].rid == 1


def test_jaccard_df_cap_bounds_hot_shingle_fanout(spark):
    """A shingle shared by EVERY doc (stopword-grade) must not create
    quadratic candidate pairs once df_max < corpus size; dropping the cap
    restores exact (quadratic) behavior."""
    from pyspark.sql import functions as F

    from sparkocr.pipeline.dedup import jaccard_pairs

    # 12 docs: common 8-char prefix, then a per-doc unique letter run — the
    # ONLY cross-doc shared shingle is the hot prefix (every mixed
    # prefix/tail window contains the unique letter)
    docs = spark.createDataFrame(
        [(i, "AAAAAAAA" + chr(ord("a") + i) * 16) for i in range(12)],
        "doc_id long, text string",
    )
    capped = jaccard_pairs(docs, k=8, threshold=0.0, df_max=8)
    assert capped.count() == 0  # hot shingle excluded -> no candidates
    uncapped = jaccard_pairs(docs, k=8, threshold=0.0, df_max=None)
    assert uncapped.count() == 12 * 11 // 2  # every pair shares the prefix


def test_cap_drops_are_observable(spark):
    """The df/bucket caps silently drop hot buckets from the candidate
    joins; the optional cap_metrics Observation must surface how many
    buckets were dropped and their total membership at zero extra
    actions (ADVICE r2: silent near-dup undercount was invisible)."""
    from pyspark.sql import Observation

    from sparkocr.pipeline.dedup import (
        cap_metrics_get,
        jaccard_pairs,
        lsh_candidate_pairs,
        simhash_near_dups,
    )

    # 12 docs sharing ONLY a hot 8-char prefix (capped away), plus a pair
    # sharing distinct cold text so the operator output is non-empty (an
    # all-empty output lets AQE prune the metrics node — separate case below)
    docs = spark.createDataFrame(
        [(i, "AAAAAAAA" + chr(ord("a") + i) * 16) for i in range(12)]
        + [(100, "BBBBBBBBBBBBBBBB"), (101, "BBBBBBBBBBBBBBBB")],
        "doc_id long, text string",
    )
    obs = Observation()
    out = jaccard_pairs(docs, k=8, threshold=0.0, df_max=8, cap_metrics=obs)
    assert out.count() == 1  # only the cold B-pair survives
    # exactly the hot prefix shingle is over-cap, with all 12 docs in it
    assert cap_metrics_get(obs) == {"capped_buckets": 1, "capped_rows": 12}

    # 10 identical docs (capped) + one distinct near-pair (survives)
    dup = spark.createDataFrame(
        [(i, "identical text payload shared by all docs") for i in range(10)]
        + [(100, "another payload entirely"), (101, "another payload entirely")],
        "doc_id long, text string",
    )
    obs2 = Observation()
    assert lsh_candidate_pairs(
        dup, n_perm=4, band_rows=2, bucket_max=8, cap_metrics=obs2
    ).count() == 1
    # 2 bands, every hot band-bucket holds the 10 identical docs
    assert cap_metrics_get(obs2) == {"capped_buckets": 2, "capped_rows": 20}

    obs3 = Observation()
    assert simhash_near_dups(dup, bucket_max=5, cap_metrics=obs3).count() == 1
    # 4 chunks, each hot bucket holds the 10 identical simhashes
    assert cap_metrics_get(obs3) == {"capped_buckets": 4, "capped_rows": 40}

    # nothing over cap -> explicit zeros, not nulls
    obs4 = Observation()
    lsh_candidate_pairs(
        dup, n_perm=4, band_rows=2, bucket_max=1000, cap_metrics=obs4
    ).count()
    assert cap_metrics_get(obs4) == {"capped_buckets": 0, "capped_rows": 0}

    # EMPTY operator output: AQE empty-relation propagation prunes the
    # CollectMetrics node and Spark publishes a schema-less empty row;
    # the safe accessor reports "unavailable" instead of the raw
    # Observation.get AssertionError
    only_hot = docs.filter("doc_id < 100")
    obs5 = Observation()
    assert jaccard_pairs(
        only_hot, k=8, threshold=0.0, df_max=8, cap_metrics=obs5
    ).count() == 0
    assert cap_metrics_get(obs5) is None


def test_parse_bbox_fast_path_rejects_unicode_digits_and_whitespace():
    # literal_eval (and the reference's eval) raise SyntaxError on NBSP
    # whitespace and non-ASCII digits; the fast path must not accept them
    assert grounding.parse_bbox("[[1,2,3,4]] ") is None
    assert grounding.parse_bbox("[[1٢,2,3,4]]") is None  # Arabic-Indic 2
    assert grounding.parse_bbox("[[1,2,3,4]]") == [
        [int(1 / 999 * 1275), int(2 / 999 * 1650),
         int(3 / 999 * 1275), int(4 / 999 * 1650)]
    ]


def test_asof_join_ignores_null_right_times(spark):
    """A right row with NULL time must never match (right_time <= left_time
    is never true for null) — NULLS FIRST ordering would otherwise carry it
    to every left row before the first real right row."""
    import datetime as dt

    from sparkocr.pipeline.relational_ext import asof_join

    t = dt.datetime(2026, 1, 1)
    left = spark.createDataFrame(
        [("k", t, 1)], "k string, lt timestamp, lid int"
    )
    right = spark.createDataFrame(
        [("k", None, 99), ("k", t + dt.timedelta(days=1), 100)],
        "k string, rt timestamp, rid int",
    )
    out = asof_join(
        left, right, key="k", left_time="lt", right_time="rt",
        right_cols=["rid"],
    ).collect()
    # the only non-null right row is AFTER the left row; the null-time row
    # must not be fabricated as a match
    assert len(out) == 1 and out[0].rid_asof is None


def test_similarity_tolerates_null_embeddings(spark):
    """One null embedding row must not crash the bucketed ANN paths — the
    brute-force path nulls it; the LSH/IVF paths zero it."""
    from sparkocr.pipeline.similarity import embedding_near_dups, lsh_topk

    rows = [(0, [1.0] * 8), (1, None), (2, [1.0] * 8), (3, [0.5] * 4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = lsh_topk(emb, [1.0] * 8, k=3, n_planes=6)
    ids = [r.vec_id for r in top.collect()]
    assert 0 in ids and 2 in ids

    # IVF must tolerate the same data: a null/wrong-dim row among the
    # n_cells lowest vec_ids crashed the first-n quantizer on the driver
    # ('NoneType' not iterable / inhomogeneous-shape), and the kmeans
    # trainer choked on the mixed-dimension sample
    from sparkocr.pipeline.similarity import (
        ivf_centroids_kmeans,
        ivf_topk,
    )

    ivf_ids = [r.vec_id for r in ivf_topk(emb, [1.0] * 8, k=3, n_cells=2).collect()]
    assert 0 in ivf_ids and 2 in ivf_ids
    cents = ivf_centroids_kmeans(emb, n_cells=2, sample_size=8)
    assert cents.shape[1] == 8  # trained on the 8-dim majority only

    # a junk-dimension row with the LOWEST vec_id (and physically first)
    # must not flip the detected dimension: the majority wins, the probe
    # still returns the valid vectors instead of a numpy broadcast crash
    from sparkocr.pipeline.similarity import detect_dim, ivf_centroids

    rows2 = [(0, [0.5] * 4), (1, [1.0] * 8), (2, [1.0] * 8), (3, [0.9] * 8)]
    emb2 = spark.createDataFrame(rows2, "vec_id long, embedding array<float>")
    assert detect_dim(emb2) == 8
    assert ivf_centroids(emb2, n_cells=2).shape == (2, 8)
    ids2 = [r.vec_id for r in ivf_topk(emb2, [1.0] * 8, k=3, n_cells=2).collect()]
    assert 1 in ids2 and 2 in ids2

    # a junk-DOMINATED low-id prefix must not flip the shape either: the
    # dimension comes from a hash-ordered sample of the whole table and
    # the centroid selection filters to it, so even when every one of the
    # lowest vec_ids is a legacy wrong-dim row the quantizer still comes
    # out at the table majority instead of crashing the probe's numpy
    # broadcast (or silently under-filling the cells)
    rows3 = [(i, [0.5] * 4) for i in range(8)] + [
        (i, [float(i % 3) + 1.0] * 8) for i in range(8, 40)
    ]
    emb3 = spark.createDataFrame(rows3, "vec_id long, embedding array<float>")
    assert detect_dim(emb3) == 8
    cents3 = ivf_centroids(emb3, n_cells=4)
    assert cents3.shape == (4, 8)
    ids3 = [r.vec_id for r in ivf_topk(emb3, [1.0] * 8, k=3, n_cells=4).collect()]
    assert len(ids3) == 3 and all(i >= 8 for i in ids3)

    # and a query of the WRONG dimension gets a named error, not a numpy
    # broadcast traceback from inside ivf_topk
    import pytest as _pytest

    with _pytest.raises(ValueError, match="query dim 4 != table majority dim 8"):
        ivf_topk(emb3, [1.0] * 4, k=3, n_cells=4)

    # a caller that already knows the table dimension can skip the
    # detect_dim sample scan; the probe result is identical
    ids3_dim = [
        r.vec_id
        for r in ivf_topk(emb3, [1.0] * 8, k=3, n_cells=4, dim=8).collect()
    ]
    assert ids3_dim == ids3

    # empty / all-null tables: clear error, not a numpy broadcast failure
    import pytest as _pytest

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="no usable"):
        ivf_topk(empty, [1.0] * 8, k=3)
    dups = embedding_near_dups(emb, threshold=0.9, n_planes=6).collect()
    assert {(r.id1, r.id2) for r in dups} == {(0, 2)}


def test_token_counts_whitespace_only_and_edges(spark):
    from sparkocr.pipeline.textstats import token_counts

    docs = spark.createDataFrame(
        [(0, "   \n\t  "), (1, "\ta b"), (2, ""), (3, "one two")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_ws_tokens for r in token_counts(docs).collect()}
    assert got == {0: 0, 1: 2, 2: 0, 3: 2}


def test_resize_plan_tolerates_zero_dims(spark):
    # ANSI mode turns a plain division into DIVIDE_BY_ZERO: a degenerate
    # media row must yield a null plan, not abort the stage
    from sparkocr.pipeline.multimodal import resize_plan

    media = spark.createDataFrame(
        [(1, b"x", ("image", 0, 100, 1, "c")), (2, b"y", ("image", 200, 100, 1, "c"))],
        "media_id long, payload binary, "
        "meta struct<media_type:string,width:int,height:int,n_frames:int,codec:string>",
    )
    rows = {r.media_id: r for r in resize_plan(media, target=640).collect()}
    assert rows[1].scale is None and rows[1].out_w is None
    assert rows[2].out_w == 640


def test_inline_code_line_does_not_open_fence():
    from sparkocr.textproc.mdtable import extract_markdown

    norm, spans = extract_markdown("```code```\n| a | b |")
    assert [norm[s["start"]:s["end"]] for s in spans] == ["a", "b"]


def test_single_dash_separator_row_excluded():
    from sparkocr.textproc.mdtable import extract_markdown

    norm, spans = extract_markdown("| a |\n|-|\n| 1 |")
    assert [norm[s["start"]:s["end"]] for s in spans] == ["a", "1"]


def test_empty_td_cell_dropped_like_empty_pipe_cell():
    from sparkocr.textproc.mdtable import extract_markdown

    norm, spans = extract_markdown("<table><tr><td></td><td>x</td></tr></table>")
    assert [norm[s["start"]:s["end"]] for s in spans] == ["x"]


def test_geometry_label_survives_trailing_text():
    from sparkocr.textproc.geometry import _parse_labeled

    assert _parse_labeled("A: (1,2).") == ("A", (1.0, 2.0))
    assert _parse_labeled("A: (1,2)") == ("A", (1.0, 2.0))
    assert _parse_labeled("(1,2)") == (None, (1.0, 2.0))


def test_sample_frames_cover_all_bytes_no_phantoms(spark):
    from sparkocr.pipeline.multimodal import sample_frames

    media = spark.createDataFrame(
        # 3-byte payload with 8 declared frames: no phantom out-of-range
        # slices; 10 bytes over 3 frames: the modulo tail is covered
        [(1, b"abc", ("video", 10, 10, 8, "c")),
         (2, b"0123456789", ("video", 10, 10, 3, "c"))],
        "media_id long, payload binary, "
        "meta struct<media_type:string,width:int,height:int,n_frames:int,codec:string>",
    )
    rows = sample_frames(media, n_sample=4).collect()
    by = {}
    for r in rows:
        by.setdefault(r.media_id, []).append(r)
    assert sum(r.n_bytes for r in by[2]) == 10  # 3 frames all sampled, full coverage
    assert all(r.n_bytes <= 3 for r in by[1])   # never slices past the payload


def test_null_text_docs_are_not_duplicates(spark):
    from sparkocr.pipeline.dedup import dedup_corpus, exact_dedup

    docs = spark.createDataFrame(
        [(0, None), (1, None), (2, "real"), (3, "real")],
        "doc_id long, text string",
    )
    groups = {r.keep_id: r.n_dups for r in exact_dedup(docs).collect()}
    # md5(NULL) is NULL: without per-doc keys both null docs would
    # collapse into one bogus duplicate group
    assert groups[0] == 1 and groups[1] == 1 and groups[2] == 2
    kept = sorted(r.doc_id for r in dedup_corpus(docs).collect())
    assert kept == [0, 1, 2]


def test_lsh_rejects_indivisible_bands(spark):
    from sparkocr.pipeline.dedup import lsh_candidate_pairs

    docs = spark.createDataFrame([(0, "abcdefghij")], "doc_id long, text string")
    with pytest.raises(ValueError, match="not divisible"):
        lsh_candidate_pairs(docs, n_perm=12, band_rows=5)


def test_lsh_bucket_cap_bounds_dup_cluster_fanout(spark):
    from sparkocr.pipeline.dedup import lsh_candidate_pairs

    # 12 identical docs share every band hash: with the cap below the
    # cluster size no candidate pairs are emitted from those buckets
    docs = spark.createDataFrame(
        [(i, "identical boilerplate text") for i in range(12)],
        "doc_id long, text string",
    )
    assert lsh_candidate_pairs(docs, n_perm=4, band_rows=2, bucket_max=8).count() == 0
    assert (
        lsh_candidate_pairs(docs, n_perm=4, band_rows=2, bucket_max=None).count()
        == 12 * 11 // 2
    )


def test_simhash_bucket_cap_bounds_empty_doc_fanout(spark):
    from sparkocr.pipeline.dedup import simhash_near_dups

    # empty docs all simhash to 0: the bucket cap keeps them from pairing
    # quadratically
    docs = spark.createDataFrame(
        [(i, "") for i in range(10)] + [(100, "some real text here")],
        "doc_id long, text string",
    )
    assert simhash_near_dups(docs, bucket_max=5).count() == 0
    assert simhash_near_dups(docs, bucket_max=None).count() == 10 * 9 // 2


def test_app_assembly_deterministic_on_duplicate_turn_idx(spark):
    from sparkocr.assemble import assemble_docs_app

    rows = [("c", 0, "bbb"), ("c", 0, "aaa"), ("c", 1, "ccc")]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, clean_text string"
    )
    outs = {assemble_docs_app(turns).collect()[0].doc_text for _ in range(3)}
    assert len(outs) == 1  # stable across runs
    # tie-break on text: 'aaa' is page 1, 'bbb' page 2
    assert outs.pop().index("aaa") < 80


def test_stateful_stream_skips_null_turn_idx(spark, tmp_path):
    import datetime as dt
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkocr.streaming.stateful_assembly import streaming_conversation_progress

    d = str(tmp_path / "in")
    os.makedirs(d)
    schema = pa.schema(
        [("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
         ("text", pa.string()), ("tool", pa.string()),
         ("ts", pa.timestamp("us", tz="UTC"))]
    )
    ts = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    pq.write_table(
        pa.Table.from_pydict(
            {"conv_id": ["A", "A", "A"], "turn_idx": [0, None, 1],
             "role": ["u"] * 3, "text": ["x", "y", "z"], "tool": ["plain"] * 3,
             "ts": [ts] * 3},
            schema=schema,
        ),
        os.path.join(d, "f0.parquet"),
    )
    q = (
        streaming_conversation_progress(spark, d)
        .writeStream.format("memory")
        .queryName("conv_progress_null")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    (row,) = spark.sql("SELECT * FROM conv_progress_null").collect()
    # malformed row skipped, stream completes instead of crash-looping
    assert (row.n_turns, row.batch_rows) == (2, 3)


def test_html_bare_boiler_text_dropped_and_body_survives_unclosed_head():
    from sparkocr.textproc.htmlmain import extract_html_main

    # bare text in <footer> (no inner block tag) must carry the boiler flag
    text, _ = extract_html_main(
        "<body><p>Main article body text long enough to keep.</p>"
        "<footer>Copyright 2026 Acme Corporation, all rights reserved.</footer></body>"
    )
    assert "Main article body" in text and "Copyright" not in text
    # HTML5 tag omission: <body> implies </head>
    text, _ = extract_html_main(
        "<html><head><title>t</title><body>"
        "<p>body prose long enough to keep for sure ok</p></body></html>"
    )
    assert "body prose" in text
    # <br>-separated short lines join into one scored block
    text, _ = extract_html_main(
        "<body><p>line one is short<br>line two is short<br>also short</p></body>"
    )
    assert "line one is short line two is short also short" == text


def test_locate_counts_overlapping_matches(spark):
    from pyspark.sql import functions as F

    from sparkocr.regions import locate

    turns = spark.createDataFrame(
        [("c", 0, "ababab"), ("c", 1, "xx"), ("c", 2, "")],
        "conv_id string, turn_idx int, clean_text string",
    )
    got = sorted(
        (r.turn_idx, r.match_start) for r in locate(turns, "abab").collect()
    )
    # position-scan semantics: overlapping occurrences both count
    assert got == [(0, 0), (0, 2)]
    # non-self-overlapping needles keep the cheap split-fold path
    got2 = sorted(
        (r.turn_idx, r.match_start) for r in locate(turns, "ab").collect()
    )
    assert got2 == [(0, 0), (0, 2), (0, 4)]


def test_bordered_locate_linear_on_multi_mb_payload(spark):
    """The bordered-needle path is one zero-width-lookahead split (linear
    in text length), not a per-position substr enumeration — which was
    O(L) per candidate, i.e. quadratic on multi-MB clean_text, besides
    materializing an L-element transient array per row. Exact Python
    overlap semantics on a 2 MB payload with scattered matches, needle at
    position 0 included (Java drops the zero-width leading empty part)."""
    import re as _re

    from sparkocr.regions import locate

    # 2 MB of filler with overlapping 'ababa' islands sprinkled through
    # (each contributes matches at i AND i+2), starting with one at 0
    filler = "xy" * 10_000
    text = "aba" + ("ababa" + filler) * 100
    assert len(text) > 2_000_000
    turns = spark.createDataFrame(
        [("c", 0, text)], "conv_id string, turn_idx int, clean_text string"
    )
    got = sorted(r.match_start for r in locate(turns, "aba").collect())
    want = [m.start() for m in _re.finditer(r"(?=aba)", text)]
    assert want[0] == 0 and len(want) == 201
    assert got == want


def test_bordered_locate_dense_overlaps(spark):
    """Every position matching: 'aa' in 'a'*2000 -> 1999 overlapping
    offsets, exact."""
    from sparkocr.regions import locate

    turns = spark.createDataFrame(
        [("c", 0, "a" * 2000)], "conv_id string, turn_idx int, clean_text string"
    )
    got = sorted(r.match_start for r in locate(turns, "aa").collect())
    assert got == list(range(1999))


def test_ivf_explicit_dim_probes_only_that_dim(spark):
    """dim= that matches the QUERY but only a minority of the table must
    behave as 'probe the dim-D subspace': only rows of that dimension are
    scored (zero-filled wrong-dim rows would otherwise get garbage cells
    and null cosines — and with k large enough, surface as results), and
    a dim with NO matching rows raises the named centroid error instead
    of a misleading 'no usable embeddings' on a non-empty table."""
    import pytest as _pytest

    from sparkocr.pipeline.similarity import ivf_topk

    rows = [(i, [1.0] * 64) for i in range(20)] + [
        (100, [1.0] * 8), (101, [0.9] * 8), (102, [0.5] * 8),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # k far above the 8-dim row count: results stay exactly the 8-dim rows
    got = ivf_topk(emb, [1.0] * 8, k=10, n_cells=2, dim=8).collect()
    assert sorted(r.vec_id for r in got) == [100, 101, 102]
    assert all(r.cosine is not None for r in got)

    # the majority-dim probe is unaffected: 64-dim rows only
    got64 = ivf_topk(emb, [1.0] * 64, k=25, n_cells=2, dim=64).collect()
    assert all(r.vec_id < 100 for r in got64) and len(got64) == 20

    # dim that matches nothing in the table: named error carrying the dim
    with _pytest.raises(ValueError, match="of dim 16"):
        ivf_topk(emb, [1.0] * 16, k=3, n_cells=2, dim=16)


def test_dir_generation_is_atomic(tmp_path, monkeypatch):
    """An interrupted write_transcripts_dir must never leave a partial
    directory at the final path: both benchmark harnesses treat an
    existing path as a complete dataset, so a partial one would silently
    benchmark a fraction of the rows (with a truncated skew conversation)
    on every later run."""
    import os

    from sparkocr import datagen

    monkeypatch.setitem(datagen.DIR_PROFILES, "microdir", (6, 2, 3, 0, 3))
    dest = str(tmp_path / "micro.parquet")

    # crash mid-generation (second of three files)
    real_write = datagen._write_table
    calls = {"n": 0}

    def crashing(rows, path):
        calls["n"] += 1
        if calls["n"] == 2:
            raise KeyboardInterrupt("simulated interruption")
        real_write(rows, path)

    monkeypatch.setattr(datagen, "_write_table", crashing)
    import pytest as _pytest

    with _pytest.raises(KeyboardInterrupt):
        datagen.write_transcripts_dir(dest, "microdir")
    assert not os.path.exists(dest)  # nothing published

    # a later full run succeeds despite the stale temp dir
    monkeypatch.setattr(datagen, "_write_table", real_write)
    n = datagen.write_transcripts_dir(dest, "microdir")
    assert n > 0
    assert sorted(os.listdir(dest)) == [f"part-{i:05d}.parquet" for i in range(3)]
    assert not os.path.exists(dest + ".tmp")


def test_extract_job_skips_docs_on_empty_input(spark, tmp_path, monkeypatch):
    """--docs on an empty input table: stage 1 writes no buckets, so the
    docs stage must be skipped (reading the never-created out/data would
    raise PATH_NOT_FOUND) and the summary must report zero rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkocr import datagen
    from sparkocr.jobs import extract_job

    src = str(tmp_path / "empty.parquet")
    pq.write_table(datagen.SCHEMA.empty_table(), src)
    out = str(tmp_path / "out")

    # a docs/ dir left by a previous run must ALSO be removed: after a
    # force-emptied table, data/ and docs/ would otherwise disagree (the
    # stale docs keep serving a corpus that no longer exists)
    os.makedirs(os.path.join(out, "docs"))
    with open(os.path.join(out, "docs", "stale.parquet"), "w") as f:
        f.write("stale")

    # main() would stop the shared test session on exit — neuter stop()
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    summary = extract_job.main(["--input", src, "--out", out, "--buckets", "4", "--docs"])
    assert summary["rows_out"] == 0
    assert summary["buckets_processed"] == 0
    assert not os.path.exists(os.path.join(out, "docs"))


def test_pdfspans_nonfinite_bbox_degrades_to_error():
    """json.loads parses NaN/Infinity by default, and a finite 1.7e308
    overflows to inf in the denorm — both used to escape the parse
    try/except and kill the Arrow batch at the unguarded denorm/sort."""
    from sparkocr.textproc.pdfspans import extract_pdf_spans

    for coord in ("NaN", "Infinity", "-Infinity", "1.7e308"):
        payload = '{"page":0,"spans":[{"t":"a","bbox":[%s,5,10,10]}]}' % coord
        text, spans, err = extract_pdf_spans(payload)
        assert text == "" and spans == [] and "parse error" in err, coord


def test_parse_bbox_fast_path_skips_overflow_like_fallback():
    """A ~320-digit integer coordinate raises OverflowError at the /999
    float division; the fallback path's per-box except skips that box, so
    the fast path must too (it used to propagate and kill the batch)."""
    from sparkocr.textproc import grounding

    huge = "9" * 320
    # fast-path shape (plain digits, no leading zeros)
    assert grounding.parse_bbox(f"[[{huge},1,2,3]]") == []
    assert grounding.parse_bbox(f"[[{huge},1,2,3], [1,2,3,4]]") == [
        grounding.parse_bbox("[[1,2,3,4]]")[0]
    ]
    # whole-pipeline: must not raise
    clean, spans, _ = grounding.clean_grounded(
        f"<|ref|>x<|/ref|><|det|>[[{huge},1,2,3]]<|/det|>ok"
    )
    assert "ok" in clean


def test_parse_geometry_malformed_shapes_return_none():
    """The contract says literal-but-malformed payloads yield None — a
    list where the Line dict belongs (AttributeError), an int where the
    endpoint list belongs (TypeError), a scalar radius, all used to
    raise out of the documented try/except-skip mirror."""
    from sparkocr.textproc.geometry import parse_geometry

    for payload in (
        'line_type {"Line": [1,2]}',
        'line_type {"Line": {"line_endpoint": 5}}',
        'line_type {"Line": {"line": 7, "line_type": []}}',
        'line_type {"Circle": {"circle_center": ["A(1,2)"], "radius": 3}}',
    ):
        parse_geometry(payload)  # must not raise; None or best-effort dict


def test_stray_drop_close_does_not_leak_head_title():
    """A stray </iframe> (any unopened DROP-tag close) while only <head>
    scopes are open used to decrement the shared drop depth and cancel
    the head drop — leaking the <title> into extracted main text.
    Browsers ignore unmatched end tags."""
    from sparkocr.textproc.htmlmain import extract_html_main

    body = "<p>" + "real content words here " * 20 + "</p>"
    title = "<title>A Very Long Site Title That Easily Exceeds Thresholds</title>"
    leaked, _ = extract_html_main(
        "<head></iframe>" + title + "</head><body>" + body
    )
    clean, _ = extract_html_main("<head>" + title + "</head><body>" + body)
    assert leaked == clean
    assert "Site Title" not in leaked


def test_mdtable_fence_edges():
    """CommonMark fences: a backtick opener whose info string contains a
    backtick is a paragraph, not a fence (```a` used to swallow every
    later cell); tilde fences are real fences (pipe rows inside used to
    leak out as cells)."""
    from sparkocr.textproc.mdtable import extract_markdown

    _, spans = extract_markdown("```a`\n| x | y |\n|---|---|\n| 1 | 2 |\n")
    assert len([s for s in spans if s["label"] == "cell"]) == 4

    _, spans = extract_markdown("~~~\n| a | b |\n~~~\n| c | d |\n")
    cells = [s for s in spans if s["label"] == "cell"]
    assert len(cells) == 2  # only the row OUTSIDE the tilde fence

    # a backtick-fence body line of tildes does not close it, and vice versa
    _, spans = extract_markdown("```\n~~~\n| a | b |\n```\n")
    assert [s for s in spans if s["label"] == "cell"] == []


def test_num_image_tokens_zero_dimension():
    """A 0 height with width > 640 used to reach count_tiles' aspect-ratio
    division and ZeroDivisionError; corrupt dimension metadata must
    degrade like the small-image 1x1 path."""
    from sparkocr.textproc.tiles import num_image_tokens

    assert num_image_tokens(1000, 0) == num_image_tokens(100, 100)
    assert num_image_tokens(0, 1000) == num_image_tokens(100, 100)
    assert num_image_tokens(0, 0) == num_image_tokens(100, 100)

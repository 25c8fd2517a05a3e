"""Tests for crop-region records (E13), markdown embed (E14), locate (Q3),
geometry parse (E12), and job metrics."""

import pytest

from sparkocr.textproc.geometry import has_geometry, parse_geometry


# ---------------------------------------------------------------------------
# geometry (pure python)
# ---------------------------------------------------------------------------


def test_geometry_trigger():
    assert not has_geometry("no geo here")
    assert has_geometry("{'Line': {'line_type': ['--']}}")


def test_geometry_parse_full():
    payload = str(
        {
            "Line": {
                "line": ["(0,0) -- (5,5)", "(1,2) -- (3,4)"],
                "line_type": ["--", "-"],
                "line_endpoint": ["A: (0,0)", "B: (5,5)"],
            },
            "Circle": {"circle_center": ["O: (1,1)"], "radius": [2]},
        }
    )
    g = parse_geometry(payload)
    assert g["lines"] == [
        {"x1": 0.0, "y1": 0.0, "x2": 5.0, "y2": 5.0, "style": "--"},
        {"x1": 1.0, "y1": 2.0, "x2": 3.0, "y2": 4.0, "style": "-"},
    ]
    assert g["endpoints"] == [
        {"label": "A", "x": 0.0, "y": 0.0},
        {"label": "B", "x": 5.0, "y": 5.0},
    ]
    assert g["circles"] == [{"label": "O", "x": 1.0, "y": 1.0, "radius": 2.0}]


def test_geometry_parse_embedded_and_malformed():
    # embedded in surrounding prose: outermost-brace span is parsed
    g = parse_geometry("prefix {'Line': {'line': ['(1,1) -- (2,2)'], 'line_type': []}} tail")
    assert g["lines"][0]["x2"] == 2.0 and g["lines"][0]["style"] is None
    # malformed dict -> None (reference's try/except skip)
    assert parse_geometry("line_type {broken") is None
    assert parse_geometry("line_type but no dict") is None
    # floats and negative coords
    g = parse_geometry("{'Line': {'line': ['(-1.5,2.25) -- (0,0)'], 'line_type': ['-']}}")
    assert g["lines"][0]["x1"] == -1.5 and g["lines"][0]["y1"] == 2.25


# ---------------------------------------------------------------------------
# Spark-side: crops / embed / locate / metrics
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def turns(spark):
    from pyspark.sql import functions as F

    from sparkocr.extract.dispatch import extract_turns

    EOS = "<｜end▁of▁sentence｜>"
    rows = [
        # two image refs + one titled ref, text body with 'the' twice
        (
            "c1",
            0,
            "assistant",
            "<|ref|>image<|/ref|><|det|>[[0,0,99,99]]<|/det|>"
            "the start <|ref|>title<|/ref|><|det|>[[10,10,20,20]]<|/det|>"
            " middle the end"
            "<|ref|>image<|/ref|><|det|>[[100,100,200,200]]<|/det|>" + EOS,
            "grounding",
        ),
        ("c1", 1, "assistant", "no refs at all" + EOS, "grounding"),
        ("c2", 0, "assistant", "another the doc" + EOS, "grounding"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.lit(None).cast("timestamp"))
    return extract_turns(df, min_parallelism=0)


def test_crop_regions(spark, turns):
    from sparkocr.regions import crop_regions

    rows = {(r.turn_idx, r.img_idx): r for r in crop_regions(turns).collect()}
    assert set(rows) == {(0, 0), (0, 1)}
    r0 = rows[(0, 0)]
    assert r0.crop_path == "images/0_0.jpg"
    assert (r0.x1, r0.y1) == (0, 0)
    r1 = rows[(0, 1)]
    assert r1.crop_path == "images/0_1.jpg"
    assert r1.x1 == int(100 / 999 * 1275)


def test_markdown_embed(spark, turns):
    from sparkocr.regions import embed_crops_in_markdown

    out = {r.turn_idx: r.markdown_embedded
           for r in embed_crops_in_markdown(turns).filter("conv_id = 'c1'").collect()}
    assert "![](images/0_0.jpg)" in out[0]
    assert "![](images/0_1.jpg)" in out[0]
    assert "[图片" not in out[0]
    assert out[1] == "no refs at all"


def test_locate_offsets(spark, turns):
    from sparkocr.regions import locate

    hits = locate(turns, "the").collect()
    got = {(r.conv_id, r.turn_idx, r.match_start, r.match_end) for r in hits}
    # clean_text of (c1,0): 'the start title middle the end' -> 0 and 23
    assert ("c1", 0, 0, 3) in got
    assert ("c1", 0, 23, 26) in got
    assert ("c2", 0, 8, 11) in got
    assert all(r.conv_id != "c1" or r.turn_idx != 1 for r in hits)
    # offsets verified against the actual clean text
    clean = {(r.conv_id, r.turn_idx): r.clean_text for r in turns.collect()}
    for r in hits:
        assert clean[(r.conv_id, r.turn_idx)][r.match_start:r.match_end] == "the"


def test_locate_with_spans(spark, turns):
    from sparkocr.regions import locate_with_spans

    rows = locate_with_spans(turns, "title").collect()
    assert rows, "needle 'title' must hit"
    labeled = [r for r in rows if r.label == "title"]
    assert labeled, "hit overlapping the grounded title span must carry its label"


def test_label_color_map(spark, turns):
    import numpy as np

    from sparkocr.regions import label_color_map

    rows = {r.label: r for r in label_color_map(turns).collect()}
    # turns fixture: image (span 0 of turn 0) seen before title (span 1)
    assert rows["image"].color_idx == 0
    assert rows["title"].color_idx == 1
    # the reference's stream: np.random.seed(42) then three scalar
    # randint(50, 255) draws per label (app/processors.py:57-66)
    palette = np.random.RandomState(42).randint(50, 255, size=(2, 3))
    assert (rows["image"].rgb.r, rows["image"].rgb.g, rows["image"].rgb.b) == tuple(
        palette[0]
    )
    assert (rows["title"].rgb.r, rows["title"].rgb.g, rows["title"].rgb.b) == tuple(
        palette[1]
    )


def test_chunk_turns(spark):
    from pyspark.sql import functions as F

    from sparkocr.textproc.chunking import chunk_turns

    rows = [("c", 0, ""), ("c", 1, "x" * 100), ("c", 2, "y" * 101), ("c", 3, "z" * 250)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = chunk_turns(df, max_chars=100)
    by_turn = {}
    for r in out.collect():
        by_turn.setdefault(r.turn_idx, []).append(r)
    assert [r.chunk_text for r in by_turn[0]] == [""] and by_turn[0][0].n_chunks == 1
    assert [len(r.chunk_text) for r in sorted(by_turn[1], key=lambda r: r.chunk_idx)] == [100]
    assert [len(r.chunk_text) for r in sorted(by_turn[2], key=lambda r: r.chunk_idx)] == [100, 1]
    assert [len(r.chunk_text) for r in sorted(by_turn[3], key=lambda r: r.chunk_idx)] == [100, 100, 50]
    # reassembly restores the original payload (row-major order invariant)
    re2 = "".join(r.chunk_text for r in sorted(by_turn[3], key=lambda r: r.chunk_idx))
    assert re2 == "z" * 250


def test_metrics(spark, turns):
    from sparkocr.metrics import pipeline_metrics

    pm = {r.tool: r for r in pipeline_metrics(turns).collect()}
    g = pm["grounding"]
    assert g.n_turns == 3 and g.n_truncated == 0
    assert g.n_convs == 2 and g.n_turns_total == 3 and g.max_conv_turns == 2
    assert sum(r.n_turns for r in pm.values()) == 3  # rows out

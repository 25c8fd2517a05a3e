"""Crop-region records (E13), markdown image embedding (E14), locate (Q3).

The reference draws bounding boxes and crops ``image``-labeled regions to
``images/{jdx}_{idx}.jpg`` files (run_dpsk_ocr_image.py:85-149,
app/processors.py:31-106); the rendering is out of scope, but the *records*
— which region, which page, which output name — port as a JVM-only derived
table. ``embed_images_in_markdown`` (app/utils.py:130-147) then replaces
the numbered ``**[图片 N]**`` placeholders with the image payload; our
analog splices the crop-record path as a markdown link via a JVM
``aggregate`` fold (count=1 per placeholder, in crop order — the
reference's exact loop shape).

``locate`` is the reference's third prompt mode (Q3, app/config.py:49-53):
find a needle in the extracted text. Ported as a pure-JVM substring search
over ``clean_text`` returning every match offset plus any grounded span
overlapping the hit.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F


def _crop_path(idx):
    """``images/{jdx}_{idx}.jpg`` with jdx = turn_idx (run_dpsk_ocr_pdf.py
    :316-317 naming); ``idx`` is a Column."""
    return F.concat(
        F.lit("images/"),
        F.col("turn_idx").cast("string"),
        F.lit("_"),
        idx.cast("string"),
        F.lit(".jpg"),
    )


def _image_spans_numbered(extra_fields=None):
    """Image spans of the row's OWN spans array, in span order, numbered by
    position — THE single definition of the is_image selection + numbering
    + crop-path rule. ``crop_regions`` and the markdown-embed fold both
    build on it, so crop records and numbered placeholders cannot
    desynchronize (two hand-maintained copies of the filter/transform
    would drift the moment one is edited). A pure projection of the row's
    own spans: the markdown embeds need no join of turns back to
    crop_regions(turns), which would run the extractor twice (two
    MapInPandas branches of the same source) and shuffle.
    ``extra_fields(sp, i)`` returns struct fields appended after
    img_idx/crop_path."""
    return F.transform(
        F.filter(
            F.coalesce(F.col("spans"), F.array()),
            lambda sp: F.coalesce(sp["is_image"], F.lit(False)),
        ),
        lambda sp, i: F.struct(
            i.cast("int").alias("img_idx"),
            _crop_path(i).alias("crop_path"),
            *(extra_fields(sp, i) if extra_fields else ()),
        ),
    )


def crop_regions(turns: DataFrame) -> DataFrame:
    """Per-turn image-span records → (conv_id, turn_idx, img_idx, crop_path,
    x1..y2). ``img_idx`` numbers image spans in span (match) order within
    the turn. Image spans are selected by the ``is_image`` flag the
    extractor computed with the reference's IMAGE_MARK-containment rule —
    the same rule that numbers markdown placeholders — so crop records and
    placeholders can never misalign.

    Pure projection: the spans array is already in span order, so the
    filtered array's POSITION is the image index — no per-page window
    (which would shuffle the whole turns table on page identity just to
    number spans each row already holds).

    Numbering counts ALL image spans, bbox parse failures included (the
    reference enumerates matches_images before cropping,
    run_dpsk_ocr_pdf.py:316), so a failed-parse span still consumes an
    index and crop paths align with the numbered placeholders."""
    recs = _image_spans_numbered(
        lambda sp, i: (
            sp["bbox"][0][0].alias("x1"),
            sp["bbox"][0][1].alias("y1"),
            sp["bbox"][0][2].alias("x2"),
            sp["bbox"][0][3].alias("y2"),
        )
    )
    return turns.select(
        "conv_id", "turn_idx", F.explode(recs).alias("r")
    ).select(
        "conv_id", "turn_idx",
        "r.img_idx", "r.crop_path", "r.x1", "r.y1", "r.x2", "r.y2",
    )


def _replace_first(acc, search, repl):
    """Replace the FIRST occurrence of ``search`` in ``acc`` — the JVM
    expression equivalent of Python ``str.replace(old, new, 1)``. All three
    args are Columns (``F.replace`` would rewrite every occurrence)."""
    pos = F.position(search, acc)
    return F.when(
        pos > 0,
        F.concat(
            acc.substr(F.lit(1), pos - 1),
            repl,
            acc.substr(pos + F.length(search), F.length(acc)),
        ),
    ).otherwise(acc)


def _embed_placeholders(replacement):
    """The markdown-embed fold: replace each ``**[图片 N]**`` placeholder
    (N = 1-based crop order) in ``markdown_text``, first occurrence only,
    with ``replacement(crop, N)`` — a JVM ``aggregate`` over the row's own
    image spans, in crop order."""

    def step(acc, c):
        n = (c["img_idx"] + 1).cast("string")
        placeholder = F.concat(F.lit("**[图片 "), n, F.lit("]**"))
        return _replace_first(acc, placeholder, replacement(c, n))

    return F.aggregate(_image_spans_numbered(), F.col("markdown_text"), step)


def embed_crops_in_markdown(turns: DataFrame) -> DataFrame:
    """E14 analog: replace ``**[图片 N]**`` (N = 1-based crop order) in
    ``markdown_text`` with a markdown image link to the crop record's path,
    one replacement per crop in order — a JVM ``aggregate`` fold over the
    row's own image spans: no Python, no shuffle, no second extraction.

    Each placeholder is replaced FIRST-occurrence-only, exactly the
    reference's sequential ``str.replace(..., 1)`` loop (app/utils.py:
    139-147): a payload whose OCR'd body legitimately contains the literal
    placeholder string keeps the body copy untouched."""
    embedded = _embed_placeholders(
        lambda c, n: F.concat(F.lit("![]("), c["crop_path"], F.lit(")"))
    )
    return turns.select(
        "conv_id", "turn_idx", embedded.alias("markdown_embedded")
    )


def embed_crops_in_markdown_b64(turns: DataFrame, media: DataFrame) -> DataFrame:
    """E14 full analog (app/utils.py:130-147): splice each crop as a
    ``data:image/png;base64,...`` URI. The reference crops pixels from the
    page image and base64s the PNG; here the page's binary payload comes
    from ``media`` — columns ``(conv_id, turn_idx, payload)``, one row per
    page — the codec seam being the multimodal fake codec. Replacement
    string and count=1-per-placeholder loop match the reference exactly:
    ``\\n\\n![图片 N](data:image/png;base64,{b64})\\n\\n``.

    The join key is the FULL page identity (conv_id, turn_idx): turn
    indices restart per conversation, so a turn_idx-only join would hand
    conversation A's page-0 payload to every other conversation's page 0.

    JVM end-to-end: one equi-join (media side prunable to key+payload) and
    an ``aggregate`` fold of first-occurrence replacements over the row's
    own image spans (no second extraction branch, no crop shuffle).

    SCALE CAVEAT: absent a pixel codec there is ONE payload per page, so
    the full page payload is spliced at EVERY placeholder — a page with P
    payload bytes and M image spans emits ~M x 4/3 x P of markdown (the
    reference splices per-region PNG crops, which sum to at most ~one page).
    Real deployments must slot per-region crops into ``media`` (one row per
    (conv_id, turn_idx) stays the contract; pre-crop payloads upstream) or
    cap M x P before materializing this column at 100 TB."""
    payloads = media.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        # Spark's base64() emits MIME-chunked output (CRLF every 76 chars)
        # on this build; data: URIs need the unchunked RFC 4648 form, which
        # is also what the reference's python b64encode produces
        F.replace(F.base64("payload"), F.lit("\r\n"), F.lit("")).alias("b64"),
    )
    j = turns.join(payloads, ["conv_id", "turn_idx"], "left")
    embedded = F.when(F.col("b64").isNull(), F.col("markdown_text")).otherwise(
        _embed_placeholders(
            lambda c, n: F.concat(
                F.lit("\n\n![图片 "),
                n,
                F.lit("](data:image/png;base64,"),
                F.col("b64"),
                F.lit(")\n\n"),
            )
        )
    )
    return j.select("conv_id", "turn_idx", embedded.alias("markdown_embedded"))


def label_color_map(turns: DataFrame, seed: int = 42) -> DataFrame:
    """Per-label first-seen color assignment (E13 app variant analog:
    seeded per-label colors for the box-annotation overlay,
    app/processors.py:31-106, seed at :57).

    Deterministic semantics: labels ranked by first occurrence in stable
    (conv_id, turn_idx, span order); color i = i-th RGB triple of the
    numpy RandomState(seed) stream, matching the reference's successive
    per-channel ``np.random.randint(50, 255)`` draws after
    ``np.random.seed(42)`` (app/processors.py:57-66) exactly — a matrix
    ``randint(50, 255, size=(n, 3))`` consumes the MT stream identically.
    The rank window is a single partition —
    fine, because distinct labels form a dimension-sized table (the
    reference holds them in one python dict), not a data-sized one.
    """
    from pyspark.sql import Window
    from pyspark.sql.pandas.functions import pandas_udf

    s = turns.select(
        "conv_id", "turn_idx", F.posexplode("spans").alias("span_pos", "sp")
    ).select("conv_id", "turn_idx", "span_pos", F.col("sp.label").alias("label"))
    firsts = s.groupBy("label").agg(
        F.min(F.struct("conv_id", "turn_idx", "span_pos")).alias("first_seen")
    )
    ranked = firsts.withColumn(
        "color_idx",
        F.row_number().over(Window.orderBy("first_seen")) - 1,
    )

    def _rgb(idx):
        import numpy as np
        import pandas as pd

        if not len(idx):
            return pd.DataFrame({"r": [], "g": [], "b": []}, dtype="int32")
        n = int(idx.max()) + 1
        palette = np.random.RandomState(seed).randint(50, 255, size=(n, 3))
        picked = palette[idx.to_numpy(dtype="int64")]
        return pd.DataFrame(
            {"r": picked[:, 0], "g": picked[:, 1], "b": picked[:, 2]}
        ).astype("int32")

    rgb = pandas_udf(_rgb, "r int, g int, b int")

    return ranked.select(
        "label",
        F.col("first_seen.conv_id").alias("first_conv_id"),
        F.col("first_seen.turn_idx").alias("first_turn_idx"),
        "color_idx",
        rgb(F.col("color_idx")).alias("rgb"),
    )


def _match_starts(needle: str):
    """Array column of 0-based match offsets of ``needle`` in clean_text,
    OVERLAPPING occurrences included (position-scan semantics: 'abab' in
    'ababab' matches at 0 AND 2).

    JVM-only, two strategies, both one linear pass over the text plus an
    O(matches²) offset fold (``array_append`` copies the accumulator per
    boundary — negligible for realistic needle frequencies, quadratic on
    degenerate dense-match payloads like a needle of dots against a
    megabyte dot-ruler; both strategies share this fold, so density, not
    borderedness, is the only caveat):

    - a needle with no proper border (no prefix that is also a suffix)
      cannot self-overlap, so splitting ON the needle and cumulating part
      lengths (+ needle length per boundary) recovers every offset;
    - a self-overlapping needle splits on the ZERO-WIDTH lookahead
      ``(?=needle)`` instead: Java's split places a boundary at every
      match position including overlapping ones (the matcher advances one
      char after a zero-width match), so boundaries = match starts with
      nothing consumed. One linear regex pass — the previous
      per-position ``substr`` enumeration was O(L) per candidate (UTF8
      char-offset scan), i.e. quadratic on multi-MB payloads, besides
      materializing an L-element transient array per row. Java 8+ drops
      the empty leading part of a zero-width match at position 0, so a
      text starting with the needle contributes offset 0 explicitly."""
    n = len(needle)
    bordered = any(needle[:k] == needle[-k:] for k in range(1, n))
    # bordered: zero-width boundaries, nothing consumed per match
    pattern, step = (f"(?={re.escape(needle)})", 0) if bordered else (re.escape(needle), n)
    parts = F.split("clean_text", pattern, -1)
    folded = F.aggregate(
        F.slice(parts, 1, F.size(parts) - 1),
        F.struct(F.array().cast("array<int>").alias("offs"), F.lit(0).alias("cum")),
        lambda acc, p: F.struct(
            F.array_append(acc["offs"], (acc["cum"] + F.length(p)).cast("int")).alias("offs"),
            (acc["cum"] + F.length(p) + step).alias("cum"),
        ),
        lambda acc: acc["offs"],
    )
    if not bordered:
        return folded
    return F.when(
        F.col("clean_text").startswith(needle),
        F.concat(F.array(F.lit(0)), folded),
    ).otherwise(folded)


def _hits(turns: DataFrame, needle: str, *carry: str) -> DataFrame:
    """``locate``'s rows, plus the matched turn's ``carry`` columns."""
    if not needle:
        raise ValueError("needle must be non-empty")
    starts = _match_starts(needle)
    return turns.filter(F.size(starts) > 0).select(
        "conv_id", "turn_idx", *carry, F.explode(starts).alias("match_start")
    ).select(
        "conv_id",
        "turn_idx",
        F.col("match_start").cast("int").alias("match_start"),
        (F.col("match_start") + len(needle)).cast("int").alias("match_end"),
        *carry,
    )


def locate(turns: DataFrame, needle: str) -> DataFrame:
    """Q3 locate mode: every occurrence of ``needle`` in ``clean_text`` →
    (conv_id, turn_idx, match_start, match_end), 0-based offsets."""
    return _hits(turns, needle)


def locate_with_spans(turns: DataFrame, needle: str) -> DataFrame:
    """Locate + any grounded span overlapping each hit (the reference's
    grounding response to a Locate prompt: the ref box for the needle).

    Pure projection: both the match offsets and the candidate spans live
    on the SAME row, so the overlap pairing is an explode over per-row
    arrays — a join of locate(turns) back to turns would run the whole
    extraction DAG twice and shuffle on page identity. A hit with no
    overlapping span yields exactly one all-null row (explode_outer of the
    empty filtered array), one row per genuinely overlapping span
    otherwise — the same left-join-on-overlap semantics."""
    hits = _hits(turns, needle, "spans")
    overlapping = F.filter(
        F.coalesce(F.col("spans"), F.array()),
        lambda sp: (sp["start"] < F.col("match_end"))
        & (sp["end"] > F.col("match_start")),
    )
    return hits.select(
        "conv_id", "turn_idx", "match_start", "match_end",
        F.explode_outer(overlapping).alias("sp"),
    ).select(
        "conv_id", "turn_idx", "match_start", "match_end",
        F.col("sp.start").alias("span_start"),
        F.col("sp.end").alias("span_end"),
        F.col("sp.label").alias("label"),
    )


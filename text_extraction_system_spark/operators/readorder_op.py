"""Reading-order reconstruction over multi-column word-box pages
(north_star "column and reading-order reconstruction"; SURVEY.md layout
parse — Java sortByPosition / processPage visual re-sort analog).

Deterministic synthetic layout (the sandbox stand-in for the glyph boxes a
PDF parser emits): each doc's tokens are typeset 4 words per line on a
1-3-column page (column count from md5), columns filled top-to-bottom then
left-to-right — and the rows are handed to the operator in a SCRAMBLED,
md5-keyed order, so the only way to reproduce the original token sequence is
to actually reconstruct the columns geometrically. The oracle is therefore
brutal and simple: reconstructed text must equal the token stream.

Scale shape: the query synthesizes per-doc box arrays in one
``arrowmap.map_rows`` pass and reconstructs them with an Arrow-batched UDF
around core.readorder (numpy x-projection cut) — no shuffle. The exploded
word-box TABLE form (Catalyst synthesis) goes through one hash shuffle
grouping a page's words first. No driver-side state.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import arrowmap
from ..core import readorder
from . import textstats
from .exprutil import let

_HEX = "0123456789abcdef"

WORDS_PER_LINE = 4
LINE_H = 20
CHAR_W = 8

_OUT = "doc_id string, reconstructed string, n_columns int"


def _synth_box_structs(docs: DataFrame) -> DataFrame:
    """(doc_id, boxes array<struct<shuf,word,x,y,w,h>>) in md5-scrambled
    order — the Catalyst synthesis behind the exploded word-box table.

    Layout: line(i) = i//4; columns split the line range evenly
    (lines_per_col = ceil(total_lines/n_cols)); per-doc column pitch =
    32*(max_word_len+1) + 40, so the inter-column gap always exceeds the
    intra-line word gap (8 px) by more than COLUMN_GAP_MIN."""
    docs = docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    doc_id = F.col("doc_id")
    h = F.md5(F.concat(F.lit("cols:"), doc_id))
    n_cols = 1 + (F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - 1) % 3

    def boxes_of(toks: Column) -> Column:
        n = F.size(toks)
        total_lines = F.ceil(n / WORDS_PER_LINE).cast("int")
        lines_per_col = F.ceil(total_lines / n_cols).cast("int")
        max_len = F.array_max(F.transform(toks, F.length))
        pitch = (WORDS_PER_LINE * CHAR_W) * (max_len + 1) + 40

        def box(i: Column) -> Column:
            line = F.floor(i / WORDS_PER_LINE).cast("int")
            k = i % WORDS_PER_LINE  # index within the line
            prev = F.slice(toks, line * WORDS_PER_LINE + 1, k)
            x_in_line = F.aggregate(
                prev, F.lit(0), lambda a, t: a + CHAR_W * (F.length(t) + 1)
            )
            col = F.floor(line / lines_per_col).cast("int")
            word = F.element_at(toks, i + 1)
            # shuffle key FIRST: array_sort on struct arrays orders by the
            # first field, avoiding an interpreted comparator lambda (the
            # same trick as restitch's ordered gather)
            return F.struct(
                F.md5(F.concat(doc_id, F.lit(":"), i.cast("string"))).alias("shuf"),
                word.alias("word"),
                (col * pitch + x_in_line).cast("double").alias("x"),
                ((line % lines_per_col) * LINE_H).cast("double").alias("y"),
                (CHAR_W * F.length(word)).cast("double").alias("w"),
                F.lit(float(LINE_H)).alias("h"),
            )

        idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.array_sort(F.transform(idx, box))  # scrambled by md5 key

    return docs.select(
        "doc_id",
        let(textstats.tokens_col(F.col("text")), boxes_of).alias("boxes"),
    )


def synth_word_boxes(docs: DataFrame) -> DataFrame:
    """(doc_id, word, x, y, w, h) rows in md5-scrambled order — the exploded
    word-box TABLE form (what a PDF parser would emit row-wise)."""
    rows = _synth_box_structs(docs).select(
        "doc_id", F.explode("boxes").alias("b")
    )
    return rows.select(
        "doc_id",
        F.col("b.word").alias("word"),
        F.col("b.x").alias("x"),
        F.col("b.y").alias("y"),
        F.col("b.w").alias("w"),
        F.col("b.h").alias("h"),
    )


def _reconstruct_udf():
    def batch(words: pd.Series, xs: pd.Series, ys: pd.Series, ws: pd.Series) -> pd.DataFrame:
        out = {"reconstructed": [], "n_columns": []}
        for wd, x, y, w in zip(words, xs, ys, ws):
            x = np.asarray(x, dtype=np.float64)
            y = np.asarray(y, dtype=np.float64)
            w = np.asarray(w, dtype=np.float64)
            order = readorder.reading_order(x, y, w)
            out["reconstructed"].append(" ".join(np.asarray(wd, dtype=object)[order]))
            out["n_columns"].append(readorder.n_columns(x, w))
        return pd.DataFrame(out)

    return F.pandas_udf(batch, "struct<reconstructed:string,n_columns:int>")


def reconstruct_reading_order(word_boxes: DataFrame, key: str = "doc_id") -> DataFrame:
    """(key, word, x, y, w, h) rows -> (key, reconstructed, n_columns):
    column detection + visual ordering per page via core.readorder.

    The general operator for an external word-box TABLE: one hash shuffle
    groups a page's words, then the Arrow UDF reconstructs. When the boxes
    already live in per-doc arrays, use reconstruct_from_box_arrays — same
    kernel, zero shuffle."""
    udf = _reconstruct_udf()
    agg = word_boxes.groupBy(key).agg(
        F.collect_list("word").alias("words"),
        F.collect_list("x").alias("xs"),
        F.collect_list("y").alias("ys"),
        F.collect_list("w").alias("ws"),
    )
    res = agg.select(key, udf("words", "xs", "ys", "ws").alias("r"))
    return res.select(key, "r.reconstructed", "r.n_columns")


def reconstruct_from_box_arrays(arrs: DataFrame, key: str = "doc_id") -> DataFrame:
    """(key, words, xs, ys, ws) array columns -> (key, reconstructed,
    n_columns). Shuffle-free twin of reconstruct_reading_order: the kernel
    is geometric-order-invariant, so rows already holding a doc's boxes as
    arrays skip the explode -> groupBy(collect_list) round trip entirely
    (at sf0.1 that round trip shuffled ~2.6M word rows just to re-group
    them — half the query's cost)."""
    udf = _reconstruct_udf()
    res = arrs.select(key, udf("words", "xs", "ys", "ws").alias("r"))
    return res.select(key, "r.reconstructed", "r.n_columns")


def reading_order_query(spark, sf_dir: str) -> DataFrame:
    # single row-group input: spread the scan or every downstream kernel
    # runs in one task (see partitioning.spread_unsplittable)
    from .partitioning import spread_unsplittable

    docs = spread_unsplittable(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id"
    )
    # zero-token docs have no reading order (the exploded path dropped them
    # implicitly; the array path must filter). trim(text) != '' is exactly
    # "has at least one token" and costs nothing vs re-tokenizing.
    docs = docs.where(F.trim(F.col("text")) != "")
    return reconstruct_from_box_arrays(synth_word_box_arrays_arrow(docs))


def synth_word_box_arrays_arrow(docs: DataFrame) -> DataFrame:
    """(doc_id, words, xs, ys, ws) — the synthesized scrambled boxes kept
    in per-doc arrays (no explode), for the shuffle-free reconstruction
    path. Same layout as ``_synth_box_structs``: same tokenization
    (textstats.py_tokens), md5 column count and shuffle keys, integer
    layout arithmetic (exact as doubles) and scramble order (sorted by the
    md5 hex key). The Catalyst synthesis pays an interpreted slice+fold
    and an md5 per TOKEN; here it is C-speed python (~2 s -> ~0.6 s at
    sf0.1). Pinned by the ``reading_order`` oracle."""
    import hashlib

    def rows(doc_id, text):
        toks = textstats.py_tokens(text)
        h0 = hashlib.md5(f"cols:{doc_id}".encode()).hexdigest()[0]
        n_cols = 1 + _HEX.index(h0) % 3
        n = len(toks)
        total_lines = -(-n // WORDS_PER_LINE)
        lines_per_col = -(-total_lines // n_cols) if total_lines else 1
        max_len = max((len(t) for t in toks), default=0)
        pitch = (WORDS_PER_LINE * CHAR_W) * (max_len + 1) + 40
        boxes = []
        x_in_line = 0
        for i, word in enumerate(toks):
            line, k = divmod(i, WORDS_PER_LINE)
            if k == 0:
                x_in_line = 0
            col = line // lines_per_col
            shuf = hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest()
            boxes.append((
                shuf, word,
                float(col * pitch + x_in_line),
                float((line % lines_per_col) * LINE_H),
                float(CHAR_W * len(word)),
            ))
            x_in_line += CHAR_W * (len(word) + 1)
        boxes.sort()  # scramble: md5-hex key order, as array_sort
        _, words, xs, ys, ws = zip(*boxes) if boxes else ((),) * 5
        yield doc_id, words, xs, ys, ws

    return arrowmap.map_rows(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
        rows,
        "doc_id string, words array<string>, xs array<double>, "
        "ys array<double>, ws array<double>",
    )

"""Column detection + reading-order reconstruction (core.readorder +
operators/readorder_op)."""

from __future__ import annotations

import numpy as np

from text_extraction_system_spark.core import readorder as R


def test_column_spans_merge_and_split():
    # two columns: words at x 0-50ish and 400-450ish; intra gaps < 20
    x = np.array([0.0, 30.0, 400.0, 430.0])
    w = np.array([25.0, 20.0, 25.0, 20.0])
    spans = R.column_spans(x, w)
    assert len(spans) == 2
    assert spans[0] == (0.0, 50.0) and spans[1] == (400.0, 450.0)


def test_reading_order_two_columns():
    """Row-major visual positions must come back column-major."""
    # col 0: (0,0)"a" (0,20)"b"; col 1: (400,0)"c" (400,20)"d"
    words = np.array(["a", "c", "b", "d"], dtype=object)
    x = np.array([0.0, 400.0, 0.0, 400.0])
    y = np.array([0.0, 0.0, 20.0, 20.0])
    w = np.array([10.0, 10.0, 10.0, 10.0])
    order = R.reading_order(x, y, w)
    assert list(words[order]) == ["a", "b", "c", "d"]
    assert R.n_columns(x, w) == 2


def test_reading_order_single_column_rowwise():
    x = np.array([0.0, 40.0, 0.0])
    y = np.array([0.0, 0.0, 20.0])
    w = np.array([30.0, 30.0, 30.0])   # gap 10 < 20 -> one column
    order = R.reading_order(x, y, w)
    assert list(order) == [0, 1, 2]
    assert R.n_columns(x, w) == 1


def test_empty_page():
    assert R.n_columns(np.array([]), np.array([])) == 0
    assert len(R.reading_order(np.array([]), np.array([]), np.array([]))) == 0


def test_operator_recovers_scrambled_tokens(spark):
    """End-to-end: the operator's scrambled synthetic word boxes -> exact
    token sequence (the oracle's contract, checked here against the raw
    tokens directly)."""
    from text_extraction_system_spark.operators import readorder_op, textstats
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    got = {
        r["doc_id"]: (r["reconstructed"], r["n_columns"])
        for r in readorder_op.reading_order_rows(docs).collect()
    }
    exp = {
        r["doc_id"]: r["t"]
        for r in docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.array_join(textstats.word_tokens_col(F.col("text")), " ").alias("t"),
        ).collect()
    }
    assert len(got) == 50
    n_multi = 0
    for doc_id, (text, ncols) in got.items():
        assert text == exp[doc_id], doc_id
        assert 1 <= ncols <= 3
        n_multi += ncols > 1
    assert n_multi > 0  # the corpus actually exercises multi-column pages


def test_reading_order_roundtrip_random_layouts():
    """Property: for ANY words typeset with the layout rules (n columns,
    4 words/line, pitch > max line width + gap), reconstruction recovers the
    exact word sequence — including degenerate cases the corpus never hits
    (1 word, exactly one line per column, max-length words)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.text(alphabet="abcdefgh", min_size=1, max_size=12),
                 min_size=1, max_size=120),
        st.integers(min_value=1, max_value=4),
        st.randoms(),
    )
    def run(words, n_cols, rng):
        wpl, char_w, line_h = 4, 8, 20
        max_len = max(len(w) for w in words)
        pitch = wpl * char_w * (max_len + 1) + 40
        total_lines = -(-len(words) // wpl)
        lpc = -(-total_lines // n_cols)
        xs, ys, ws = [], [], []
        for i, w in enumerate(words):
            line, k = divmod(i, wpl)
            col, row = divmod(line, lpc)
            x_in = sum(char_w * (len(words[line * wpl + j]) + 1) for j in range(k))
            xs.append(float(col * pitch + x_in))
            ys.append(float(row * line_h))
            ws.append(float(char_w * len(w)))
        order = list(range(len(words)))
        rng.shuffle(order)
        xs2 = np.array([xs[i] for i in order])
        ys2 = np.array([ys[i] for i in order])
        ws2 = np.array([ws[i] for i in order])
        wd2 = [words[i] for i in order]
        perm = R.reading_order(xs2, ys2, ws2)
        assert [wd2[i] for i in perm] == words
        assert R.n_columns(xs2, ws2) == -(-total_lines // lpc)

    run()

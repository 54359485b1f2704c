"""Text-analytics operators — token stats, quality scoring, language ID,
document fingerprinting, simhash, repetition, TF-IDF. Column expressions
are pure Catalyst (JVM-side, whole-stage codegen); the per-document Python
kernels (simhash, repetition, TF-IDF) run through ``arrowmap``; all split
tokens on WS_REGEX. Every operator has a DuckDB-SQL twin in ``__spark_entry__``.

These are the training-data-pipeline operators layered on top of the
reference's extraction capabilities (task brief: dedup / quality / lang-ID /
token counting / fingerprinting as first-class components). Language ID
mirrors the reference's per-segment fastText usage (``data_extract/lang.py``)
via the deterministic stopword scorer of ``core.langid``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import arrowmap, schemas
from ..core import spec

#: the token separators, Java's ``\s`` spelled out: Python's is wider (\x1c-\x1f,
#: \x85, \xa0, Unicode spaces) and RE2's narrower (no \x0b)
WS_REGEX = r"[ \t\n\x0b\f\r]+"


def word_tokens_col(text: Column) -> Column:
    """Whitespace tokens, lowercased, WS_REGEX runs squashed first
    (lang.py:10,23); ``trim`` strips spaces only."""
    squashed = F.trim(F.regexp_replace(F.lower(text), WS_REGEX, " "))
    return F.filter(F.split(squashed, " "), lambda w: w != "")


def token_count_col(text: Column) -> Column:
    return F.size(word_tokens_col(text)).cast("bigint")


#: BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation marks
BPE_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count_col(text: Column) -> Column:
    """Subword-style token count (letter runs / digit runs / punct marks) —
    the cheap proxy for BPE token budgeting in training-data pipelines."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_REGEX), F.lit(0))).cast(
        "bigint"
    )


def _stopword_hits(tokens: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(w) for w in spec.LANG_STOPWORDS[lang]])
    return F.size(F.filter(tokens, lambda t: F.array_contains(sw, t)))


def detect_language_from_tokens(toks: Column, text: Column) -> Column:
    """Argmax of stopword hits with LANG_PRIORITY tie-break; all-zero -> 'en'.
    Matches ``core.langid.detect_language`` exactly. Takes the token array
    as a BOUND value so callers can share one tokenization across signals
    (the naive per-signal form re-evaluated word_tokens_col once per stopword
    table — 12x per row)."""
    h = {lang: _stopword_hits(toks, lang) for lang in spec.LANG_PRIORITY}
    return (
        F.when(F.regexp_count(text, F.lit(spec.CJK_REGEX)) > 0, "zh")
        .when((h["de"] > h["en"]) & (h["de"] >= h["es"]) & (h["de"] >= h["fr"]), "de")
        .when((h["es"] > h["en"]) & (h["es"] > h["de"]) & (h["es"] >= h["fr"]), "es")
        .when((h["fr"] > h["en"]) & (h["fr"] > h["de"]) & (h["fr"] > h["es"]), "fr")
        .otherwise("en")
    )


def detect_language_col(text: Column) -> Column:
    """One-shot form: tokens let-bound, detection applied once."""
    from .exprutil import let

    return let(word_tokens_col(text), lambda toks: detect_language_from_tokens(toks, text))


def quality_cols(text: Column) -> dict[str, Column]:
    """Quality-scoring signals: word count, mean word length, stopword ratio,
    punctuation ratio, and a composite keep-score in [0,1]."""
    return quality_cols_from_tokens(word_tokens_col(text), text)


def quality_cols_from_tokens(toks: Column, text: Column) -> dict[str, Column]:
    """``quality_cols`` with the token array passed as a bound value (see
    detect_language_from_tokens for why)."""
    n_words = F.size(toks)
    n_chars = F.length(text)
    all_sw = sorted({w for ws in spec.LANG_STOPWORDS.values() for w in ws})
    sw_arr = F.array(*[F.lit(w) for w in all_sw])
    sw_hits = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[.,;:!?'\"()\[\]]", ""))
    safe_words = F.greatest(n_words, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    # no rounding anywhere: both engines produce bit-identical IEEE doubles
    # from identical integer inputs; round() half-up vs binary boundaries
    # would otherwise disagree in the last decimal
    mean_word_len = (
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t))
        / safe_words
    )
    stopword_ratio = sw_hits / safe_words
    punct_ratio = n_punct / safe_chars
    score = F.when(n_words < spec.QUALITY_MIN_WORDS, 0.0).otherwise(
        F.least(F.lit(1.0), n_words / F.lit(100.0)) * 0.5
        + F.least(F.lit(1.0), stopword_ratio * 5) * 0.3
        + (1.0 - F.least(F.lit(1.0), punct_ratio * 10)) * 0.2
    )
    return {
        "n_words": n_words.cast("bigint"),
        "mean_word_len": mean_word_len,
        "stopword_ratio": stopword_ratio,
        "punct_ratio": punct_ratio,
        "quality_score": score,
    }


def token_hash_col(token: Column, hex_chars: int = spec.FP_HEX_CHARS) -> Column:
    """First ``hex_chars`` hex chars of md5(token) as an integer — same value
    as positional hex arithmetic (the DuckDB oracle's formulation), computed
    with ONE ``conv(hex, 16, 10)`` instead of ``hex_chars`` interpreted
    substring+instr ops per token (2x on the md5 stage at sf0.1)."""
    return F.conv(F.substring(F.md5(token), 1, hex_chars), 16, 10).cast("bigint")


def fingerprint_col(text: Column) -> Column:
    """Rolling polynomial hash over token hashes:
    acc = (acc*FP_BASE + tok) % FP_MOD, acc0 = 0."""
    toks = word_tokens_col(text)
    hashes = F.transform(toks, lambda t: token_hash_col(t) % spec.FP_MOD)
    return F.aggregate(
        hashes,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * spec.FP_BASE + h) % spec.FP_MOD,
    )


#: the full Gopher repetition battery (Rae et al. 2021, Table A1): top
#: n-gram character share for these n ...
TOP_NS = (2, 3, 4)
#: ... and duplicate n-gram character share for these n. Char shares count
#: every occurrence of a gram (sum cnt*len / sum over all occurrences),
#: the Dolma/RedPajama reimplementation convention — Gopher's
#: no-double-count character coverage needs positional interval merging,
#: which buys little discrimination for meaningfully more state.
DUP_NS = (5, 6, 7, 8, 9, 10)


#: ``py_tokens``' map of the WS_REGEX characters other than space to space
_WS_TO_SPACE = str.maketrans("\t\n\x0b\f\r", "     ")


def py_tokens(text: str) -> list:
    """Python twin of ``word_tokens_col``, shared by the Arrow kernels:
    ``str.translate`` then ``split(" ")`` gives squash -> trim -> split's
    tokens at half a regex's cost."""
    return [w for w in (text or "").lower().translate(_WS_TO_SPACE).split(" ") if w]


#: simhash width: one bit per bit of a token's 8-hex-char md5 prefix
SIMHASH_BITS = 32


def simhash_rows(docs):
    """(doc_id, simhash) per doc: for each of the SIMHASH_BITS bits, every
    token votes +1/-1 by that bit of its 8-hex-char md5 hash; the bit is
    set iff the vote is > 0. Exact integer arithmetic over the
    ``word_tokens_col`` token stream, so the DuckDB ``simhash`` oracle
    reproduces every value. A Catalyst vote fold costs 32 interpreted
    zip_with lambdas per token; numpy does the votes in one (tokens x bits)
    pass (~1.5 s -> ~0.4 s at sf0.1)."""
    import hashlib

    import numpy as np

    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)

    def rows(doc_id, text):
        toks = py_tokens(text)
        if not toks:
            yield doc_id, 0  # zero tokens leave every vote 0
            return
        H = np.fromiter(
            (int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks),
            dtype=np.uint64, count=len(toks),
        )
        ones = ((H[:, None] >> shifts[None, :]) & 1).sum(axis=0)
        votes = 2 * ones.astype(np.int64) - len(toks)
        yield doc_id, int(((votes > 0).astype(np.uint64) << shifts).sum())

    return arrowmap.map_rows(
        schemas.documents(docs), rows, "doc_id string, simhash bigint"
    )


#: tokens above which the numpy rolling-key chain beats python Counters in
#: ``repetition_rows_arrow`` (measured: per-call numpy overhead dominates
#: below ~this size — the sf corpora average ~57 tokens/doc and Counters
#: are ~2.5x faster there; a 100k-token giant doc inverts it)
NP_CHAIN_MIN_TOKENS = 4096


def repetition_rows_arrow(assembled):
    """Gopher-style repetition quality signals over the EXTRACTED text (the
    post-extraction filter every LLM data pipeline runs — Rae et al. 2021
    'repetition' heuristics): fraction of duplicate lines (count and
    char-weighted), the character share of the most frequent word n-gram
    for n in TOP_NS, and the duplicate-n-gram character share for n in
    DUP_NS. Line identity uses the engine's own '\\n' paragraph separators
    ('\\f' page marks stripped first); in this text model lines ARE the
    paragraphs, so Gopher's line/paragraph pairs collapse to one family.
    Docs with no line or fewer than 2 tokens emit no row; docs too short
    for a gram size carry None for that column. Ties on a top gram break
    to the lexicographically smallest gram. Pinned by the ``repetition``
    oracle (generated per-n SQL CTEs).

    Shuffle-free: per-doc line/n-gram counting is bounded by the doc's own
    size, so python Counters per doc beat exploding every line and n-gram
    into corpus-wide shuffles — at 10^12 docs the exploded groupBy shape
    moves ~tokens-many rows through the cluster once PER GRAM SIZE (nine
    times for the full battery) for counts each task could produce
    locally. N-grams are counted WITHOUT building a string per occurrence
    — token-tuple Counters for ordinary docs, a numpy rolling dense-key
    chain for giant ones (NP_CHAIN_MIN_TOKENS switch) — and only
    top-count candidates are joined to strings for the tie-break."""
    from collections import Counter

    import numpy as np

    frac_cols = (
        [f"top_{n}gram_char_frac" for n in TOP_NS[1:]]
        + [f"dup_{n}gram_char_frac" for n in DUP_NS]
    )

    def fracs_counter(toks, csum, max_n):
        """Per-n gram fractions via python tuple Counters — the fast shape
        for ordinary documents (tiny constant factors; windows materialize
        as tuples via one C-level zip per size)."""
        tops, dups = {}, {}
        top_gram2 = None
        m1 = len(toks)
        for n in range(2, max_n + 1):
            m = m1 - n + 1
            if m <= 0:
                break
            cnt = Counter(zip(*(toks[i:m + i] for i in range(n))))
            tot = int(csum[n:m + n].sum() - csum[:m].sum()) + (n - 1) * m
            if n in TOP_NS:
                mx = max(cnt.values())
                top = min(" ".join(t) for t, c in cnt.items() if c == mx)
                tops[n] = mx * len(top) / tot
                if n == 2:
                    top_gram2 = top
            if n in DUP_NS:
                dup = sum(
                    c * (sum(map(len, t)) + n - 1)
                    for t, c in cnt.items() if c > 1
                )
                dups[n] = dup / tot
        return top_gram2, tops, dups

    def fracs_chain(toks, ids, n_vocab, csum, max_n):
        """Same fractions via an incremental dense rolling encoding: level
        n's gram keys are (level n-1 dense key, next token id) pairs packed
        into one int64 and re-densified by a 1-D np.unique — one C-speed
        sort per gram size, no per-window python objects. Keys stay < m *
        n_vocab, far inside int64 for any in-memory document; this is the
        giant-doc shape."""
        tops, dups = {}, {}
        top_gram2 = None
        prev = ids.astype(np.int64)
        for n in range(2, max_n + 1):
            m = len(ids) - n + 1
            if m <= 0:
                break
            comb = prev[:m] * np.int64(n_vocab) + ids[n - 1:]
            _u, first, inverse, counts = np.unique(
                comb, return_index=True, return_inverse=True,
                return_counts=True,
            )
            occ_lens = csum[n:m + n] - csum[:m] + (n - 1)
            tot = int(occ_lens.sum())
            if n in TOP_NS:
                mx = int(counts.max())
                top = min(" ".join(toks[p:p + n]) for p in first[counts == mx])
                tops[n] = mx * len(top) / tot
                if n == 2:
                    top_gram2 = top
            if n in DUP_NS:
                d = counts > 1
                lens_u = occ_lens[first]
                dups[n] = int((counts[d] * lens_u[d]).sum()) / tot
            prev = inverse
        return top_gram2, tops, dups

    def rows(doc_id, text):
        lines = [x for x in (text or "").replace("\f", "").split("\n") if x]
        toks = py_tokens(text)
        if not lines or len(toks) < 2:
            return
        csum = np.concatenate((
            [0], np.cumsum([len(t) for t in toks], dtype=np.int64)
        ))
        lc = Counter(lines)
        n_lines = len(lines)
        line_chars = sum(len(l) for l in lines)
        dup_chars = sum(c * len(l) for l, c in lc.items() if c > 1)
        if len(toks) >= NP_CHAIN_MIN_TOKENS:
            vocab, ids = np.unique(np.array(toks), return_inverse=True)
            top_gram, tops, dups = fracs_chain(
                toks, ids, len(vocab), csum, max(DUP_NS)
            )
        else:
            top_gram, tops, dups = fracs_counter(toks, csum, max(DUP_NS))
        yield (
            doc_id, n_lines, (n_lines - len(lc)) / n_lines,
            dup_chars / line_chars, top_gram, tops[2],
            *[tops.get(n) for n in TOP_NS[1:]],
            *[dups.get(n) for n in DUP_NS],
        )

    return arrowmap.map_rows(
        assembled.select("doc_id", "plain_text"), rows,
        "doc_id string, n_lines bigint, dup_line_frac double, "
        "dup_line_char_frac double, top_gram string, "
        "top_gram_char_frac double, "
        + ", ".join(f"{c} double" for c in frac_cols),
    )


def tfidf_keywords(docs, k: int = 3):
    """Per-document top-k keywords by TF-IDF, the corpus-level two-pass
    curation operator: (doc_id, rank, token, tf, df, score).

    Scoring is INTEGER-exact (oracle-hashable): score = tf * ((1_000_000 *
    n_docs) div df), all BIGINT — a fixed-point IDF monotone in log-IDF, so
    top-k sets differ only where log-IDF ties anyway. Ties break by token
    ascending (Python's code-point order is Spark's UTF-8 byte order).
    ``n_docs`` counts the docs with a non-NULL id and a token, ``df`` the
    docs holding the token; each row ranks alone (callers pass unique ids).

    Scale shape: two narrow passes, no shuffle of tf or doc rows. When the
    DataFrame is built, one ``map_batches`` pass yields each task's partial
    counts of every doc's distinct tokens (and a NULL-token row holding its
    n_docs); ``groupBy(token).sum`` merges them, so a stopword piles up on
    no task, and the table is collected. The returned plan is one
    ``map_rows`` pass: a doc's Counter gives tf, ``heapq.nsmallest`` the top
    k, so ranking needs no window. Docs with no token emit no rows.

    Ceiling: the vocabulary must fit on the driver and in the kernel's
    pickled closure (pyspark broadcasts one over 1 MB), like
    ``dedup.contamination_report``'s eval set or a broadcast join's build
    side: a 1M-entry table of 8-char tokens takes 88-120 driver bytes an
    entry (tracemalloc, CPython 3.11) and pickles to 13-16; the sf0.1
    corpus has 31 distinct tokens, a 4,000-doc curate corpus 1,920."""
    import heapq
    from collections import Counter

    def partials(batches):
        df, n_docs = Counter(), 0
        for ids, texts in batches:
            for doc_id, text in zip(ids, texts):
                toks = set(py_tokens(text))
                df.update(toks)
                n_docs += doc_id is not None and bool(toks)
        yield [*df, None], [*df.values(), n_docs]

    keyed = schemas.documents(docs)
    parts = arrowmap.map_batches(keyed, partials, "token string, df bigint")
    table = dict(parts.groupBy("token").agg(F.sum("df")).collect())
    scale = 1_000_000 * table.pop(None, 0)

    def rows(doc_id, text):
        top = heapq.nsmallest(k, (
            (-tf * (scale // table[t]), t, tf)
            for t, tf in Counter(py_tokens(text)).items()
        ))
        for rank, (neg, t, tf) in enumerate(top, 1):
            yield doc_id, rank, t, tf, table[t], -neg

    return arrowmap.map_rows(
        keyed, rows,
        "doc_id string, rank int, token string, tf bigint, df bigint, score bigint",
    )


def source_stats(docs):
    """Per-source corpus distribution report: doc counts, token totals, and
    EXACT rank-based quantiles (p50/p90) of per-doc token counts. Quantiles
    are percentile-disc by rank — the value at rank ceil(q * n) within the
    source's sorted token counts — because interpolated percentiles
    (Spark `percentile`, DuckDB `quantile_cont`) mix floats whose rounding
    is not engine-portable, while rank selection is integer-exact in any
    engine. Ties inside a source break by doc_id so the picked row is
    deterministic.

    Scale shape: one narrow token-count pass, one groupBy-window per
    source (the window sorts WITHIN each source only — no global sort),
    then the per-source rollup. At 10^12 docs a giant source's sort is the
    cost; for monitoring, run on a sample — the operator is unchanged."""
    from pyspark.sql.window import Window

    counts = schemas.documents(docs, "source").select(
        "doc_id", "source", token_count_col(F.col("text")).alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    ranked = counts.select(
        "source", "n_tokens",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    return ranked.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
        F.max(
            F.when(F.col("rk") == F.ceil(F.col("n") * 0.5), F.col("n_tokens"))
        ).cast("bigint").alias("p50_tokens"),
        F.max(
            F.when(F.col("rk") == F.ceil(F.col("n") * 0.9), F.col("n_tokens"))
        ).cast("bigint").alias("p90_tokens"),
    )

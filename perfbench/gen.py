"""Seeded input generator for the benchmark workloads.

Everything is a pure function of ``--seed`` and the sizes: one numpy PCG64
stream per corpus, one process, no Spark. The program under test only ever
sees the parquet files written here.

Corpora (all built from the sf0.1 vocabulary and language/source mix):

* ``longtail``   mostly short documents plus a few percent of long ones
                 above the 256-span fan-out cutoff (extract);
* ``uniform``    short documents only, plus a disjoint batch of new
                 documents for the resume run (commit);
* ``planted``    short documents with exact and near duplicates planted at
                 stated rates (curate);
* ``embeddings`` clustered 64-dim float vectors (ann).

Each corpus is written as ``splits`` files of equal document count (and, for
``longtail``, an equal number of long documents per file), so a pass runs
several task waves on the cores and no single file sets the pass time.

Run ``python3 perfbench/gen.py --check-determinism`` to check that a seed
always gives the same digest and another seed a different one.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 documents draw every word, for every declared language, uniformly
#: from these 30 tokens (measured on the sf0.1 test corpus: 31 distinct
#: tokens per language, the 31st being its planted-duplicate marker "dup").
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
#: ``planted`` widens the vocabulary to 30 x 64 numbered variants of the
#: same words. With 30 words any two 50-word documents share a word
#: 3-shingle ~9% of the time, so MinHash candidate pairs between UNRELATED
#: documents grow with the square of the corpus (17,356 pairs on a 20k-doc
#: sf0.1-vocabulary corpus holding 1,000 planted pairs); at 1,920 words the
#: candidates are the planted pairs and grow linearly.
WIDE_VOCAB = tuple(w + (str(i) if i else "") for w in VOCAB for i in range(64))
#: sf0.1 declared-language mix (2059 / 753 / 744 / 742 / 702 of 5000 docs)
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = np.array([2059, 753, 744, 742, 702], dtype=float) / 5000
N_SOURCES = 20
#: sf0.1 short documents hold 10..100 words, roughly uniform
SHORT_WORDS = (10, 100)
#: long documents: far above the fan-out cutoff (256 spans ~ 1,800 words)
LONG_WORDS = (2500, 6000)
#: planted duplicate bases are English with 30..70 words, inside every
#: curation gate (declared and detected language en, 20..80 tokens, no
#: punctuation), so each planted exact group must collapse in the funnel
PLANT_WORDS = (30, 70)

_CORPUS_TAG = {"longtail": 1, "uniform": 2, "planted": 3, "embeddings": 4}


def _rng(seed: int, corpus: str) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, _CORPUS_TAG[corpus]]))


def _texts(rng: np.random.Generator, n_words: np.ndarray,
           vocab: tuple[str, ...] = VOCAB) -> list[str]:
    words = np.array(vocab)[rng.integers(0, len(vocab), int(n_words.sum()))].tolist()
    out, pos = [], 0
    for n in n_words.tolist():
        out.append(" ".join(words[pos:pos + n]))
        pos += n
    return out


def _doc_table(doc_id: np.ndarray, text: list[str], lang: list[str],
               source: list[str]) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(doc_id, type=pa.int64()),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array(lang, type=pa.string()),
        "source": pa.array(source, type=pa.string()),
    })


def _labels(rng: np.random.Generator, n: int) -> tuple[list[str], list[str]]:
    lang = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)].tolist()
    source = [f"src{i}" for i in rng.integers(0, N_SOURCES, n).tolist()]
    return lang, source


def longtail(seed: int, n_docs: int, n_long: int, splits: int) -> tuple[pa.Table, dict]:
    """Short docs plus ``n_long`` long ones. Every split holds the same
    number of long docs (``n_long`` must divide by splits), dealt longest
    first to the split with the fewest long words so far, so splits carry
    near-equal work and no task straggles."""
    if n_docs % splits or n_long % splits:
        raise ValueError("n_docs and n_long must be multiples of splits")
    rng = _rng(seed, "longtail")
    n_words = rng.integers(SHORT_WORDS[0], SHORT_WORDS[1] + 1, n_docs)
    per_split = n_docs // splits
    long_per = n_long // splits
    long_words = np.sort(rng.integers(LONG_WORDS[0], LONG_WORDS[1] + 1, n_long))[::-1]
    dealt: list[list[int]] = [[] for _ in range(splits)]
    for w in long_words.tolist():
        open_ = [s for s in range(splits) if len(dealt[s]) < long_per]
        dealt[min(open_, key=lambda s: sum(dealt[s]))].append(w)
    long_pos = []
    for s in range(splits):
        pos = s * per_split + rng.choice(per_split, long_per, replace=False)
        n_words[pos] = dealt[s]
        long_pos.extend(pos.tolist())
    long_pos = np.array(long_pos, dtype=np.int64)
    text = _texts(rng, n_words)
    lang, source = _labels(rng, n_docs)
    table = _doc_table(np.arange(n_docs), text, lang, source)
    is_long = np.zeros(n_docs, dtype=bool)
    is_long[long_pos] = True
    doc_bytes = np.array([len(t) for t in text])
    stats = {
        "docs": n_docs,
        "bytes": int(doc_bytes.sum()),
        "long_docs": int(n_long),
        "long_doc_share": n_long / n_docs,
        "long_byte_share": float(doc_bytes[is_long].sum() / doc_bytes.sum()),
        "long_ids": sorted(long_pos.tolist()),
    }
    return table, stats


def uniform(seed: int, n_docs: int, n_new: int) -> tuple[pa.Table, pa.Table, dict]:
    """``n_docs`` short docs plus ``n_new`` more with fresh doc_ids (the
    resume run's added input)."""
    rng = _rng(seed, "uniform")
    n = n_docs + n_new
    text = _texts(rng, rng.integers(SHORT_WORDS[0], SHORT_WORDS[1] + 1, n))
    lang, source = _labels(rng, n)
    table = _doc_table(np.arange(n), text, lang, source)
    stats = {"docs": n_docs, "new_docs": n_new,
             "bytes": int(sum(len(t) for t in text))}
    return table.slice(0, n_docs), table.slice(n_docs), stats


def planted(seed: int, n_docs: int, exact_rate: float, near_rate: float
            ) -> tuple[pa.Table, dict]:
    """Distinct random docs, then ``exact_rate * n_docs`` exact copies and
    ``near_rate * n_docs`` one-word-appended variants, each of a distinct
    base (so every planted group is a pair and pairs grow linearly with
    ``n_docs``). Rows are shuffled before doc_ids are assigned."""
    rng = _rng(seed, "planted")
    n_exact = int(round(exact_rate * n_docs))
    n_near = int(round(near_rate * n_docs))
    n_base = n_docs - n_exact - n_near
    n_words = rng.integers(SHORT_WORDS[0], SHORT_WORDS[1] + 1, n_base)
    bases = rng.choice(n_base, n_exact + n_near, replace=False)
    n_words[bases] = rng.integers(PLANT_WORDS[0], PLANT_WORDS[1] + 1, len(bases))
    text = _texts(rng, n_words, WIDE_VOCAB)
    lang, source = _labels(rng, n_base)
    for b in bases.tolist():
        lang[b] = "en"
    seen = set(text)
    if len(seen) != n_base:
        raise ValueError("random base documents collided; change the sizes")
    extra = rng.integers(0, len(WIDE_VOCAB), n_near).tolist()
    for i, b in enumerate(bases.tolist()):
        if i < n_exact:
            text.append(text[b])
        else:
            text.append(text[b] + " " + WIDE_VOCAB[extra[i - n_exact]])
        lang.append("en")
        source.append(source[b])
    order = rng.permutation(n_docs)  # row r of the output is original row order[r]
    doc_id_of = np.empty(n_docs, dtype=np.int64)
    doc_id_of[order] = np.arange(n_docs)
    table = _doc_table(
        np.arange(n_docs), [text[i] for i in order.tolist()],
        [lang[i] for i in order.tolist()], [source[i] for i in order.tolist()],
    )
    pairs = [
        sorted((int(doc_id_of[n_base + i]), int(doc_id_of[b])))
        for i, b in enumerate(bases.tolist())
    ]
    stats = {
        "docs": n_docs,
        "bytes": int(sum(len(t) for t in text)),
        "planted_exact": n_exact,
        "planted_near": n_near,
        "exact_pairs": pairs[:n_exact],
        "near_pairs": pairs[n_exact:],
    }
    return table, stats


def embeddings(seed: int, n: int, dim: int = 64, clusters: int = 32,
               spread: float = 0.35) -> tuple[pa.Table, dict]:
    """``n`` vectors around ``clusters`` Gaussian centres (float32)."""
    rng = _rng(seed, "embeddings")
    centres = rng.standard_normal((clusters, dim))
    label = rng.integers(0, clusters, n)
    vecs = (centres[label] + spread * rng.standard_normal((n, dim))).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), type=pa.float32()), dim
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return table, {"vectors": n, "dim": dim, "clusters": clusters,
                   "bytes": int(vecs.nbytes)}


def digest(table: pa.Table) -> str:
    """Content digest, independent of how the table is split into files."""
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        col = table.column(name).combine_chunks()
        for buf in col.buffers():
            if buf is not None:
                h.update(buf)
    return h.hexdigest()


def write_splits(table: pa.Table, path: str, splits: int) -> None:
    """``splits`` parquet files of equal row count, one row group each."""
    os.makedirs(path, exist_ok=True)
    per = -(-table.num_rows // splits)
    for s in range(splits):
        pq.write_table(table.slice(s * per, per),
                       os.path.join(path, f"part-{s:05d}.parquet"),
                       row_group_size=per, compression="zstd")


def check_determinism() -> bool:
    """Same seed -> same digest; another seed -> another digest, per corpus."""
    makers = {
        "longtail": lambda s: longtail(s, 800, 16, 8)[0],
        "uniform": lambda s: pa.concat_tables(uniform(s, 600, 200)[:2]),
        "planted": lambda s: planted(s, 800, 0.03, 0.02)[0],
        "embeddings": lambda s: embeddings(s, 500)[0],
    }
    ok = True
    for name, make in makers.items():
        a, b, c = digest(make(7)), digest(make(7)), digest(make(8))
        good = a == b and a != c
        ok &= good
        print(f"{name:11s} seed7={a[:12]} seed7'={b[:12]} seed8={c[:12]} "
              f"{'ok' if good else 'FAIL'}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--check-determinism", action="store_true")
    args = ap.parse_args()
    if args.check_determinism:
        return 0 if check_determinism() else 1
    ap.print_help()
    return 2


if __name__ == "__main__":
    sys.exit(main())

"""Deterministic language identification by stopword hits.

Reference analog: fastText ``lid.176.bin`` applied per sentence / paragraph /
document (``data_extract/lang.py:13-37``, applied ``data_extract.py:151-190``)
with whitespace squashed first (``lang.py:10,23``). The rebuild replaces the
model with a closed-vocabulary scorer so results are reproducible in SQL:
count stopword hits per language over lowercase whitespace tokens; the
language with the most hits wins; ties (and zero hits) resolve by
``spec.LANG_PRIORITY`` order.
"""

from __future__ import annotations

import bisect
import re
from itertools import accumulate

from . import spec

#: token -> languages whose stopword list contains it (built once, so
#: per-token work in ``detect_language`` is one dict lookup, not len(LANGS)
#: set membership tests)
_TOKEN_LANGS: dict[str, tuple[str, ...]] = {}
for _lang in spec.LANG_PRIORITY:
    for _w in spec.LANG_STOPWORDS[_lang]:
        _TOKEN_LANGS[_w] = _TOKEN_LANGS.get(_w, ()) + (_lang,)


#: token -> one 0/1 hit per language, in ``spec.LANG_PRIORITY`` order
_TOKEN_HITS = {
    w: tuple(int(lg in langs) for lg in spec.LANG_PRIORITY) for w, langs in _TOKEN_LANGS.items()
}

_CJK_RE = re.compile(spec.CJK_REGEX)


def detect_language(text: str) -> str:
    if _CJK_RE.search(text):
        return "zh"
    # str.split() == squash-\s+-then-split-and-drop-empties, at C speed
    hits = dict.fromkeys(spec.LANG_PRIORITY, 0)
    for t in text.lower().split():
        langs = _TOKEN_LANGS.get(t)
        if langs:
            for lang in langs:
                hits[lang] += 1
    best_lang = spec.DEFAULT_LANG
    best_hits = 0
    for lang in spec.LANG_PRIORITY:
        if hits[lang] > best_hits:
            best_hits = hits[lang]
            best_lang = lang
    return best_lang


#: a whole stopword token of lowered text prefixed with one space: the
#: leading ``\s`` and the trailing ``(?!\S)`` are the token edges that
#: ``str.split`` would cut at (both use ``str.isspace``); longest words
#: first, so a stopword that prefixes another ('de'/'der') rarely backtracks
_STOP_RE = re.compile(
    r"\s(%s)(?!\S)" % "|".join(sorted(map(re.escape, _TOKEN_LANGS), key=len, reverse=True))
)


class LangIndex:
    """Scan-once language scorer for many subspans of one document.

    ``LangIndex(text).lang(s, e) == detect_language(text[s:e])`` for every
    span whose boundaries do not cut a ``\\S+`` token — which paragraph and
    sentence spans never do (paragraphs split on the ``\\n``/``\\f``
    separators, sentences immediately after ``'. '``). The structure step
    scores the doc + every paragraph + every sentence from one index.

    The index is one ``_STOP_RE`` scan over the lowered text: it visits only
    whole stopword tokens (about 3% of the tokens of a typical corpus), never
    the others. For each hit it keeps the token's offsets and, per
    language, a running hit count, so ``lang(s, e)`` is two bisects (the
    first hit starting at or after ``s``, the last ending at or before
    ``e``) and one difference per language; a range without hits returns
    the default language at once.

    Falls back to per-slice detection when ``lower()`` changes the string
    length (rare Unicode case folds would misalign offsets).
    """

    __slots__ = ("text", "_fallback", "_starts", "_ends", "_cums", "_cjk")

    def __init__(self, text: str) -> None:
        self.text = text
        lowered = text.lower()
        self._fallback = len(lowered) != len(text)
        if self._fallback:
            return
        # an ASCII text has no CJK char; skipping the scan saves about a
        # fifth of the index build on an ASCII corpus
        self._cjk = [] if text.isascii() else [m.start() for m in _CJK_RE.finditer(text)]
        starts: list[int] = []
        ends: list[int] = []
        hits: list[tuple[int, ...]] = []
        # offsets into " " + lowered: the match starts on the pad/space
        # before the token, i.e. at the token's offset in ``text``
        for m in _STOP_RE.finditer(" " + lowered):
            starts.append(m.start())
            ends.append(m.end() - 1)
            hits.append(_TOKEN_HITS[m.group(1)])
        self._starts, self._ends = starts, ends
        # per language (priority order): hits among the first k stopwords
        self._cums = [list(accumulate(col, initial=0)) for col in zip(*hits)]

    def lang(self, start: int = 0, end: int | None = None) -> str:
        if end is None:
            end = len(self.text)
        if self._fallback:
            return detect_language(self.text[start:end])
        cjk = self._cjk
        if cjk:
            i = bisect.bisect_left(cjk, start)
            if i < len(cjk) and cjk[i] < end:
                return "zh"
        i = bisect.bisect_left(self._starts, start)
        j = bisect.bisect_right(self._ends, end)
        if j <= i:
            return spec.DEFAULT_LANG
        best_lang = spec.DEFAULT_LANG
        best_hits = 0
        for lg, cum in zip(spec.LANG_PRIORITY, self._cums):
            hits = cum[j] - cum[i]
            if hits > best_hits:
                best_hits = hits
                best_lang = lg
        return best_lang

"""Gazetteer automaton with figa-compatible matching semantics.

Brand-new implementation (no code shared with the reference's C++ DARTS /
CEDAR tries).  Reproduces the observable semantics of the reference's
``figa`` scanner:

  - tokenization: a char is a delimiter iff it is ASCII whitespace,
    punctuation or a control char (figa_cedar.cpp:62-67, C locale — non-ASCII
    is always a word char); punctuation chars form single-char words of their
    own and attach to neighbours with an empty separator, whitespace runs
    collapse to a single " " separator in the match path
    (figa_cedar.tpp:955-1000);
  - URI rule: a word starting "http:"/"https:" swallows punctuation until
    whitespace (figa_cedar.tpp:972-976);
  - strong delimiters '\\n'/'\\r' (and EOF) terminate any match path, but
    only as the FIRST delimiter char after a word — a newline preceded by
    other whitespace is consumed as an empty word and is invisible to the
    chain (figa_cedar.cpp:76-81, figa_cedar.tpp:985-1013);
  - matches start at word starts and end at word ends; the LONGEST match
    wins (backtrack to the last word with a trie value,
    figa_cedar.tpp:555-616); matched words are consumed, so emitted matches
    never overlap (figa_cedar.tpp:1033-1064);
  - offsets are in characters; this module emits 0-based half-open
    [start, end) spans, i.e. already in the form ner.py:426 converts to.

Physical design (performance, not semantics): instead of walking a char
trie dict-per-node, keys are stored as *word-boundary path strings* —
``keys[path] → ids`` plus a ``prefixes`` set holding every word-boundary
prefix of every key and a ``first`` index of key-initial words.  The scan
tokenizes once (compiled regex, C speed), skips any word that starts no
key via one dict probe, and otherwise extends the path word-by-word with
O(1) hash lookups.  This is observably equivalent to the char-trie walk:
values can only exist at word ends, and a path that is neither a key nor
a stored prefix can never be completed (same backtrack point as the trie).
This class is the Python path (fallback and fuzz oracle); the C kernel
walks the same keys as a word-id trie inside the flat KB image
(``ckernel.kb_image``), the Spark analogue of the reference's
memory-mapped ``.dct`` automaton file (figa/src/figa.cpp:22-31).  Link
values are KB row ids; id 0 marks a pronoun / name-fragment key
(ner.py:417; 'N' links uniq_namelist.py:104-107).
"""

from __future__ import annotations

import re
import string
from typing import Iterable, Iterator, NamedTuple

_ASCII_SPACE = set(" \t\n\r\v\f")
_ASCII_PUNCT = set(string.punctuation)
_STRONG = ("\n", "\r")


def _is_cntrl(c: str) -> bool:
    o = ord(c)
    return o < 0x20 or o == 0x7F


def is_delimiter(c: str) -> bool:
    """C-locale isspace|ispunct|iscntrl, ASCII only (figa_cedar.cpp:62-67)."""
    return c in _ASCII_SPACE or c in _ASCII_PUNCT or (ord(c) < 0x80 and _is_cntrl(c))


# word = URI (http:/https:-led, swallows punct until space/cntrl)
#      | run of non-delimiter chars | single punctuation char
_PUNCT_CLASS = re.escape(string.punctuation)
_TOKEN_RE = re.compile(
    r"(?:https?:[^\x00-\x20\x7f]*)"
    rf"|(?:[^\x00-\x20\x7f{_PUNCT_CLASS}]+)"
    rf"|[{_PUNCT_CLASS}]"
)


class Word(NamedTuple):
    text: str
    start: int  # 0-based char offset
    end: int    # exclusive
    sep: str | None  # separator to the NEXT word in the match path:
    #                  " " (whitespace), "" (adjacent punct), None (strong/EOF)


def tokenize(text: str) -> list[Word]:
    """Split text into figa words with offsets and inter-word separators.

    The separator between adjacent words is "" when they touch, " " when
    only space-like chars lie between (runs collapse: the reference consumes
    one delimiter per break and skips empty words, figa_cedar.tpp:986-1003),
    and None when the FIRST gap char is a strong delimiter '\\n'/'\\r'
    (only the delimiter char consumed right after the word is classified,
    figa_cedar.tpp:985-1012 — a newline later in the gap loads as an empty
    word and is skipped).  The final word gets None (EOF acts as '\\n',
    figa_cedar.tpp:1007).
    """
    spans = [(m.group(), m.start(), m.end()) for m in _TOKEN_RE.finditer(text)]
    words: list[Word] = []
    last = len(spans) - 1
    for k, (w, s, e) in enumerate(spans):
        if k == last:
            sep: str | None = None
        else:
            nxt = spans[k + 1][1]
            if nxt == e:
                sep = ""
            else:
                # only the FIRST delimiter char after a word is classified
                # (figa_cedar.tpp:985-1012 consumes one delimiter and breaks;
                # later gap chars — even newlines — load as empty words and
                # are skipped without touching the match chain)
                sep = None if text[e] in "\n\r" else " "
        words.append(Word(w, s, e, sep))
    return words


class Match(NamedTuple):
    ids: tuple[int, ...]  # KB row ids in namelist order (0 = pronoun/fragment)
    start: int            # 0-based char offset
    end: int              # exclusive
    fragment: str


class GazetteerAutomaton:
    """Word-hash gazetteer with a token-anchored longest-match walk."""

    def __init__(self) -> None:
        self.keys: dict[str, tuple[int, ...]] = {}   # path → ids
        self.prefixes: set[str] = set()              # word-boundary prefixes
        self.first: set[str] = set()                 # key-initial words

    @property
    def n_keys(self) -> int:
        return len(self.keys)

    @classmethod
    def build(cls, namelist: Iterable[tuple[str, Iterable[int]]]) -> "GazetteerAutomaton":
        atm = cls()
        for key, ids in namelist:
            atm.add(key, ids)
        return atm

    def add(self, key: str, ids: Iterable[int]) -> None:
        """Add a namelist key, BYTE-FAITHFUL in its inter-word gaps.

        The stored path joins the key's words with the RAW gap text between
        them.  ``scan`` only ever constructs candidate paths with canonical
        separators ("" for adjacent words, " " for any whitespace run —
        the reference consumes one delimiter per break,
        figa_cedar.tpp:986-1003), so a key with an irregular gap (double
        space, tab) can never match — exactly the reference byte-trie's
        behaviour (figa stores key bytes verbatim).  Whitespace
        normalization is the NAMELIST BUILDER's job (build_namelist:
        ``re.sub(r"\\s+", " ", key)``), not the automaton's; every key the
        pipeline produces is already canonical.  Remaining documented
        divergence: leading/trailing key whitespace is dropped by
        tokenization (the reference would store it → unmatchable), and
        keys containing a strong delimiter (\\n/\\r) are rejected outright."""
        words = tokenize(key)
        if not words:
            return
        if any(w.sep is None for w in words[:-1]):
            return  # key contains a strong delimiter → unmatchable
        path = words[0].text
        self.first.add(path)
        parts = [path]
        for w0, w1 in zip(words, words[1:]):
            self.prefixes.add("".join(parts))
            parts.append(key[w0.end:w1.start])  # raw gap, byte-faithful
            parts.append(w1.text)
        self.keys["".join(parts)] = tuple(ids)

    def scan(self, text: str) -> list[Match]:
        """Longest-match, non-overlapping scan; matches start/end at words.

        Hot path: one ``finditer`` pass fills flat span arrays (no Word
        namedtuple per token), and the inter-word separator is computed
        LAZILY — only while extending a candidate match path, which for
        typical text is a small fraction of words (most fail the ``first``
        probe and cost exactly one dict lookup).  Observably identical to
        walking :func:`tokenize` output."""
        # two C-side passes beat one Python loop with three appends:
        # findall materializes the token strings without match objects,
        # and the span listcomp is one method call per token
        texts: list[str] = _TOKEN_RE.findall(text)
        spans = [mo.span() for mo in _TOKEN_RE.finditer(text)]
        out: list[Match] = []
        keys = self.keys
        prefixes = self.prefixes
        first = self.first
        nw = len(texts)
        i = 0
        while i < nw:
            word = texts[i]
            if word not in first:
                i += 1
                continue
            path = word
            j = i
            best_j = -1
            best_ids: tuple[int, ...] | None = None
            while True:
                ids = keys.get(path)
                if ids is not None:
                    best_j, best_ids = j, ids
                if path not in prefixes:
                    break
                if j + 1 >= nw:
                    break  # EOF acts as a strong delimiter
                gap_s = spans[j][1]
                gap_e = spans[j + 1][0]
                if gap_s == gap_e:
                    sep = ""
                else:
                    if text[gap_s] in "\n\r":
                        # strong delimiter = newline as the FIRST delimiter
                        # char after the word (figa_cedar.tpp:1005-1012);
                        # a newline deeper in the gap is consumed as an
                        # empty word and does not break the path
                        break
                    sep = " "
                j += 1
                path = path + sep + texts[j]
            if best_ids is not None:
                start = spans[i][0]
                end = spans[best_j][1]
                out.append(Match(best_ids, start, end, text[start:end]))
                i = best_j + 1  # consume matched words → no overlaps
            else:
                i += 1
        return out

    def iter_keys(self) -> Iterator[tuple[str, tuple[int, ...]]]:
        """Yield (key path, ids) — used by the reflexive round-trip test,
        the same contract as figa/test_figa.py:85-98."""
        yield from self.keys.items()

    def autocomplete(self, prefix: str, m: int = 5) -> list[tuple[str, tuple[int, ...]]]:
        """First ``m`` keys strictly extending ``prefix``, in byte order —
        the trie-DFS emission order of the reference's autocomplete
        (figa_cedar.tpp:66-118; default top-k 5, main.cpp:59-60).  The
        exact prefix itself is not returned (the DFS starts below it)."""
        hits = [k for k in self.keys
                if k.startswith(prefix) and k != prefix]
        hits.sort(key=lambda k: k.encode())
        return [(k, self.keys[k]) for k in hits[:m]]


def byte_offset_matches(text: str, matches: "list[Match]") -> "list[Match]":
    """figa ``-b`` twin (figa/src/main.cpp:53,108-110 routes get_pos through
    a byte counter, figa_cedar.tpp:961-970): re-express char-offset matches
    as BYTE offsets into the UTF-8 encoding of ``text``.  Matches are
    non-overlapping and start-ascending (scan invariant), so one forward
    walk converts all offsets without re-encoding prefixes."""
    out: list[Match] = []
    pos_c = 0
    pos_b = 0
    for m in matches:
        pos_b += len(text[pos_c:m.start].encode("utf-8"))
        blen = len(text[m.start:m.end].encode("utf-8"))
        out.append(Match(m.ids, pos_b, pos_b + blen, m.fragment))
        pos_b += blen
        pos_c = m.end
    return out

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

Physical design (performance, not semantics): keys are stored as a
*word-id trie* — ``words`` maps each key word to an id, ``trans`` maps a
packed step ``(state << 32) | (sep << 31) | word_id`` (``sep`` 1 for a
" " gap) to the next state, ``term`` maps final states to their ids.  The
scan tokenizes once (compiled regex, C speed), maps tokens to word ids,
skips any word with no step from the root via one dict probe, and extends
a match with one int-keyed probe per word.  Observably equivalent to the
char-trie walk: values only exist at word ends, and a state with no step
for the next word can never be completed (same backtrack point).  This
class is the Python path (configurations the kernel does not cover, and
its fuzz oracle) and the one source of the C kernel's trie:
``ckernel.kb_image`` serializes its three fields into
the flat KB image, the Spark analogue of the reference's memory-mapped
``.dct`` automaton file (figa/src/figa.cpp:22-31), and
``ckernel.image_automaton`` decodes them back — the image is the only
serialized automaton a KB artifact stores or broadcasts.  Link
values are KB row ids; id 0 marks a pronoun / name-fragment key
(ner.py:417; 'N' links uniq_namelist.py:104-107).
"""

from __future__ import annotations

import re
import string
from typing import Iterable, Iterator, NamedTuple

_ASCII_SPACE = set(" \t\n\r\v\f")
_ASCII_PUNCT = set(string.punctuation)


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


_SPACE = 1 << 31        # trie step bit: " " separator before the word
_WORD = _SPACE - 1      # trie step bits: the word id


class GazetteerAutomaton:
    """Word-id trie gazetteer with a token-anchored longest-match walk."""

    def __init__(self) -> None:
        self.words: dict[str, int] = {}               # word → word id
        self.trans: dict[int, int] = {}               # step → next state
        self.term: dict[int, tuple[int, ...]] = {}    # final state → ids

    @property
    def n_keys(self) -> int:
        return len(self.term)

    @classmethod
    def build(cls, namelist: Iterable[tuple[str, Iterable[int]]]) -> "GazetteerAutomaton":
        atm = cls()
        for key, ids in namelist:
            atm.add(key, ids)
        return atm

    def add(self, key: str, ids: Iterable[int]) -> None:
        """Add a namelist key as trie steps (the one place a key becomes
        steps), BYTE-FAITHFUL in its inter-word gaps.  ``scan`` only walks
        canonical separators ("" for adjacent words, " " for any
        whitespace run — the reference consumes one delimiter per break,
        figa_cedar.tpp:986-1003), so a key with an irregular gap (double
        space, tab) gets no step past it and never matches — exactly the
        reference byte-trie's behaviour (figa stores key bytes verbatim).
        Whitespace normalization is the NAMELIST BUILDER's job
        (build_namelist: ``re.sub(r"\\s+", " ", key)``); every key the
        pipeline produces is already canonical.  Remaining documented
        divergence: leading/trailing key whitespace is dropped by
        tokenization (the reference would store it → unmatchable), and
        keys containing a strong delimiter (\\n/\\r) are rejected."""
        words = tokenize(key)
        if not words or any(w.sep is None for w in words[:-1]):
            return  # empty, or a strong delimiter inside → unmatchable
        state, end = 0, words[0].start
        for w in words:
            gap = key[end:w.start]
            if gap not in ("", " "):
                return  # irregular gap: the scan never builds this path
            wid = self.words.setdefault(w.text, len(self.words))
            state = self.trans.setdefault(
                (state << 32) | (_SPACE if gap else 0) | wid,
                len(self.trans) + 1)
            end = w.end
        self.term[state] = tuple(ids)

    def scan(self, text: str) -> list[Match]:
        """Longest-match, non-overlapping scan; matches start/end at words.

        Hot path: one ``finditer`` pass keeps the match objects (no Word
        namedtuple per token), one C-side ``map`` gives the word ids, and
        offsets and the inter-word separator are read LAZILY — only while
        extending a candidate match, a small fraction of words in typical
        text (most have no step from the root: one dict lookup).
        Observably identical to walking :func:`tokenize` output."""
        mos = list(_TOKEN_RE.finditer(text))
        # word ids by one C-side map; None: the word is in no key
        wids = list(map(self.words.get, map(re.Match.group, mos)))
        trans, term = self.trans, self.term
        out: list[Match] = []
        nw = len(mos)
        i = 0
        while i < nw:
            state = trans.get(wids[i])  # root step: state 0, sep ""
            if state is None:
                i += 1
                continue
            j = i
            best_j, best_ids = -1, None
            while True:
                ids = term.get(state)
                if ids is not None:
                    best_j, best_ids = j, ids
                if j + 1 >= nw:
                    break  # EOF acts as a strong delimiter
                wid = wids[j + 1]
                if wid is None:
                    break
                gap_s = mos[j].end()
                step = (state << 32) | wid
                if gap_s != mos[j + 1].start():
                    if text[gap_s] in "\n\r":
                        # strong delimiter = newline as the FIRST delimiter
                        # char after the word (figa_cedar.tpp:1005-1012); a
                        # newline deeper in the gap does not break the path
                        break
                    step |= _SPACE
                state = trans.get(step)
                if state is None:
                    break
                j += 1
            if best_ids is not None:
                start, end = mos[i].start(), mos[best_j].end()
                out.append(Match(best_ids, start, end, text[start:end]))
                i = best_j + 1  # consume matched words → no overlaps
            else:
                i += 1
        return out

    def iter_keys(self) -> Iterator[tuple[str, tuple[int, ...]]]:
        """Yield (key path, ids), each path rebuilt from the trie — used by
        the reflexive round-trip test, the same contract as
        figa/test_figa.py:85-98.  A state is numbered after its parent,
        so one pass over the steps spells every state's path."""
        words = list(self.words)
        path = {0: ""}
        for step, state in self.trans.items():
            path[state] = (path[step >> 32] + (" " if step & _SPACE else "")
                           + words[step & _WORD])
        for state, ids in self.term.items():
            yield path[state], ids

    def autocomplete(self, prefix: str, m: int = 5) -> list[tuple[str, tuple[int, ...]]]:
        """First ``m`` keys strictly extending ``prefix``, in byte order —
        the trie-DFS emission order of the reference's autocomplete
        (figa_cedar.tpp:66-118; default top-k 5, main.cpp:59-60).  The
        exact prefix itself is not returned (the DFS starts below it)."""
        hits = [(k, ids) for k, ids in self.iter_keys()
                if k.startswith(prefix) and k != prefix]
        hits.sort(key=lambda kv: kv[0].encode())
        return hits[:m]


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

"""Text normalization primitives.

Reproduces (brand-new code, semantics only):
  - control-char sanitization   /root/reference/ner.py:611
  - accent removal              /root/reference/libs/utils.py:14-29
  - NCR decoding                /root/reference/libs/utils.py:31-46
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache

# The exact character class the reference replaces with spaces before any
# other processing (ner.py:611).  This is the per-row "byte-identical
# extracted text" invariant of BASELINE.json.
SANITIZE_RE = re.compile("[;\x01-\x08\x0e-\x1f\x0c\x7f]")

_NCR_RE = re.compile(r"&#x([0-9a-fA-F]+);")


def sanitize(text: str) -> str:
    """Replace semicolons and non-printable chars with spaces (ner.py:611)."""
    return SANITIZE_RE.sub(" ", text)


# mention surfaces repeat heavily (Zipf), so these pure functions are
# memoized per worker process — a large share of resolve_document time.
# Only short inputs are cached: the same functions also run on whole
# documents (proper-noun filter), which must not pin memory.
_CACHE_LEN = 128


def _deaccent(text: str) -> str:
    if text.isascii():  # NFKD is the identity on ASCII — fast path
        return text
    nkfd = unicodedata.normalize("NFKD", text)
    return "".join(c for c in nkfd if not unicodedata.combining(c))


_deaccent_cached = lru_cache(maxsize=1 << 16)(_deaccent)


def remove_accent(text: str) -> str:
    """NFKD-decompose and drop combining marks (libs/utils.py:14-17)."""
    if len(text) <= _CACHE_LEN:
        return _deaccent_cached(text)
    return _deaccent(text)


def apply_scan_modes(text: str, lowercase: bool = False,
                     deaccent: bool = False) -> tuple[str, str]:
    """The ``-d``/``-r`` rule, for a sanitized text or a namelist key:
    ``-r`` TRANSFORMS the working text (plain, possibly length-changing
    removal, ner.py:614 — offsets refer to the deaccented text), while
    ``-d`` lowers only the SCAN input (ner.py:473-476: resolution and
    output keep the original case).  Returns ``(text, scan_text)``, with
    ``scan_text`` the text object itself when the scan reads ``text``."""
    if deaccent:
        text = remove_accent(text)
    return text, (text.lower() if lowercase else text)


def _deaccent_unicode(text: str) -> str:
    out = remove_accent(text)
    if len(out) != len(text):
        return text
    return out


_deaccent_unicode_cached = lru_cache(maxsize=1 << 16)(_deaccent_unicode)


def remove_accent_unicode(text: str) -> str:
    """Accent removal that falls back to the original string whenever the
    deaccented form changes length (libs/utils.py:20-29) — used where offsets
    into the original text must stay valid."""
    if len(text) <= _CACHE_LEN:
        return _deaccent_unicode_cached(text)
    return _deaccent_unicode(text)


@lru_cache(maxsize=1 << 16)
def ncr2unicode(text: str) -> str:
    """Decode hex numeric character references like ``&#x159;``
    (libs/utils.py:31-46)."""
    return _NCR_RE.sub(lambda m: chr(int(m.group(1), 16)), text)

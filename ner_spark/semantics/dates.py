"""Date & interval detection with the reference's exact regex semantics.

Brand-new code reproducing the observable behavior of
/root/reference/libs/dates.py:

  - the month-word alternation is the CZECH one even for English input
    (dates.py:199-232; English month words only match via numeric
    patterns) — kept as-is for output parity (SURVEY §1.4.6);
  - sure patterns get confidence 100, "unsure" shapes 80 (dates.py:386-389);
  - intervals split into two Date results by default (dates.py:160-183);
  - a string with >1 dash is NOT an interval (dates.py:365-367);
  - ISO rendering pads to yyyy-mm-dd; ``show_without_zeros`` drops zero
    day/month (dates.py:40-65).
"""

from __future__ import annotations

import re
from typing import NamedTuple

try:  # dateutil ships with pandas; gate anyway (environment rule)
    import dateutil.parser as _dparser
except ImportError:  # pragma: no cover
    _dparser = None

MAX_ONLY_YEAR = 2999
DASHES = "-‐‑‒–—―⁃"

# Czech month alternation (dates.py:199-232).  Abbreviation stems with
# optional suffixes, exactly the forms the reference matches.
_MONTHS = [
    "led(?:(?:na)|(?:en))?", "úno(?:(?:ra)|(?:r))?", "bře(?:(?:zen)|(?:zna))?",
    "dub(?:(?:en)|(?:na))?", "kvě(?:(?:ten)|(?:tna))?", "čer(?:(?:ven)|(?:vna))?",
    "červenec", "července", "čec",
    "srp(?:(?:en)|(?:na))?", "zář(?:í)?", "ríj(?:(?:en)|(?:na))?",
    "lis(?:(?:topadu)|(?:topad))?", "pro(?:(?:sinec)|(?:since))?",
]
_MON = "(?:" + "|".join(f"(?:{m})" for m in _MONTHS) + ")"

MONTH_TO_INT = {
    "01": ["led", "leden", "ledna"], "02": ["úno", "únor", "února"],
    "03": ["bře", "březen", "března"], "04": ["dub", "duben", "dubna"],
    "05": ["kvě", "květen", "května"], "06": ["čer", "červen", "června"],
    "07": ["červenec", "července", "čec"], "08": ["srp", "srpen", "srpna"],
    "09": ["zář", "září"], "10": ["ríj", "ríjen", "ríjna"],
    "11": ["lis", "listopad", "listopadu"], "12": ["pro", "prosinec", "prosince"],
}

_DELIM = r"(?:[/_\-\\]|[" + DASHES + "])"
_IVAL = "(?:[" + DASHES + "]|(?:[ ]do[ ]))"  # long interval delimiter
_START = r"(?:^|\W)"
_END = r"(?:$|\W)"
_NOT_START = r"(?<!\w[$/-_])"
_NOT_END = r"(?![$/_%]\w)"

_PATTERNS = [
    # intervals (dates.py:257-266)
    _MON + r"[.]?[ ]+\d\d?[,][ ]+\d{3,4}[ ]*" + _IVAL + r"[ ]*" + _MON + r"[.]?[ ]+\d\d?[,][ ]+\d{3,4}",
    r"\d\d?[.]?[ ]+" + _MON + r"[.]?[,]?[ ]+\d{3,4}[ ]*" + _IVAL + r"[ ]*\d\d?[.]?[ ]+" + _MON + r"[.]?[,]?[ ]+\d{3,4}",
    r"\d{4}[ ]*" + _IVAL + r"[ ]*\d\d?[.]?[ ]+" + _MON + r"[.]?[,]?[ ]+\d{3,4}",
    r"\d\d?[.]?[ ]+" + _MON + r"[.]?[,]?[ ]+\d{3,4}[ ]*" + _IVAL + r"[ ]*\d{4}",
    r"(?:(?:\d\d?[.]?[ ]+)?" + _MON + r"[.]?[,]?[ ]+)?\d{4}[ ]*" + _IVAL + r"[ ]*(?:\d\d?[.]?[ ]+)?" + _MON + r"[.]?[,]?[ ]+\d{4}",
    r"(?:\d\d?[.]?[ ]+)?" + _MON + r"[.]?[,]?[ ]+\d{4}[ ]*" + _IVAL + r"[ ]*(?:(?:\d\d?[.]?[ ]+)?" + _MON + r"[.]?[,]?[ ]+)?\d{4}",
    r"\d\d?[.][ ]*\d\d?[.][ ]*\d{3,4}[ ]*" + _IVAL + r"[ ]*\d\d?[.][ ]*\d\d?[.][ ]*\d{3,4}",
    r"\d{4}[ ]*" + _IVAL + r"[ ]*\d{4}",                      # 1693-1734
    # plain dates (dates.py:268-280)
    _MON + r"[.]?[ ]+\d\d?[,][ ]+\d{3,4}",                    # lis. 12, 2007
    r"\d\d\d\d[" + DASHES + r"]\d\d[" + DASHES + r"]\d\d",    # 1999-12-28
    r"\d\d\d\d[-]?\s*" + _MON + r"[-]?\s*\d\d",               # 2010 listopad 16
    r"\d\d?" + _DELIM + r"\d\d?" + _DELIM + r"\d{3,4}",       # 12/11/1694
    r"\d\d?[.][ ]*\d\d?[.][ ]*\d{3,4}",                       # 12. 11. 1694
    r"\d\d?[.]?[ ]+" + _MON + r"[.]?[ ]+\d{3,4}",             # 16. listopadu 2003
    _MON + r"[.]?[ ]+\d{4}",                                  # listopad 2003
    r"\d\d\d\d",                                              # bare year
    r"\d{4}[s]?",                                             # 1690s
]

_ALL_RE = re.compile(
    "(?i)" + _START + _NOT_START
    + "(" + "|".join(f"(?:{p})" for p in _PATTERNS) + ")"
    + _NOT_END + "(?=" + _END + ")"
)

_UNSURE = [
    r"\d\d?" + _DELIM + r"\d\d?" + _DELIM + r"\d{3,4}",
    r"\d\d?[.][ ]*\d\d?[.][ ]*\d{3,4}",
    r"\d\d\d\d-\d\d",
    r"\d{4}[ ]*" + _IVAL + r"[ ]*\d{4}",
    r"\d{4}",
]
_UNSURE_RE = re.compile("(?i)^(?:" + "|".join(f"(?:{p})" for p in _UNSURE) + ")$")
_IVAL_RE = re.compile("[ ]*" + _IVAL + "[ ]*")
_DASH_RE = re.compile("[" + DASHES + "]")
_MON_RE = re.compile("(?i)" + _MON)
_ONLY_YEAR_RE = re.compile(r"(?i)^\d{3,4}$")
_MONTH_YEAR_RE = re.compile(r"(?i)^\d\d[.]?[ ]+\d{3,4}$")


class ISODate(NamedTuple):
    year: int = 0
    month: int = 0
    day: int = 0

    def iso(self) -> str:
        return f"{self.year:04d}-{self.month:02d}-{self.day:02d}"

    def show_without_zeros(self) -> str:
        out = f"{self.year:04d}"
        if self.month:
            out += f"-{self.month:02d}"
            if self.day:
                out += f"-{self.day:02d}"
        return out


class DateMatch(NamedTuple):
    start: int            # 0-based char offset
    end: int              # exclusive
    source: str
    iso: ISODate          # the date (interval halves are pre-split)
    confidence: int       # 100 sure / 80 unsure (dates.py:386-389)
    is_interval_part: bool = False
    iso_to: ISODate | None = None  # set only for unsplit intervals


def _czech_month_number(mword: str) -> str | None:
    for num, forms in MONTH_TO_INT.items():
        if mword in forms:
            return num
    return None


from functools import lru_cache


@lru_cache(maxsize=1 << 14)
def _parse_one(s: str) -> ISODate | None:
    """dates.py:324-356 ``get_date``: bare year, else Czech-month
    substitution + dateutil parse (dayfirst unless year-led/month-led).
    Pure string→immutable-tuple, so memoized per worker (date surfaces
    repeat heavily; dateutil.parse is the cost)."""
    if _ONLY_YEAR_RE.search(s):
        return ISODate(int(s))
    dayfirst = True
    m = _MON_RE.search(s)
    if m:
        mword = m.group()
        num = _czech_month_number(mword)
        # not_czech_form (dates.py:314-322): year-led or month-led → dayfirst off
        year_led = s[:4].isdigit()
        if year_led or s.startswith(mword):
            dayfirst = False
        if num:
            s = s.replace(mword, num)
    if _dparser is None:  # pragma: no cover
        return None
    try:
        d = _dparser.parse(s, dayfirst=dayfirst)
    except (ValueError, OverflowError):
        return None
    if _MONTH_YEAR_RE.search(s):
        return ISODate(d.year, d.month)
    return ISODate(d.year, d.month, d.day)


_ANY_DIGIT_RE = re.compile(r"\d")

# Every alternative in _PATTERNS starts with either a digit or one of the
# 12 Czech month stems (led/úno/bře/dub/kvě/čer/čec/srp/zář/ríj/lis/pro —
# červenec/července share the čer stem), so a full-document finditer with
# the huge alternation can be replaced by anchored ``match`` attempts at
# exactly those candidate positions: the group-1 start of any _ALL_RE
# match is necessarily a candidate, and the full match starts one char
# earlier (the consumed ``\\W``) or at offset 0 (the ``^`` branch) — so a
# candidate preceded by a word char can never match and the prefilter's
# ``(?<!\\w)`` drops it (every candidate char is a word char, so that
# never hides a later candidate either).  The candidate prefilter is a
# tiny alternation the regex engine scans at C memchr speed; equivalence
# with the plain finditer loop is pinned by tests/test_dates.py's
# differential property test.
_CAND_RE = re.compile(
    r"(?i)(?<!\w)(?:\d|led|úno|bře|dub|kvě|čer|čec|srp|zář|ríj|lis|pro)")


def _scan_candidates(text: str):
    """Yield _ALL_RE matches exactly as ``_ALL_RE.finditer(text)`` would."""
    pos = 0
    match = _ALL_RE.match
    for cm in _CAND_RE.finditer(text):
        p = cm.start()
        if p == 0:
            anchor = 0          # the ^ branch of _START
        elif p - 1 >= pos:
            anchor = p - 1      # the \W branch consumes text[p-1]
        else:
            continue            # would start inside/before the scan position
        m = match(text, anchor)
        if m is not None:
            yield m
            pos = m.end()


def find_dates(text: str, split_interval: bool = True) -> list[DateMatch]:
    """Reference ``find_dates`` semantics (dates.py:343-402)."""
    out: list[DateMatch] = []
    if not _ANY_DIGIT_RE.search(text):
        return out  # every date pattern requires a digit; skip the big scan
    for m in _scan_candidates(text):
        s = m.group(1)
        start = m.start(1)
        unsure = bool(_UNSURE_RE.search(s))
        conf = 80 if unsure else 100
        is_interval = bool(_IVAL_RE.search(s))
        if len(_DASH_RE.findall(s)) > 1:
            is_interval = False
        if is_interval:
            halves = _IVAL_RE.split(s, maxsplit=1)
            iso_from = _parse_one(halves[0])
            iso_to = _parse_one(halves[1])
            if not iso_from or not iso_to:
                continue
            if split_interval:
                sep = _IVAL_RE.search(s)
                left = s[: sep.start()]
                right = s[sep.end():]
                out.append(DateMatch(start, start + len(left), left, iso_from, conf, True))
                r0 = start + sep.end()
                out.append(DateMatch(r0, r0 + len(right), right, iso_to, conf, True))
            else:
                # interval kept whole (Date.Type.INTERVAL, dates.py:155-165)
                out.append(DateMatch(start, start + len(s), s, iso_from, conf,
                                     True, iso_to))
        else:
            iso = _parse_one(s)
            if not iso:
                continue
            out.append(DateMatch(start, start + len(s), s, iso, conf))
    return out

"""Compiled scan+resolve kernel: build, load, and dispatch.

The hot path of the engine — the automaton scan plus the per-document
sequential state machine of :mod:`ner_spark.semantics.resolve` — is
CPython-bound (the r4 numpy-batch restructure measured ~5-15%; the residual
cost is sequential interpreter state mutation).  This module compiles a C++
twin of both (``_resolve_kernel.cpp``) with the system g++ at first use,
caches the shared object keyed by a source hash, and exposes:

    kb_image(bundle, automaton) -> bytes    driver side, numpy only
    wrap_image(image) -> handle             checks the image once
    scan_resolve(handle, text, ...) -> rows | None
    try_scan_resolve(bundle, automaton, text, ...) -> rows | None

The KB image is the kernel's whole KB: the bundle's columns, the subname,
nationality-form and pronoun tables, and the automaton as a word-id trie,
in one flat, position-independent buffer.  ``compile_kb`` builds it once
and broadcasts it; a worker wraps it zero-copy and never unpickles the
bundle or the automaton unless a document falls back to Python.
``try_scan_resolve`` serves direct object callers: it builds the image
lazily and caches it on the bundle (``_ck_image``, never pickled).

``None`` means "take the pure-Python path" — the kernel covers exactly the
Spark production surface (mode="default", lang="en", find_names=False) and
raises ``Fallback`` for any state it cannot reproduce bug-for-bug; the
callers (recognize.scan_and_resolve, pipeline.ner.resolved_docs) then run
``recognize.resolve_in_python``.  Parity is pinned by the differential
fuzz test (tests/test_ckernel.py) and the byte-identical reference goldens.

Division of labor: Python keeps everything that needs re / dateutil /
unicodedata — date detection with pre-rendered ISO strings, paragraph
offsets, the pre-pass of non-ASCII / NCR match fragments (NCR decode,
deaccent+lower, pronoun class; ``_frag_helper``) and the proper-noun regex
spans (a lazy callback) — and C owns the scan, Mention/Register/Context and
all sequential mutation.

Env:
  NER_SPARK_CKERNEL=0   disable (pure Python everywhere)
  NER_SPARK_CKERNEL=1   require (ImportError if the build fails)
  unset / auto          try to build; fall back silently
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import struct
import subprocess
import sys
import sysconfig
import tempfile

from .dates import find_dates
from .resolve import offsets_of_paragraphs, find_proper_nouns, _deaccent_lower
from .textnorm import ncr2unicode, remove_accent_unicode

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "_resolve_kernel.cpp")


def _src_bytes() -> bytes:
    """Kernel source — from the filesystem, or from package data when the
    module is imported out of a ``--py-files`` zip."""
    try:
        with open(_SRC, "rb") as f:
            return f.read()
    except OSError:
        import importlib.resources as res

        return (res.files("ner_spark.semantics")
                .joinpath("_resolve_kernel.cpp").read_bytes())

_ck = None          # the loaded extension module (or None)
_load_attempted = False
FORCE_DISABLE = False  # test/bench hook: flip to exercise the Python path


def _mode() -> str:
    return os.environ.get("NER_SPARK_CKERNEL", "auto")


def _so_path() -> str:
    sha = hashlib.sha256(_src_bytes()).hexdigest()[:16]
    tag = f"cp{sys.version_info.major}{sys.version_info.minor}"
    base = os.environ.get("NER_SPARK_CKERNEL_DIR")
    if not base:
        repo = os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        base = os.path.join(repo, "build", "ckernel")
    try:
        os.makedirs(base, exist_ok=True)
        probe = os.path.join(base, ".w")
        with open(probe, "w"):
            pass
        os.unlink(probe)
    except OSError:  # read-only checkout (e.g. an executor image)
        base = os.path.join(tempfile.gettempdir(),
                            f"ner_spark_ckernel_{os.getuid()}")
        os.makedirs(base, exist_ok=True)
    return os.path.join(base, f"_resolve_ck_{sha}_{tag}.so")


def _compile(so: str) -> None:
    """g++-compile the kernel under an exclusive lock (32 local workers
    race at first use; one builds, the rest wait on the lock)."""
    import fcntl

    lock = so + ".lock"
    with open(lock, "w") as lf:
        fcntl.flock(lf, fcntl.LOCK_EX)
        if os.path.exists(so):  # built while we waited
            return
        inc = sysconfig.get_paths()["include"]
        tmp = so + f".tmp.{os.getpid()}"
        src = _SRC
        if not os.path.exists(src):  # zipped package: materialize the source
            src = so + ".cpp"
            with open(src, "wb") as sf:
                sf.write(_src_bytes())
        cmd = ["g++", "-O2", "-std=c++17", "-shared", "-fPIC",
               f"-I{inc}", src, "-o", tmp]
        subprocess.run(cmd, check=True, capture_output=True, text=True)
        os.replace(tmp, so)  # atomic publish


def _load():
    global _ck, _load_attempted
    if _load_attempted:
        return _ck
    _load_attempted = True
    if _mode() == "0":
        return None
    try:
        so = _so_path()
        if not os.path.exists(so):
            _compile(so)
        spec = importlib.util.spec_from_file_location("_resolve_ck", so)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        _ck = mod
    except Exception as exc:  # noqa: BLE001 — any failure → Python path
        if _mode() == "1":
            raise ImportError(f"NER_SPARK_CKERNEL=1 but build failed: {exc}")
        import warnings

        warnings.warn(f"resolve C kernel unavailable ({exc}); "
                      "using the pure-Python path", RuntimeWarning)
        _ck = None
    return _ck


def available() -> bool:
    return _load() is not None


# ---------------------------------------------------------------------------
# KB image
# ---------------------------------------------------------------------------

IMAGE_VERSION = 1  # _resolve_kernel.cpp IMAGE_VERSION; bump on any change
_MAGIC = b"NERKBIMG"
# the section table, in order (the kernel's S_* enum mirrors it)
_SECTIONS = (
    ("meta", "<i8"),  # n_rows, empty_sid, n_states
    ("str_off", "<u4"), ("str_blob", "<u4"),  # UCS-4 strtab
    ("score", "<f8"),
    ("name_sid", "<i4"), ("country_sid", "<i4"), ("loc_sid", "<i4"),
    ("start_sid", "<i4"), ("end_sid", "<i4"), ("type_sid", "<i4"),
    ("ctx_char", "<u4"),
    ("gender", "u1"), ("person_exact", "u1"), ("artist", "u1"),
    ("group", "u1"), ("person_sub", "u1"), ("loc_sub", "u1"),
    ("geo_sub", "u1"), ("type_exact", "u1"), ("ctx_kind", "u1"),
    ("jobs_off", "<u4"), ("jobs", "<i4"),
    ("roles_off", "<u4"), ("roles", "<i4"),
    ("nats_off", "<u4"), ("nats", "<i4"),
    ("pdates_off", "<u4"), ("pdates", "<i4"),
    ("verbs", "<i4"), ("there_ctx", "<i4"),
    ("nd_slots", "<i4"), ("nd_key", "<i4"), ("nd_off", "<u4"),
    ("nd_ids", "<i8"),
    ("natf_slots", "<i4"), ("natf_key", "<i4"),
    ("pron_slots", "<i4"), ("pron_key", "<i4"), ("pron_mask", "<i4"),
    ("w_slots", "<i4"), ("w_key", "<i4"),
    ("t_keys", "<u8"), ("t_next", "<i4"),
    ("s_term", "<i4"), ("term_off", "<u4"), ("term_ids", "<i8"),
)

# EN tables mirrored into the image (en location-coref contexts)
_EN_THERE_CTX = [" is ", " are ", " was ", " were ", " has ", " have ",
                 " had "]
_PRON_MASK = {  # lang.py EN.pronouns → C flag bits (M=1, F=2, L=4)
    "he": 1, "him": 1, "himself": 1, "his": 1,
    "she": 2, "her": 2, "hers": 2, "herself": 2,
    "who": 3, "whom": 3, "whose": 3,
    "here": 4, "there": 4, "where": 4,
}
_PERSON_EXACT = ("person", "person:artist", "person:fictional")


def _ucs4(strings):
    """strings → (UCS-4 code points, offsets) as numpy arrays."""
    import numpy as np

    blob = np.frombuffer("".join(strings).encode("utf-32-le",
                                                  "surrogatepass"), "<u4")
    off = np.zeros(len(strings) + 1, "<u4")
    off[1:] = np.cumsum([len(s) for s in strings])
    return blob, off


def _str_hashes(strings):
    """The kernel's ``str_hash``: FNV-1a over code points, folded — one
    numpy pass per character position, longest strings first."""
    import numpy as np

    blob, off = _ucs4(strings)
    lens = np.diff(off).astype(np.int64)
    order = np.argsort(-lens, kind="stable")
    starts, lens = off[:-1].astype(np.int64)[order], lens[order]
    cps = blob.astype(np.uint64)
    h = np.full(len(strings), 0xcbf29ce484222325, np.uint64)
    for j in range(int(lens[0]) if len(lens) else 0):
        k = int(np.searchsorted(-lens, -j))  # strings longer than j
        h[:k] = (h[:k] ^ cps[starts[:k] + j]) * np.uint64(0x100000001b3)
    out = np.empty_like(h)
    out[order] = h
    return out ^ (out >> np.uint64(32))


def _mix64(x):
    """The kernel's ``mix64`` (the splitmix64 finalizer)."""
    import numpy as np

    x = x ^ (x >> np.uint64(30))
    x = x * np.uint64(0xbf58476d1ce4e5b9)
    x = x ^ (x >> np.uint64(27))
    x = x * np.uint64(0x94d049bb133111eb)
    return x ^ (x >> np.uint64(31))


def _place(hashes):
    """Linear-probing slots (entry index, -1 empty) at load < 0.5, filled
    in rounds: each round every unplaced entry tries its current slot, the
    lowest entry wins a free one, the rest probe on — so every slot a
    lookup passes before its key is occupied, as sequential insertion
    guarantees."""
    import numpy as np

    cap = 1 << max(3, (2 * len(hashes)).bit_length())
    mask = cap - 1
    slots = np.full(cap, -1, np.int32)
    pos = (hashes & np.uint64(mask)).astype(np.int64)
    todo = np.arange(len(hashes))
    while todo.size:
        p = pos[todo]
        free = np.flatnonzero(slots[p] == -1)
        won_slots, first = np.unique(p[free], return_index=True)
        won = free[first]
        slots[won_slots] = todo[won]
        todo = np.delete(todo, won)
        pos[todo] = (pos[todo] + 1) & mask
    return slots


def _csr(lists):
    import numpy as np

    off = np.zeros(len(lists) + 1, "<u4")
    off[1:] = np.cumsum([len(x) for x in lists])
    return off, [v for x in lists for v in x]


def kb_image(kb, automaton) -> bytes:
    """The kernel's KB as one flat, position-independent image: a header
    (magic, version, a table of 8-byte-aligned sections), the interned
    UCS-4 strtab, the fixed-width per-row arrays, CSR id lists, linear-
    probing tables for the subname dict, the nationality forms and the
    pronouns, and the automaton as a word-id trie.  A trie step maps
    ``(state, sep ∈ {"", " "}, word id)`` to the next state and final
    states carry their ids; a key with an irregular gap (which the scan
    never builds) gets no transition, so it never matches — as in
    :class:`GazetteerAutomaton`.  Built once per KB on the driver; numpy
    only, no compiled code."""
    from collections import defaultdict

    import numpy as np

    from .automaton import _TOKEN_RE
    from .lang import EN

    intern: dict[str, int] = defaultdict(lambda: len(intern))
    sid = intern.__getitem__  # str → strtab id, interning on first use

    n = kb.n_rows()
    tarr = kb.type_arr()
    sec = {
        "score": kb.score_arr(),
        "name_sid": [sid(x) for x in kb.name_arr()],
        "country_sid": [sid(x) for x in kb.country_arr()],
        "type_sid": [sid(t) for t in tarr],
        "ctx_char": [ord(c) if c else 0 for c in kb.ctx_char_arr()],
        "gender": [1 if g == "M" else 2 if g == "F" else 0
                   for g in kb.gender_arr()],
        "person_exact": [t in _PERSON_EXACT for t in tarr],
        "artist": kb.artist_flag_arr(),
        "group": kb.group_flag_arr(),
        "person_sub": kb.person_sub_flag_arr(),
        "loc_sub": kb.loc_sub_flag_arr(),
        "geo_sub": kb.geo_sub_flag_arr(),
        "type_exact": [1 if t == "person" else 2 if t == "location" else 0
                       for t in tarr],
        "ctx_kind": kb.ctx_kind_arr(),
        "verbs": [sid(v) for v in EN.verbs],
        "there_ctx": [sid(v) for v in _EN_THERE_CTX],
    }
    rows = range(1, n + 1)
    for name, col in (("loc_sid", "LOCATION"), ("start_sid", "START"),
                      ("end_sid", "END")):
        sec[name] = [sid("")] + [sid(kb.get_data_for(i, col)) for i in rows]
    lists = {
        "jobs": lambda i: kb.get_multival(i, "JOBS"),
        "roles": lambda i: kb.get_multival(i, "ROLES"),
        # frozensets → sorted for determinism (membership-only consumers)
        "nats": lambda i: sorted(kb.get_nationalities(i)),
        "pdates": lambda i: sorted(kb.get_dates(i)),
    }
    for name, values in lists.items():
        sec[name + "_off"], sec[name] = _csr(
            [()] + [[sid(v) for v in values(i)] for i in rows])

    tables = {}  # name → keys, placed below once every string is interned
    nd = sorted(kb.name_dict.items())
    tables["nd"] = [k for k, _ in nd]
    sec["nd_off"], sec["nd_ids"] = _csr([sorted(v) for _, v in nd])
    tables["natf"] = sorted(kb.nationality_forms)
    tables["pron"] = list(_PRON_MASK)
    sec["pron_mask"] = list(_PRON_MASK.values())

    # word-id trie over the automaton's key paths (tokenized as
    # GazetteerAutomaton.add tokenized the raw keys)
    words: dict[str, int] = {}
    trans: dict[tuple[int, int, int], int] = {}
    term: dict[int, tuple] = {}
    for path, ids in automaton.keys.items():
        state, end = 0, None
        for m in _TOKEN_RE.finditer(path):
            gap = "" if end is None else path[end:m.start()]
            if gap not in ("", " "):
                break  # irregular gap: the scan never builds this path
            wid = words.setdefault(m.group(), len(words))
            state = trans.setdefault((state, len(gap), wid), len(trans) + 1)
            end = m.end()
        else:
            term[state] = ids
    tables["w"] = list(words)
    n_states = len(trans) + 1
    tk = np.array(list(trans), np.uint64).reshape(-1, 3)
    tkey = (tk[:, 0] << np.uint64(32)) | (tk[:, 1] << np.uint64(31)) | tk[:, 2]
    slots = _place(_mix64(tkey))
    sec["t_keys"] = np.full(len(slots), 2**64 - 1, np.uint64)
    sec["t_next"] = np.full(len(slots), -1, np.int32)
    used = slots >= 0
    sec["t_keys"][used] = tkey[slots[used]]
    sec["t_next"][used] = np.fromiter(trans.values(), np.int32,
                                      len(trans))[slots[used]]
    s_term = np.full(n_states, -1, np.int32)
    s_term[list(term)] = np.arange(len(term))
    sec["s_term"] = s_term
    sec["term_off"], sec["term_ids"] = _csr(list(term.values()))

    for name, keys in tables.items():
        sec[name + "_key"] = [sid(k) for k in keys]
        sec[name + "_slots"] = _place(_str_hashes(keys))
    sec["meta"] = [n, sid(""), n_states]
    sec["str_blob"], sec["str_off"] = _ucs4(list(intern))  # every sid taken

    head = 16 + 16 * len(_SECTIONS)
    table, chunks, pos = [], [], head
    for name, dtype in _SECTIONS:
        b = np.ascontiguousarray(sec[name], dtype=dtype).tobytes()
        pad = -len(b) % 8
        table += [pos, len(b)]
        chunks.append(b + bytes(pad))
        pos += len(b) + pad
    return b"".join([_MAGIC, struct.pack("<II", IMAGE_VERSION,
                                         len(_SECTIONS)),
                     np.asarray(table, "<u8").tobytes(), *chunks])


_wrapped = (None, None)  # (image, handle) of the last wrap_image call


def wrap_image(image):
    """The kernel's handle on an image (bytes or any buffer), checked once
    — magic, version, every section bound and index — and then read in
    place; ValueError on a bad image.  The handle of the last image
    wrapped is memoized, so a worker that reads the same broadcast value
    for every batch wraps it once and keeps its fragment cache."""
    global _wrapped
    if _wrapped[0] is not image:
        _wrapped = (image, _load().wrap_image(image))
    return _wrapped[1]


# ---------------------------------------------------------------------------
# per-document dispatch
# ---------------------------------------------------------------------------

def _frag_helper(fragment):
    """Python side of the fragment pre-pass — called once per distinct
    non-ASCII / NCR fragment (the C kernel handles the ASCII fast path)."""
    source = fragment if "&#" not in fragment else ncr2unicode(fragment)
    dl = _deaccent_lower(source)
    sl = source.lower()
    flags = _PRON_MASK.get(sl, 0)
    if sl.startswith("the "):
        flags |= 8
    if source.startswith("The "):
        flags |= 16
    if source == "There":
        flags |= 32
    return (source, dl, flags)


def _dates_for(text, split_interval):
    dates = []
    for dm in find_dates(text, split_interval=split_interval):
        if dm.iso_to is not None:
            iso_out = f"{dm.iso.iso()} -- {dm.iso_to.iso()}"
            swz_to = dm.iso_to.show_without_zeros()
            is_interval = 1
        else:
            iso_out = dm.iso.iso()
            swz_to = None
            is_interval = 0
        dates.append((dm.start, dm.end, dm.source, iso_out, dm.confidence,
                      is_interval, dm.iso.show_without_zeros(), swz_to))
    return dates


def covers(lang, find_names=False, mode="default") -> bool:
    """Whether the kernel runs this configuration at all; when not, every
    document takes the pure-Python path."""
    return (not FORCE_DISABLE and mode == "default" and not find_names
            and getattr(lang, "code", None) == "en" and available())


def scan_resolve(image, text, scan_text=None, list_titles=frozenset(),
                 lang=None, split_interval=True, as_tuples=False):
    """Fused scan+resolve in C over a wrapped image (:func:`wrap_image`)
    for a configuration :func:`covers` admits.  Returns rows, or None when
    this document raises ``Fallback`` (the caller runs
    ``recognize.resolve_in_python``)."""
    ck = _load()
    dates = _dates_for(text, split_interval)
    paragraphs = offsets_of_paragraphs(text)

    def lazy():
        # clean text + proper-noun spans, only when the overlap filter runs
        clean = remove_accent_unicode(text)
        pnouns = find_proper_nouns(clean, list_titles,
                                   lang.proper_nouns_preps)
        return (None if clean is text else clean, pnouns)

    try:
        rows = ck.scan_resolve_doc(
            image, text,
            None if scan_text is None or scan_text is text else scan_text,
            dates, paragraphs, lazy, _frag_helper)
    except ck.Fallback:
        return None
    if as_tuples:
        return rows
    return [{"start": s, "end": e, "par": p, "kind": k, "text": t,
             "sense": sn, "iso": iso, "confidence": c}
            for s, e, p, k, t, sn, iso, c in rows]


def try_scan_resolve(kb, atm, text, scan_text=None,
                     list_titles=frozenset(), find_names=False,
                     mode="default", lang=None, split_interval=True,
                     as_tuples=False):
    """:func:`scan_resolve` for object callers: the image of ``kb`` +
    ``atm`` is built on first use and cached on the bundle (``_ck_*``
    never rides a pickle).  Returns None when the kernel does not cover
    this configuration or this document."""
    if not covers(lang, find_names, mode):
        return None
    cached = kb.__dict__.get("_ck_image")
    if cached is None or cached[0] is not atm:
        handle = _load().wrap_image(kb_image(kb, atm))
        cached = kb.__dict__["_ck_image"] = (atm, handle)
    return scan_resolve(cached[1], text, scan_text, list_titles, lang,
                        split_interval, as_tuples)

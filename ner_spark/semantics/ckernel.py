"""Compiled scan+resolve kernel: build, load, and dispatch.

The hot path of the engine — the automaton scan plus the per-document
sequential state machine of :mod:`ner_spark.semantics.resolve` — is
CPython-bound: its cost is sequential interpreter state mutation, which
numpy batching does not absorb (~5-15%, BASELINE.md "Kernel — round 4").
This module compiles a C++ twin of both (``_resolve_kernel.cpp``) with the
system g++ at first use, caches the shared object keyed by a source hash,
and exposes:

    kb_image(bundle, automaton) -> bytes    driver side, numpy only
    image_automaton(image) -> automaton     the trie back, numpy only
    image_bundle(image) -> bundle           the KB bundle back, numpy only
    section_views(image) -> {name: array}   its sections, nothing decoded
    wrap_image(image) -> handle             checks the image, builds probes
    scan_resolve(handle, text, ...) -> rows
    try_scan_resolve(bundle, automaton, text, ...) -> rows | None

The KB image is the kernel's whole KB: the bundle's columns, the subname,
nationality-form and pronoun tables, and the automaton as a word-id trie,
in one flat, position-independent buffer, the only serialized form of
the bundle and the automaton.  ``compile_kb`` builds it once and
broadcasts it; a worker wraps it zero-copy and decodes the bundle and the
automaton from it only for a configuration the kernel does not cover.
``try_scan_resolve`` serves direct object callers: it builds the image
lazily and caches it on the bundle (``_ck_image``, never pickled).
``wrap_image`` checks the image once — every section bound, string id,
enum and KB row id — and refuses a bad one with ValueError; an image whose
automaton values are not KB rows (a ``qid_mode`` export compile) is
refused there, and extraction wraps the image on either path while the
kernel is loaded, so extraction over such an image fails up front.

The kernel covers exactly the Spark production surface (mode="default",
lang="en", find_names=False; :func:`covers`) and resolves every document
on it.  The callers (recognize.scan_and_resolve,
pipeline.ner.resolved_docs) choose the path once per call from the
configuration alone and run ``recognize.resolve_in_python`` where the
kernel does not cover it.  Parity is pinned by the differential fuzz test
(tests/test_ckernel.py) and the byte-identical reference goldens.

Division of labor: Python keeps everything that needs re / dateutil /
unicodedata — date detection with pre-rendered ISO strings, paragraph
offsets, and the kernel's one callback, ``_frag_helper`` (``frag_cb``: NCR
decode, deaccent+lower and pronoun class of a non-ASCII / NCR match
fragment, cached per image) — and C owns the scan, Mention/Register/Context
and all sequential mutation.

Env:
  NER_SPARK_CKERNEL=0   disable (pure Python everywhere)
  any other value       require (ImportError if the build fails)
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os
import struct
import subprocess
import sys
import sysconfig
import tempfile

from .automaton import GazetteerAutomaton
from .dates import find_dates
from .kb import KBBundle
from .lang import EN, EN_THERE_CONTEXTS
from .resolve import ROW_FIELDS, offsets_of_paragraphs, _deaccent_lower
# kgbench's per-layer tracer times find_proper_nouns through this module
from .resolve import find_proper_nouns  # noqa: F401
from .textnorm import ncr2unicode

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
    if os.environ.get("NER_SPARK_CKERNEL") != "0":
        try:
            so = _so_path()
            if not os.path.exists(so):
                _compile(so)
            spec = importlib.util.spec_from_file_location("_resolve_ck", so)
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
        except Exception as exc:  # noqa: BLE001 — any failure is fatal
            raise ImportError(
                f"resolve C kernel build failed ({exc}); set "
                "NER_SPARK_CKERNEL=0 for the pure-Python path") from exc
        _ck = mod
    _load_attempted = True
    return _ck


def available() -> bool:
    return _load() is not None


# ---------------------------------------------------------------------------
# KB image
# ---------------------------------------------------------------------------

IMAGE_VERSION = 4  # _resolve_kernel.cpp IMAGE_VERSION; bump on any change
_MAGIC = b"NERKBIMG"
# the section table, in order (the kernel's S_* enum mirrors it)
_SECTIONS = (
    ("meta", "<i8"),  # n_rows, empty_sid
    ("str_off", "<u4"), ("str_blob", "<u4"),  # UCS-4 strtab
    ("score", "<f8"),
    ("name_sid", "<i4"), ("country_sid", "<i4"), ("start_sid", "<i4"),
    ("end_sid", "<i4"), ("type_sid", "<i4"),
    ("ctx_char", "<u4"),
    ("gender", "u1"), ("person_flag", "u1"), ("artist", "u1"),
    ("group", "u1"), ("person_sub", "u1"), ("loc_sub", "u1"),
    ("geo_sub", "u1"), ("type_exact", "u1"), ("ctx_kind", "u1"),
    ("jobs_off", "<u4"), ("jobs", "<i4"),
    ("roles_off", "<u4"), ("roles", "<i4"),
    ("nats_off", "<u4"), ("nats", "<i4"),
    ("pdates_off", "<u4"), ("pdates", "<i4"),
    ("verbs", "<i4"), ("there_ctx", "<i4"),
    ("nd_key", "<i4"), ("nd_off", "<u4"), ("nd_ids", "<i8"),
    ("natf_key", "<i4"),
    ("pron_key", "<i4"), ("pron_mask", "<i4"),
    ("w_key", "<i4"),
    ("t_keys", "<u8"),
    ("term_state", "<i4"), ("term_off", "<u4"), ("term_ids", "<i8"),
)

# EN pronoun classes as the kernel's flag bits (M=1, F=2, L=4)
_PRON_MASK = {p: {"M": 1, "F": 2, "MF": 3, "L": 4}[g]
              for p, g in EN.pronouns.items()}


def _ucs4(strings):
    """strings → (UCS-4 code points, offsets) as numpy arrays."""
    import numpy as np

    blob = np.frombuffer("".join(strings).encode("utf-32-le",
                                                  "surrogatepass"), "<u4")
    off = np.zeros(len(strings) + 1, "<u4")
    off[1:] = np.cumsum([len(s) for s in strings])
    return blob, off


def _csr(lists):
    import numpy as np

    off = np.zeros(len(lists) + 1, "<u4")
    off[1:] = np.cumsum([len(x) for x in lists])
    return off, [v for x in lists for v in x]


def kb_image(kb, automaton) -> bytes:
    """The kernel's KB as one flat, position-independent image: a header
    (magic, version, a table of 8-byte-aligned sections), the interned
    UCS-4 strtab, the fixed-width per-row arrays, CSR id lists, the key
    lists of the subname dict, the nationality forms and the pronouns,
    and the automaton's word-id trie.  The trie sections only serialize
    :class:`GazetteerAutomaton`'s own fields, in insertion order:
    ``words`` the word keys, ``trans`` (packed ``(state, sep ∈ {"", " "},
    word id)`` step → next state) as its steps ``t_keys`` alone, since
    ``GazetteerAutomaton.add`` numbers the state step ``e`` makes ``e + 1``,
    and ``term`` as the final states and their CSR ids;
    :func:`image_automaton` reads them back.  Every table holds each key
    once; the kernel builds its probe tables when it wraps the image.
    Built once per KB on the driver; numpy only, no compiled code."""
    from collections import defaultdict

    import numpy as np

    intern: dict[str, int] = defaultdict(lambda: len(intern))
    sid = intern.__getitem__  # str → strtab id, interning on first use

    n = kb.n_rows()
    tarr = kb.type_arr
    sec = {
        "score": kb.score_arr,
        "name_sid": [sid(x) for x in kb.name_arr],
        "country_sid": [sid(x) for x in kb.country_arr],
        "type_sid": [sid(t) for t in tarr],
        "ctx_char": [ord(c) if c else 0 for c in kb.ctx_char_arr],
        "gender": [1 if g == "M" else 2 if g == "F" else 0
                   for g in kb.gender_arr],
        "person_flag": kb.person_flag_arr,
        "artist": kb.artist_flag_arr,
        "group": kb.group_flag_arr,
        "person_sub": kb.person_sub_flag_arr,
        "loc_sub": kb.loc_sub_flag_arr,
        "geo_sub": kb.geo_sub_flag_arr,
        "type_exact": [1 if t == "person" else 2 if t == "location" else 0
                       for t in tarr],
        "ctx_kind": kb.ctx_kind_arr,
        "verbs": [sid(v) for v in EN.verbs],
        "there_ctx": [sid(v) for v in EN_THERE_CONTEXTS],
    }
    rows = range(1, n + 1)
    # no LOCATION: only the reference's org/event place probe reads it,
    # and that probe's bucket is never made (char quirk)
    for name, col in (("start_sid", "START"), ("end_sid", "END")):
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

    nd = sorted(kb.name_dict.items())
    sec["nd_key"] = [sid(k) for k, _ in nd]
    sec["nd_off"], sec["nd_ids"] = _csr([sorted(v) for _, v in nd])
    sec["natf_key"] = [sid(k) for k in sorted(kb.nationality_forms)]
    sec["pron_key"] = [sid(k) for k in _PRON_MASK]
    sec["pron_mask"] = list(_PRON_MASK.values())

    # the automaton's word-id trie, as GazetteerAutomaton.add built it
    trans, term = automaton.trans, automaton.term
    sec["w_key"] = [sid(w) for w in automaton.words]
    sec["t_keys"] = list(trans)
    sec["term_state"] = list(term)
    sec["term_off"], sec["term_ids"] = _csr(list(term.values()))
    sec["meta"] = [n, sid("")]
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


def section_views(image) -> dict:
    """An image's sections as numpy views, nothing decoded."""
    import numpy as np

    tab = np.frombuffer(image, "<u8", 2 * len(_SECTIONS), 16).tolist()
    return {name: np.frombuffer(image, dt, n // np.dtype(dt).itemsize, pos)
            for (name, dt), pos, n in zip(_SECTIONS, tab[::2], tab[1::2])}


def _image_sections(image):
    """An image's sections as numpy views, and strtab ids → strings."""
    sec = section_views(image)
    off = sec["str_off"].tolist()
    strtab = sec["str_blob"].tobytes().decode("utf-32-le", "surrogatepass")
    return sec, lambda ids: [strtab[off[s]:off[s + 1]] for s in ids.tolist()]


@functools.lru_cache(maxsize=1)
def image_automaton(image) -> GazetteerAutomaton:
    """The automaton a KB image serializes, read back in :func:`kb_image`'s
    insertion order, ``trans`` as ``zip(t_keys, range(1, n + 1))``:
    ``kb_image(kb, image_automaton(image)) == image``.
    Memoized for the last image, like :func:`wrap_image`: a worker decodes
    it once."""
    sec, strs = _image_sections(image)
    atm = GazetteerAutomaton()
    atm.words = {w: i for i, w in enumerate(strs(sec["w_key"]))}
    t_keys = sec["t_keys"].tolist()
    atm.trans = dict(zip(t_keys, range(1, len(t_keys) + 1)))
    off, ids = sec["term_off"].tolist(), sec["term_ids"].tolist()
    atm.term = {s: tuple(ids[a:b]) for s, a, b in
                zip(sec["term_state"].tolist(), off, off[1:])}
    return atm


@functools.lru_cache(maxsize=1)
def image_bundle(image) -> KBBundle:
    """The bundle a KB image serializes, as the raw columns its accessors
    read (jobs/roles ``|``-joined, person dates as birth/death, each row's
    nationality set in the cell ``get_nationalities`` reads, gender M/F/"";
    columns the image lacks, such as ``founded`` or ``location``, raise
    KeyError):
    ``kb_image(image_bundle(image), image_automaton(image)) == image``.
    Memoized like :func:`image_automaton`."""
    sec, strs = _image_sections(image)

    def lists(name):
        off, vals = sec[name + "_off"].tolist(), strs(sec[name])
        return [vals[a:b] for a, b in zip(off, off[1:])]

    cols = {c: strs(sec[s + "_sid"]) for c, s in (
        ("name", "name"), ("type", "type"), ("country", "country"),
        ("start", "start"), ("end", "end"))}
    n, pdates = len(cols["name"]), [d + ["", ""] for d in lists("pdates")]
    cols.update(confidence=sec["score"].tolist(),
                gender=[("", "M", "F")[g] for g in sec["gender"].tolist()],
                **{c: [*map("|".join, lists(c))] for c in ("jobs", "roles")},
                date_of_birth=[d[0] for d in pdates],
                date_of_death=[d[1] for d in pdates],
                aliases=[""] * n, nationalities=[""] * n)
    for i, nats in enumerate(lists("nats")):
        if "nationality" in cols["type"][i]:  # + its own name and country
            own = (cols["name"][i].lower(), cols["country"][i].lower())
            cols["aliases"][i] = "|".join(x for x in nats if x not in own)
        else:  # a person's, or empty
            cols["nationalities"][i] = "|".join(nats)
    off, ids = sec["nd_off"].tolist(), sec["nd_ids"].tolist()
    return KBBundle(cols, {k: frozenset(ids[a:b]) for k, a, b in
                           zip(strs(sec["nd_key"]), off, off[1:])},
                    frozenset(strs(sec["natf_key"])))


@functools.lru_cache(maxsize=1)
def wrap_image(image):
    """The kernel's handle on an image, checked once — magic, version,
    every section bound and index, every row id (``term_ids`` in [0, n],
    ``nd_ids`` in [1, n]), no duplicate key, step or final state — and
    then read in place, with the probe tables built from its key
    lists; ValueError on a bad image.  The handle of the last image
    wrapped is memoized, so a worker that reads the same broadcast value
    for every batch wraps it once and keeps its fragment cache."""
    return _load().wrap_image(image)


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


def _dates_for(text):
    """The kernel's dates: ``(start, end, source, iso, confidence,
    show_without_zeros)`` per :func:`find_dates` match."""
    return [(dm.start, dm.end, dm.source, dm.iso.iso(), dm.confidence,
             dm.iso.show_without_zeros()) for dm in find_dates(text)]


def covers(lang, find_names=False, mode="default") -> bool:
    """Whether the kernel runs this configuration at all; when not, every
    document takes the pure-Python path."""
    return (not FORCE_DISABLE and mode == "default" and not find_names
            and getattr(lang, "code", None) == "en" and available())


def scan_resolve(image, text, scan_text=None, as_tuples=False):
    """Fused scan+resolve in C over a wrapped image (:func:`wrap_image`)
    for a configuration :func:`covers` admits: the document's rows."""
    rows = _load().scan_resolve_doc(
        image, text,
        None if scan_text is None or scan_text is text else scan_text,
        _dates_for(text), offsets_of_paragraphs(text), _frag_helper)
    if as_tuples:
        return rows
    return [dict(zip(ROW_FIELDS, r)) for r in rows]


def try_scan_resolve(kb, atm, text, scan_text=None, find_names=False,
                     mode="default", lang=None, as_tuples=False):
    """:func:`scan_resolve` for object callers: the image of ``kb`` +
    ``atm`` is built on first use and cached on the bundle (``_ck_*``
    never rides a pickle).  Returns None only when the kernel does not
    cover this configuration (:func:`covers`)."""
    if not covers(lang, find_names, mode):
        return None
    cached = kb.__dict__.get("_ck_image")
    if cached is None or cached[0] is not atm:
        handle = _load().wrap_image(kb_image(kb, atm))
        cached = kb.__dict__["_ck_image"] = (atm, handle)
    return scan_resolve(cached[1], text, scan_text, as_tuples)

"""Compiled scan+resolve kernel: build, load, and dispatch.

The hot path of the engine — the automaton scan plus the per-document
sequential state machine of :mod:`ner_spark.semantics.resolve` — is
CPython-bound (the r4 numpy-batch restructure measured ~5-15%; the residual
cost is sequential interpreter state mutation).  This module compiles a C++
twin of both (``_resolve_kernel.cpp``) with the system g++ at first use,
caches the shared object keyed by a source hash, and exposes one entry
point:

    try_scan_resolve(...) -> rows | None

``None`` means "take the pure-Python path" — the kernel covers exactly the
Spark production surface (mode="default", lang="en", find_names=False) and
raises ``Fallback`` for any state it cannot reproduce bug-for-bug; the one
caller (recognize.scan_and_resolve) then runs ``atm.scan`` +
``resolve.resolve_document``.  Parity is pinned by the differential fuzz
test (tests/test_ckernel.py) and the byte-identical reference goldens.

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
# KB pack
# ---------------------------------------------------------------------------

# EN tables mirrored into the pack (lang.py EN; en location-coref contexts)
_EN_VERBS = [" was ", " were ", " is "]
_EN_THERE_CTX = [" is ", " are ", " was ", " were ", " has ", " have ",
                 " had "]
_PRON_MASK = {  # lang.py EN.pronouns → C flag bits (M=1, F=2, L=4)
    "he": 1, "him": 1, "himself": 1, "his": 1,
    "she": 2, "her": 2, "hers": 2, "herself": 2,
    "who": 3, "whom": 3, "whose": 3,
    "here": 4, "there": 4, "where": 4,
}
_PERSON_EXACT = ("person", "person:artist", "person:fictional")


def _build_pack(kb):
    """Intern the KBBundle into the C pack (content-equal strings share one
    sid, so every dict/membership the Python twin does by string value the
    kernel does by int compare)."""
    ck = _load()
    n = kb.n_rows()
    intern: dict[str, int] = {}
    strtab: list[str] = []

    def sid(s: str) -> int:
        i = intern.get(s)
        if i is None:
            i = intern[s] = len(strtab)
            strtab.append(s)
        return i

    empty_sid = sid("")
    tarr = kb.type_arr()
    score = [float(x) for x in kb.score_arr()]
    names = kb.name_arr()
    genders = kb.gender_arr()
    countries = kb.country_arr()
    kinds = kb.ctx_kind_arr()
    kchars = kb.ctx_char_arr()
    name_sid = [sid(x) for x in names]
    country_sid = [sid(x) for x in countries]
    loc_sid, founded_sid, cancelled_sid, start_sid, end_sid = [], [], [], [], []
    jobs, roles, nats, pdates = [], [], [], []
    for i in range(n + 1):
        if i == 0:
            loc_sid.append(empty_sid)
            founded_sid.append(empty_sid)
            cancelled_sid.append(empty_sid)
            start_sid.append(empty_sid)
            end_sid.append(empty_sid)
            jobs.append(())
            roles.append(())
            nats.append(())
            pdates.append(())
            continue
        loc_sid.append(sid(kb.get_data_for(i, "LOCATION")))
        founded_sid.append(sid(kb.get_data_for(i, "FOUNDED")))
        cancelled_sid.append(sid(kb.get_data_for(i, "CANCELLED")))
        start_sid.append(sid(kb.get_data_for(i, "START")))
        end_sid.append(sid(kb.get_data_for(i, "END")))
        jobs.append(tuple(sid(j) for j in kb.get_multival(i, "JOBS")))
        roles.append(tuple(sid(r) for r in kb.get_multival(i, "ROLES")))
        # frozensets → sorted for determinism (membership-only consumers)
        nats.append(tuple(sid(x) for x in sorted(kb.get_nationalities(i))))
        pdates.append(tuple(sid(x) for x in sorted(kb.get_dates(i))))
    args = {
        "score": score,
        "name_sid": name_sid,
        "country_sid": country_sid,
        "loc_sid": loc_sid,
        "founded_sid": founded_sid,
        "cancelled_sid": cancelled_sid,
        "start_sid": start_sid,
        "end_sid": end_sid,
        "gender": [1 if g == "M" else 2 if g == "F" else 0 for g in genders],
        "person_exact": [1 if t in _PERSON_EXACT else 0 for t in tarr],
        "artist": [1 if f else 0 for f in kb.artist_flag_arr()],
        "group": [1 if f else 0 for f in kb.group_flag_arr()],
        "person_sub": [1 if f else 0 for f in kb.person_sub_flag_arr()],
        "loc_sub": [1 if f else 0 for f in kb.loc_sub_flag_arr()],
        "geo_sub": [1 if f else 0 for f in kb.geo_sub_flag_arr()],
        "type_exact": [1 if t == "person" else 2 if t == "location" else 0
                       for t in tarr],
        "ctx_kind": list(kinds),
        "ctx_char": [ord(c) if c else 0 for c in kchars],
        "jobs": jobs,
        "roles": roles,
        "nats": nats,
        "pdates": pdates,
        "strtab": strtab,
        "type_str": list(tarr),
        "verbs": _EN_VERBS,
        "there_ctx": _EN_THERE_CTX,
        "empty_sid": empty_sid,
        # fused-scan tables (scan_resolve_doc)
        "name_dict": [(k, tuple(sorted(v)))
                      for k, v in kb.name_dict.items()],
        "nat_forms": sorted(kb.nationality_forms),
        "pron_keys": list(_PRON_MASK),
        "pron_masks": list(_PRON_MASK.values()),
    }
    return ck.build_pack(args)


def _pack_for(kb):
    """One pack per bundle per process, cached on the bundle itself
    (broadcast unpickling yields one bundle per executor process)."""
    pack = kb.__dict__.get("_ck_pack_en")
    if pack is None:
        pack = _build_pack(kb)
        kb.__dict__["_ck_pack_en"] = pack
    return pack


def _atm_pack_for(atm):
    """One C automaton pack per GazetteerAutomaton per process."""
    pack = atm.__dict__.get("_ck_atm_pack")
    if pack is None:
        ck = _load()
        pack = ck.build_atm(
            [(k, tuple(ids)) for k, ids in atm.keys.items()],
            list(atm.prefixes), list(atm.first))
        atm.__dict__["_ck_atm_pack"] = pack
    return pack


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


def try_scan_resolve(kb, atm, text, scan_text=None,
                     list_titles=frozenset(), find_names=False,
                     mode="default", lang=None, split_interval=True,
                     as_tuples=False):
    """Fused scan+resolve in C.  Returns rows, or None when the kernel does
    not cover this configuration (caller runs atm.scan + resolve_document)."""
    if FORCE_DISABLE or mode != "default" or find_names \
            or getattr(lang, "code", None) != "en":
        return None
    ck = _load()
    if ck is None:
        return None
    pack = _pack_for(kb)
    apack = _atm_pack_for(atm)
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
            pack, apack, text,
            None if scan_text is None or scan_text is text else scan_text,
            dates, paragraphs, lazy, _frag_helper)
    except ck.Fallback:
        return None
    if as_tuples:
        return rows
    return [{"start": s, "end": e, "par": p, "kind": k, "text": t,
             "sense": sn, "iso": iso, "confidence": c}
            for s, e, p, k, t, sn, iso, c in rows]

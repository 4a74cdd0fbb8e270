"""Cedar ``.ct`` binary automaton compatibility (io/ctdict.py).

Layer 1 (always runs): write_ct ↔ read_ct roundtrip on namelists with
multi-values, the fragment marker 0, and UTF-8 keys — including the
full fixture-KB namelist.

Layer 2 (gated on g++ + the reference tree): compiles the reference's
OWN figa binary from /root/reference/figa/src (unmodified sources,
built in a temp dir) and checks true interop both ways:

* a .ct written by figa (``-d namelist -n -w out.ct``) decodes via
  read_ct to exactly the namelist;
* figa loading OUR write_ct file produces byte-identical KBlookup
  output to figa loading its own file.
"""

import os
import shutil
import subprocess

import pytest

from ner_spark.io.ctdict import read_ct, read_dct, write_ct, write_dct

REF_SRC = "/root/reference/figa/src"
_FIGA_FILES = ["main.cpp", "figa_cedar.cpp", "figa_cedar.h",
               "figa_cedar.tpp", "cedar.h", "darts.h"]
_CFLAGS = ["-std=c++11", "-DFLEXIBLE", "-DSTOPBIT", "-DNEXTBIT"]

NAMELIST = {
    "New York": [1, 3],
    "New": [2],
    "Praha": [4, 0],
    "Jan Novak": [5],
    "Žofín": [7, 2, 0],          # UTF-8 key, 3 values incl. fragment
    "Antonín Dvořák": [9],
}


@pytest.mark.parametrize("write,read,ext", [
    (write_ct, read_ct, "ct"), (write_dct, read_dct, "dct")])
def test_binary_dict_roundtrip_small(write, read, ext, tmp_path):
    p = str(tmp_path / f"a.{ext}")
    n = write(NAMELIST.items(), p)
    assert n % 256 == 0          # block padding
    assert read(p) == NAMELIST


@pytest.mark.parametrize("write,read,ext", [
    (write_ct, read_ct, "ct"), (write_dct, read_dct, "dct")])
def test_binary_dict_roundtrip_full_fixture(write, read, ext,
                                            kb_rows, tmp_path):
    from ner_spark.semantics.kb import KBBundle, build_namelist

    nl = build_namelist(KBBundle.from_rows(kb_rows))
    p = str(tmp_path / f"kb.{ext}")
    write(nl.items(), p)
    assert read(p) == nl


@pytest.mark.parametrize("write,ext", [(write_ct, "ct"), (write_dct, "dct")])
def test_binary_dict_rejects_unrepresentable_keys(write, ext, tmp_path):
    with pytest.raises(ValueError):
        write([("bad\x01key", [1])], str(tmp_path / f"x.{ext}"))


# -- layer 2: the reference binary itself -----------------------------------

@pytest.fixture(scope="session")
def figa_bin(tmp_path_factory):
    if shutil.which("g++") is None or not os.path.isdir(REF_SRC):
        pytest.skip("no g++ toolchain or reference tree")
    d = tmp_path_factory.mktemp("figa")
    for f in _FIGA_FILES:
        shutil.copyfile(os.path.join(REF_SRC, f), str(d / f))
    objs = []
    for src in ("main.cpp", "figa_cedar.cpp"):
        obj = str(d / (src + ".o"))
        subprocess.run(["g++", *_CFLAGS, "-c", str(d / src), "-o", obj],
                       check=True, cwd=str(d), capture_output=True)
        objs.append(obj)
    exe = str(d / "figav1.0")
    subprocess.run(["g++", *objs, "-o", exe], check=True,
                   capture_output=True)
    return exe


def _namelist_text(nl: dict) -> str:
    lines = []
    for key, ids in nl.items():
        vals = ";".join("N" if v == 0 else str(v) for v in ids)
        lines.append(f"{key}\t{vals}")
    return "\n".join(lines) + "\n"


def _lookup(figa: str, ct: str, text: str) -> str:
    r = subprocess.run([figa, "-p", "-d", ct], input=text,
                       capture_output=True, text=True, check=True)
    return r.stdout


@pytest.mark.parametrize("read,ext", [(read_ct, "ct"), (read_dct, "dct")])
def test_figa_written_dict_decodes(read, ext, figa_bin, tmp_path):
    nl_file = str(tmp_path / "namelist")
    with open(nl_file, "w") as fh:
        fh.write(_namelist_text(NAMELIST))
    theirs = str(tmp_path / f"theirs.{ext}")
    subprocess.run([figa_bin, "-d", nl_file, "-n", "-w", theirs],
                   check=True, capture_output=True)
    assert read(theirs) == NAMELIST


@pytest.mark.parametrize("write,ext", [(write_ct, "ct"), (write_dct, "dct")])
def test_figa_loads_our_dict_identically(write, ext, figa_bin, tmp_path):
    nl_file = str(tmp_path / "namelist")
    with open(nl_file, "w") as fh:
        fh.write(_namelist_text(NAMELIST))
    theirs = str(tmp_path / f"theirs.{ext}")
    subprocess.run([figa_bin, "-d", nl_file, "-n", "-w", theirs],
                   check=True, capture_output=True)
    ours = str(tmp_path / f"ours.{ext}")
    write(NAMELIST.items(), ours)

    text = ("I saw New York and Praha with Jan Novak in Žofín ; "
            "Antonín Dvořák was there .\n")
    out_theirs = _lookup(figa_bin, theirs, text)
    out_ours = _lookup(figa_bin, ours, text)
    assert out_theirs == out_ours
    assert "New York" in out_ours and "Žofín" in out_ours


@pytest.mark.parametrize("write,ext", [(write_ct, "ct"), (write_dct, "dct")])
def test_figa_reads_full_fixture_dict(write, ext, figa_bin, kb_rows,
                                      tmp_path):
    """The unmodified reference binary loads a write of the FULL
    fixture-KB namelist and finds a known entity."""
    from ner_spark.semantics.kb import KBBundle, build_namelist

    kb = KBBundle.from_rows(kb_rows)
    nl = build_namelist(kb)
    ours = str(tmp_path / f"kb.{ext}")
    write(nl.items(), ours)
    name = kb.get_data_for(1, "NAME")
    out = _lookup(figa_bin, ours, f"We met {name} yesterday .\n")
    assert name in out, out


@pytest.mark.parametrize("write,read,ext", [
    (write_ct, read_ct, "ct"), (write_dct, read_dct, "dct")])
def test_writer_scales_compact(write, read, ext, tmp_path):
    """The sliding-window builders must stay near-linear AND dense — a
    regression to the naive per-node scan is minutes here, a regression
    to cap-and-spill packing is a >10× sparse file.  5k random keys:
    bounded units per trie byte, exact round-trip."""
    import random
    random.seed(3)
    words = {}
    for i in range(5000):
        k = "k%d" % i + "".join(random.choice("abcdefghij")
                                for _ in range(random.randrange(4, 14)))
        words[k] = [i + 1, i + 7]
    items = sorted(words.items())
    total_bytes = sum(len(k.encode()) + 4 for k in words)  # keys + \x01 runs
    p = str(tmp_path / f"big.{ext}")
    n = write(items, p)
    assert read(p) == words
    assert n <= 4 * total_bytes, f"sparse output: {n} units"


def test_migrate_automaton_roundtrip(kb_rows, pages_rows, tmp_path):
    """tools/migrate_automaton: namelist TSV → .dct → .ct → TSV
    preserves the namelist exactly; and a ``.ct``/``.dct`` converts into
    the automaton's trie with no code of its own — the automaton built
    from either file has the fixture KB's keys and matches on the
    fixture pages."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "migrate_automaton", os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools", "migrate_automaton.py"))
    mig = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mig)

    from ner_spark.kb.artifacts import write_namelist_tsv

    tsv0 = str(tmp_path / "a.tsv")
    with open(tsv0, "w") as fh:
        write_namelist_tsv(NAMELIST, fh)
    chain = [tsv0, str(tmp_path / "b.dct"), str(tmp_path / "d.ct"),
             str(tmp_path / "e.tsv")]
    for src, dst in zip(chain, chain[1:]):
        mig._write(mig._read(src), dst)
    assert mig._read(chain[-1]) == NAMELIST

    from ner_spark.kb.build import compile_gazetteer
    from ner_spark.semantics.automaton import GazetteerAutomaton

    _, src = compile_gazetteer(kb_rows)
    texts = [p["text"] for p in pages_rows]
    want = [src.scan(t) for t in texts]
    assert sum(map(len, want)) > 100
    for write, read, ext in ((write_ct, read_ct, "ct"),
                             (write_dct, read_dct, "dct")):
        out = str(tmp_path / f"kb.{ext}")
        write(src.iter_keys(), out)
        atm = GazetteerAutomaton.build(read(out).items())
        assert dict(atm.iter_keys()) == dict(src.iter_keys()), ext
        assert [atm.scan(t) for t in texts] == want, ext


# -- layer 2b: randomized differential fuzz vs the reference scanner --------

def _render_ours(matches) -> str:
    """Render GazetteerAutomaton matches in figa's KBlookup TSV shape:
    ``sorted-ids;...\\tstart+1\\tend\\twords``, 1-based inclusive char
    offsets, stream-wide; 'N' links print as 0, ids ascending.  figa
    prints the matched WORD PATH joined by single spaces (adjacent-punct
    separators render as " " too: ``U.S.A`` → ``U . S . A``), so the
    fragment is re-tokenized the same way — offsets stay original-text."""
    from ner_spark.semantics.automaton import tokenize

    out = []
    for m in matches:
        ids = ";".join(str(i) for i in sorted(set(m.ids)))
        words = " ".join(w.text for w in tokenize(m.fragment))
        out.append(f"{ids}\t{m.start + 1}\t{m.end}\t{words}")
    return "".join(line + "\n" for line in out)


def test_fuzz_scan_vs_reference_figa(figa_bin, tmp_path):
    """Seeded fuzz: random namelists × random corpora through the compiled
    reference figa AND our automaton (both the Python scan and, when the
    compiled kernel is importable, its fused C scan via scan_and_resolve's
    dispatch path is covered by tests/test_ckernel.py) — identical TSV."""
    import random

    from ner_spark.semantics.automaton import GazetteerAutomaton

    rng = random.Random(20260818)
    words = ["New", "York", "Praha", "Jan", "Novak", "Fond", "U.S.A",
             "Žofín", "Dvořák", "al-Idrisi", "O'Neil", "x", "mega-city",
             "Ltd.", "Čapek", "ünited", "ООН", "東京", "a1", "42nd"]
    fillers = ["saw", "the", "and", "on", "in", "of", "it", "was", ",",
               ".", ";", "(", ")", "-", "http://ex.com/a.b", "https:",
               "1997", "–",
               # bare-delimiter pieces: joined with " " they produce
               # " \t ", "   ", and " \n " gap runs — the separator class
               # where the strong-newline scope bug hid (found by the r5
               # soak: a \n preceded by other whitespace must NOT break
               # the match chain, figa_cedar.tpp:985-1012)
               "\t", "  ", "\n"]
    for trial in range(12):
        # random namelist: 1-3-word keys, random ids incl. the N marker
        keys = {}
        for _ in range(rng.randint(3, 14)):
            k = " ".join(rng.choice(words)
                         for _ in range(rng.randint(1, 3)))
            ids = sorted({rng.randint(1, 9) for _ in
                          range(rng.randint(1, 3))})
            if rng.random() < 0.3:
                ids.append(0)
            keys[k] = ids
        nl_file = str(tmp_path / f"nl{trial}.tsv")
        with open(nl_file, "w") as fh:
            fh.write(_namelist_text(keys))
        ct = str(tmp_path / f"f{trial}.ct")
        subprocess.run([figa_bin, "-d", nl_file, "-n", "-w", ct],
                       check=True, capture_output=True)

        atm = GazetteerAutomaton.build(keys.items())
        pieces = list(keys) + words + fillers
        for _ in range(8):
            n = rng.randint(0, 40)
            body = []
            for _ in range(n):
                body.append(rng.choice(pieces))
                if rng.random() < 0.08:
                    body.append("\n")
            text = " ".join(body) + "\n"
            theirs = _lookup(figa_bin, ct, text)
            ms = atm.scan(text)
            ours = _render_ours(ms)
            assert theirs == ours, (
                f"trial {trial}: scan divergence on {text[:80]!r}\n"
                f"figa: {theirs!r}\nours: {ours!r}")
            # figa -b: same matches with UTF-8 byte offsets
            from ner_spark.semantics.automaton import byte_offset_matches

            theirs_b = subprocess.run(
                [figa_bin, "-p", "-b", "-d", ct], input=text,
                capture_output=True, text=True, check=True).stdout
            ours_b = _render_ours(byte_offset_matches(text, ms))
            assert theirs_b == ours_b, (
                f"trial {trial}: -b divergence on {text[:80]!r}\n"
                f"figa: {theirs_b!r}\nours: {ours_b!r}")

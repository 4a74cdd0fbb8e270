"""KB compile side formats: namelist TSV sink/source and typeflag codec
(SURVEY S7/S10/X16).  The one versioned KB artifact is
``kb.build.save_kb_artifact``/``load_kb_artifact``.

  * namelist TSV: ``key \\t id;id;...;N`` — the uniq_namelist output format
    (/root/reference/automata/src/uniq_namelist.py:104-107; parsed back by
    figa, figa/src/figa_cedar.cpp:129-251, figa/test_figa.py:31-50).
    'N' encodes the name-fragment marker we store as id 0;
  * typeflags: ``P:<F/G>:<N/P>:<gender>`` for persons, ``L[:subtype]`` for
    geographical (/root/reference/automata/src/get_entities_with_typeflags.py:
    4, 38-92).
"""

from __future__ import annotations

from typing import TextIO

from ner_spark.semantics.kb import KBBundle


def write_namelist_tsv(namelist: dict[str, list[int]], fh: TextIO) -> None:
    """key → ordered ids; trailing id 0 rendered as the 'N' marker."""
    for key in sorted(namelist):
        links = ["N" if i == 0 else str(i) for i in namelist[key]]
        fh.write(f"{key}\t{';'.join(links)}\n")


def read_namelist_tsv(fh: TextIO) -> dict[str, list[int]]:
    out: dict[str, list[int]] = {}
    for line in fh:
        line = line.rstrip("\n")
        if not line:
            continue
        key, _, links = line.partition("\t")
        out[key] = [0 if x == "N" else int(x) for x in links.split(";") if x]
    return out


def typeflags(kb: KBBundle, line: int, ntype: str | None = None) -> str:
    """get_entities_with_typeflags.py:38-92 codec.  ``ntype`` is the alias
    name-type flag ('nick' → N, 'pseudo' → P)."""
    t = kb.get_ent_type(line)
    subtype = ""
    if kb.get_data_for(line, "FICTIONAL") == "1":
        subtype += "F"
    if "group" in t:
        subtype += "G"
    subtype = "".join(sorted(subtype))
    flag_ntype = {"nick": "N", "pseudo": "P"}.get(ntype or "", "")
    if "person" in t:
        gender = kb.get_data_for(line, "GENDER")
        return f"P:{subtype}:{flag_ntype}:{gender}"
    if "geographical" in t:
        return "L" + (f":{subtype}" if subtype else "")
    return ""

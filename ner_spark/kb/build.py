"""KB compile (SURVEY §3.3 / M1): one compile, one artifact.

  * :func:`compile_gazetteer` is the one KB compile, Spark-free: flat KB
    rows → scored :class:`KBBundle` + :class:`GazetteerAutomaton`.  The
    CLI (``api.LocalRecognizer``), the golden/kernel tools and
    :func:`compile_kb` all call it;
  * :func:`compile_kb` adds the relational ``kb`` DataFrame (with the
    bundle's A10/A11 static scores and each entity's sameAs ``component``;
    used by the triple/attribute stages and as the small side of
    broadcast joins), serializes the bundle and the automaton's trie as
    the C kernel's KB image, the only serialized form of either, and
    broadcasts it — the replacement for the reference's shared-memory KB
    daemon (ner/kb_daemon.py:30-61) and ``.dct`` file.  A worker reads
    the image; only a configuration the kernel does not cover decodes the
    bundle and the automaton from it (``ckernel.image_bundle``/``image_automaton``).
    The scored KB is one driver-local Arrow table; a KB of millions of
    rows is served from the file-backed artifact instead;
  * :func:`save_kb_artifact` / :func:`load_kb_artifact` persist that
    compile as the one reusable, versioned KB artifact.

:func:`with_static_scores` is the same scoring as a pure DataFrame job
(groupBy type → max, broadcast join back, column arithmetic —
metrics_knowledge_base.py:330-387); tests/test_kb.py holds it equal to
the bundle's scores, so either is the oracle of the other.  Likewise
``pipeline.triples.sameas_mapping`` (redirect edges → connected
components as a DataFrame job) is the oracle of :func:`kb_components`.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from hashlib import sha256

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ner_spark.pipeline.cc import union_find
from ner_spark.semantics.automaton import GazetteerAutomaton
from ner_spark.semantics.ckernel import IMAGE_VERSION, image_automaton, \
    image_bundle, kb_image, section_views
from ner_spark.semantics.kb import (KB_COLUMNS, KBBundle,
                                    build_autocomplete_namelists,
                                    build_namelist, build_uri_namelist,
                                    filter_namelist_to_wiki, wiki_url_lines)

_WIKI_COLS = ("wiki_backlinks", "wiki_hits", "wiki_ps")
_STR_COLS = [c for c in KB_COLUMNS if c not in ("id", *_WIKI_COLS)]
_SCORE_COLS = ("score_wiki", "score_metrics", "confidence")


def kb_table(rows: list[dict]) -> pa.Table:
    """Flat KB rows → one Arrow table: int64 1-based ``id``, the string
    columns (``None`` → ``""``) and the wiki stats as nullable int64
    (``None`` or ``""`` → null).  Typed Arrow columns convert the same way
    whether or not the session enables Arrow for ``createDataFrame``."""
    cols = {"id": pa.array([int(r["id"]) for r in rows], pa.int64())}
    for c in _STR_COLS:
        cols[c] = pa.array([str(r[c]) if r.get(c) is not None else ""
                            for r in rows], pa.string())
    for c in _WIKI_COLS:
        cols[c] = pa.array(
            [int(r[c]) if r.get(c) is not None and str(r[c]) != "" else None
             for r in rows], pa.int64())
    return pa.table(cols)


def kb_components(table: pa.Table) -> pa.Array:
    """The sameAs ``component`` of every row of a :func:`kb_table`: the
    minimum id connected to it by redirect links (its own id when it has
    none).  The edges follow ``pipeline.triples.redirect_edges`` exactly:
    ``redirects`` split on ``|``, empty names dropped, an edge to every
    row whose ``name`` matches the redirect name exactly."""
    ids = table.column("id").to_pylist()
    by_name: dict[str, list[int]] = {}
    for i, name in zip(ids, table.column("name").to_pylist()):
        by_name.setdefault(name, []).append(i)
    comp = union_find(
        (src, dst)
        for src, redirects in zip(ids, table.column("redirects").to_pylist())
        for rname in redirects.split("|") if rname
        for dst in by_name.get(rname, ()))
    return pa.array([comp.get(i, i) for i in ids], pa.int64())


def kb_rows_to_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Flat KB rows → DataFrame of :func:`kb_table`."""
    return spark.createDataFrame(kb_table(rows))


def with_static_scores(kb_df: DataFrame) -> DataFrame:
    """A10/A11 as a DataFrame job: per-type maxima (0.25 cap for
    backlinks/hits), weighted averages 5:5:1 and 5:1
    (metrics_knowledge_base.py:330-387).  The scores are left unrounded:
    Spark's HALF_UP ``round`` differs from the reference's "%.2f" on ties
    such as 78.125, so callers round in Python."""
    nonempty = sum(
        (F.when(F.coalesce(F.col(c).cast("string"), F.lit("")) != "", 1).otherwise(0)
         for c in KB_COLUMNS if c != "id"),
        F.lit(0),
    )
    df = kb_df.withColumn("desc_len", F.length(F.coalesce("description", F.lit(""))).cast("double")) \
              .withColumn("ncols", nonempty.cast("double"))
    maxima = df.groupBy("type").agg(
        F.max("desc_len").alias("mx_desc"),
        F.max("ncols").alias("mx_ncols"),
        F.max("wiki_backlinks").alias("mx_bl"),
        F.max("wiki_hits").alias("mx_ht"),
        F.max("wiki_ps").alias("mx_ps"),
    )
    df = df.join(F.broadcast(maxima), "type")

    def norm(value, mx):
        return F.when(F.coalesce(mx, F.lit(0.0)) == 0.0, F.lit(1.0)) \
                .otherwise(F.least(value / mx, F.lit(1.0)))

    has_wiki = F.col("wiki_backlinks").isNotNull()
    score_wiki = F.when(
        has_wiki,
        100.0 * (5 * norm(F.col("wiki_backlinks").cast("double"), 0.25 * F.col("mx_bl").cast("double"))
                 + 5 * norm(F.col("wiki_hits").cast("double"), 0.25 * F.col("mx_ht").cast("double"))
                 + 1 * norm(F.col("wiki_ps").cast("double"), F.col("mx_ps").cast("double"))) / 11.0,
    ).otherwise(0.0)
    score_metrics = 100.0 * (norm(F.col("desc_len"), F.col("mx_desc"))
                             + norm(F.col("ncols"), F.col("mx_ncols"))) / 2.0
    return (
        df.withColumn("score_wiki", score_wiki)
          .withColumn("score_metrics", score_metrics)
          .withColumn("confidence", (5 * score_wiki + 1 * score_metrics) / 6.0)
          .drop("desc_len", "ncols", "mx_desc", "mx_ncols", "mx_bl", "mx_ht", "mx_ps")
    )


SCAN_KEYS = ("lowercase", "deaccent", "lang")
# artifact layout: 2 added kb.parquet's ``component``, 3 keeps no bundle
MANIFEST_FORMAT = 3


@dataclass
class KBArtifacts:
    """Everything the pipeline needs: relational KB, the KB image's
    broadcast, the driver's bundle (compiled, or decoded from a loaded
    image) and the scan modes every scan of the automaton applies.  The
    automaton and the counts are read from the image."""

    kb_df: DataFrame          # with static scores and sameAs component
    image_bc: "object"        # Broadcast[bytes]: ckernel.kb_image
    bundle: KBBundle
    lowercase: bool = False   # -d: keys lowered, scan text lowered
    deaccent: bool = False    # -r: keys and working text accent-stripped
    lang: str = "en"          # language module of namelist + scan rules

    @property
    def scan_config(self) -> dict:
        return {k: getattr(self, k) for k in SCAN_KEYS}

    @property
    def automaton(self) -> GazetteerAutomaton:
        return image_automaton(self.image_bc.value)

    @property
    def n_entities(self) -> int:  # the image's row count
        return int(section_views(self.image_bc.value)["meta"][0])

    @property
    def n_keys(self) -> int:  # the automaton's final states
        return len(section_views(self.image_bc.value)["term_state"])


def _transform_namelist(namelist: dict[str, list[int]], lowercase: bool,
                        deaccent: bool, conf_of) -> dict[str, list[int]]:
    """Key transform of the lowercase -d / deaccent -r automaton variants
    (create_cedar.sh:25,521-546): each key becomes the form the scan reads
    (``textnorm.apply_scan_modes``, the rule every scan applies to its
    text).  Colliding keys merge with the confidence-descending id order
    of uniq_namelist.py:88-94, fragment marker 0 kept last."""
    if not (lowercase or deaccent):
        return namelist
    from ner_spark.semantics.textnorm import apply_scan_modes

    out: dict[str, list[int]] = {}
    for key, ids in namelist.items():
        k = apply_scan_modes(key, lowercase, deaccent)[1]
        if not k:
            continue
        if k in out:
            merged = {i for i in out[k] if i != 0} | {i for i in ids if i != 0}
            ordered = sorted(merged, key=lambda i: (-conf_of(i), i))
            if 0 in out[k] or 0 in ids:
                ordered.append(0)
            out[k] = ordered
        else:
            out[k] = list(ids)
    return out


def _fold_surname_derivatives(bundle: KBBundle, tagged_expanded: dict) -> None:
    """Fold namegen surname derivatives into the bundle's name dict —
    the analogue of the reference's person-only surname→URI side channel
    (KB2namelist.py:678, 785-792), whose dump feeds the name-recognizer
    derivatives build.  Here the consumer is the ``-n`` name gazetteer
    (resolve._gazetteer_name_spans joins on ``name_dict``), so inflected
    Czech surnames count as known person subnames during unknown-name
    discovery.  Keys normalized exactly like build_name_dict
    (deaccent+lower); ids restricted to the base name's person lines."""
    from ner_spark.semantics.textnorm import remove_accent

    by_name: dict[str, list[int]] = {}
    for i in range(1, bundle.n_rows() + 1):
        if "person" in bundle.get_ent_type(i):
            by_name.setdefault(bundle.get_data_for(i, "NAME"), []).append(i)
    extra: dict[str, set[int]] = {}
    for base, (_infl, _subs, sur) in tagged_expanded.items():
        lines = by_name.get(base)
        if not lines:
            continue
        for s in sur:
            extra.setdefault(remove_accent(s).lower(), set()).update(lines)
    if extra:
        nd = dict(bundle.name_dict)
        for k, v in extra.items():
            nd[k] = frozenset(v | nd.get(k, frozenset()))
        bundle.name_dict = nd


def compile_gazetteer(rows: list[dict],
                      stop_list: set[str] | None = None,
                      filter_keys: bool = True,
                      add_pronouns: bool = True,
                      add_subname_fragments: bool = True,
                      lowercase: bool = False,
                      deaccent: bool = False,
                      uri_mode: bool = False,
                      wiki_filter: bool = False,
                      lang: str = "en",
                      tagged_inflections: list[str] | None = None,
                      qid_mode: bool = False
                      ) -> tuple[KBBundle, GazetteerAutomaton]:
    """The one KB compile, Spark-free: flat KB rows → (scored
    :class:`KBBundle`, :class:`GazetteerAutomaton`) — the reference's
    KB2namelist → uniq_namelist → figa ``.dct`` pipeline.  Used by
    :func:`compile_kb` (which adds the relational KB and the broadcasts),
    by ``api.LocalRecognizer`` and by the golden/kernel tools.

    ``lowercase`` builds the ``-d`` lowercase automaton variant and
    ``deaccent`` the ``-r`` accent-stripped one (both may combine): every
    key goes through ``textnorm.apply_scan_modes``, the rule every scan of
    the automaton applies to its text.

    ``tagged_inflections`` (cs only — namegen runs solely in the cs
    build, create_cedar.sh:369): tagged-inflection TSV lines whose
    expanded surface forms join the namelist (semantics/inflect.py).

    ``qid_mode`` (``-Q``, KB2namelist.py:1027-1030): automaton values
    become each row's Wikidata id with the leading ``Q`` stripped
    (rows carry ``qid`` when loaded from a Q-keyed KB.tsv) instead of
    the 1-based line number; rows without a qid keep their line number,
    exactly as the reference passes a non-Q ID through unchanged.  An
    EXPORT mode: the pipeline's own joins index the KB by line number,
    so a qid automaton is for external consumers of the artifact."""
    if tagged_inflections is not None and lang != "cs":
        raise ValueError("tagged_inflections is a cs-mode input "
                         "(create_cedar.sh:369 runs namegen only for cs)")
    bundle = KBBundle.from_rows(rows)
    from ner_spark.semantics.lang import get_lang

    lang_mod = get_lang(lang)
    tagged_expanded = None
    if tagged_inflections is not None:
        from ner_spark.semantics.inflect import expand_tagged_inflections

        tagged_expanded = expand_tagged_inflections(tagged_inflections)
        _fold_surname_derivatives(bundle, tagged_expanded)
    if uri_mode:
        # URI automaton (-u, KB2namelist.py:907-922): URL keys only
        namelist = build_uri_namelist(bundle)
    else:
        namelist = build_namelist(bundle, stop_list=stop_list,
                                  filter_keys=filter_keys,
                                  add_pronouns=add_pronouns,
                                  add_subname_fragments=add_subname_fragments,
                                  lang=lang_mod,
                                  tagged_expanded=tagged_expanded)
        if wiki_filter:
            # F13 (filter_namelist.sh): fragment ('N') rows keep only ids
            # whose KB line has a wikipedia URL
            namelist = filter_namelist_to_wiki(namelist, wiki_url_lines(bundle))
    namelist = _transform_namelist(namelist, lowercase, deaccent,
                                   bundle.get_score)
    if qid_mode and not uri_mode:
        # -Q: line number → stripped Q-id; 0 stays the fragment marker.
        # URI mode is exempt: the reference's -u branch passes str(line_num)
        # unconditionally (KB2namelist.py:977-980), ignoring --entity_id.
        # Order within a key is preserved (confidence-desc from the merge);
        # duplicates after remap (two lines sharing a qid) collapse to the
        # first, highest-confidence occurrence.
        qid_of = {int(r["id"]): int(str(r["qid"])[1:])
                  for r in rows if str(r.get("qid") or "")[:1] == "Q"}
        remapped: dict[str, list[int]] = {}
        for key, ids in namelist.items():
            seen: set[int] = set()
            vals: list[int] = []
            for i in ids:
                v = i if i == 0 else qid_of.get(i, i)
                if v not in seen:
                    seen.add(v)
                    vals.append(v)
            remapped[key] = vals
        namelist = remapped
    return bundle, GazetteerAutomaton.build(namelist.items())


def compile_kb(spark: SparkSession, rows: list[dict],
               lowercase: bool = False, deaccent: bool = False,
               lang: str = "en", **compile_kw) -> KBArtifacts:
    """Driver-side KB compile + broadcast (rebuilt when the KB snapshot
    changes, the analogue of the ETag/version handshake ner.py:756-810):
    :func:`compile_gazetteer` (same options), plus the scored relational
    KB with its sameAs components (one Arrow table, cached and counted)
    and the KB image's broadcast.  The
    artifact records ``lowercase``, ``deaccent`` and ``lang``, and every
    scan of it (extract_mentions, scan_mentions, the streaming pairs)
    applies the matching text transform."""
    bundle, automaton = compile_gazetteer(
        rows, lowercase=lowercase, deaccent=deaccent, lang=lang,
        **compile_kw)
    # scored KB: the bundle's scores (computed once by KBBundle.from_rows;
    # with_static_scores is the DataFrame-job oracle they are tested
    # against in tests/test_kb.py) appended to the KB table
    table = kb_table(rows)
    ids = table.column("id").to_pylist()
    for c in _SCORE_COLS:
        table = table.append_column(
            c, pa.array([bundle.cols[c][i] for i in ids], pa.float64()))
    table = table.append_column("component", kb_components(table))
    # cache + eager count: without them the session's first joins and
    # aggregations run inside the next job, which kgbench measured ~20%
    # slower (BASELINE.md "Scored KB as one Arrow table")
    kb_df = spark.createDataFrame(table).cache()
    kb_df.count()
    return KBArtifacts(
        kb_df=kb_df,
        image_bc=spark.sparkContext.broadcast(kb_image(bundle, automaton)),
        bundle=bundle, lowercase=lowercase, deaccent=deaccent, lang=lang,
    )


def _local_uri(path: str, name: str) -> str:
    return "file://" + os.path.abspath(os.path.join(path, name))


def save_kb_artifact(art: KBArtifacts, path: str,
                     kb_version: str = "") -> None:
    """Persist a compiled KB as a reusable artifact directory — the
    production deployment form: the reference never recompiles its KB per
    job, it ships the prebuilt ``.dct``/``.ct`` automaton + KB.tsv and
    figa/SharedKB load them (ner.py:432-443, ner/kb_daemon.py:30-61).
    Layout::

        <path>/kb.parquet/       scored relational KB with its sameAs
                                 components (kb_df)
        <path>/kb_image.bin      the C kernel's KB image (ckernel.kb_image),
                                 the only serialized bundle and automaton
        <path>/MANIFEST.json     layout format, scan config, image
                                 format and sha256, version handshake
                                 key

    ``path`` is a driver-local or NFS directory: all three entries go
    through the local filesystem (``kb.parquet`` as a ``file://`` URI,
    whatever the Hadoop default FS is), so the artifact is never split
    across two filesystems.

    The version key plays the role of the reference's ETag/VERSION
    handshake (ner.py:756-810): ``load_kb_artifact(..., kb_version=...)``
    fails fast on a stale artifact instead of silently serving old links.
    """
    os.makedirs(path, exist_ok=True)
    art.kb_df.write.mode("overwrite").parquet(_local_uri(path, "kb.parquet"))
    with open(os.path.join(path, "kb_image.bin"), "wb") as fh:
        fh.write(art.image_bc.value)
    with open(os.path.join(path, "MANIFEST.json"), "w") as fh:
        json.dump({"manifest_format": MANIFEST_FORMAT,
                   "kb_version": kb_version, "image_format": IMAGE_VERSION,
                   "image_sha256": sha256(art.image_bc.value).hexdigest(),
                   **art.scan_config}, fh)


def load_kb_artifact(spark: SparkSession, path: str,
                     kb_version: str | None = None) -> KBArtifacts:
    """Load a prebuilt KB artifact (see :func:`save_kb_artifact`) and
    broadcast it — skips the entire driver-side compile.  At cluster scale
    the artifact lives on shared storage and every job (and every re-run
    of a resumable job) starts from it; the KB compile happens once per KB
    snapshot, not once per job.  ``path`` is a driver-local or NFS
    directory, read through the local filesystem like
    :func:`save_kb_artifact` writes it.  A MANIFEST of another layout
    format (one that keeps a bundle file), without the scan config, with
    another KB image format or with an ``image_sha256`` that is missing or
    not the image's (``wrap_image`` checks bounds, not content) raises:
    recompile.  The image is broadcast as is; the driver's bundle is
    decoded from it.  The ``n_entities`` and ``n_keys`` that a MANIFEST
    written before they were read from the image carries are ignored."""
    with open(os.path.join(path, "MANIFEST.json")) as fh:
        manifest = json.load(fh)
    for key, what, want in (("manifest_format", "MANIFEST", MANIFEST_FORMAT),
                            ("image_format", "KB image", IMAGE_VERSION)):
        if manifest.get(key) != want:
            raise ValueError(f"KB artifact {path} has {what} format "
                             f"{manifest.get(key)!r}, this version reads "
                             f"{want} — recompile it")
    if not all(k in manifest for k in SCAN_KEYS):
        raise ValueError(f"KB artifact {path} does not record its scan "
                         f"config {SCAN_KEYS} — recompile it")
    if kb_version is not None and manifest.get("kb_version") != kb_version:
        raise ValueError(
            f"KB artifact version mismatch: artifact "
            f"{manifest.get('kb_version')!r} != requested {kb_version!r} "
            f"(stale artifact — recompile; ner.py:756-810 handshake)")
    with open(os.path.join(path, "kb_image.bin"), "rb") as fh:
        image = fh.read()
    if manifest.get("image_sha256") != sha256(image).hexdigest():
        raise ValueError(f"KB artifact {path}: kb_image.bin does not match "
                         f"the image_sha256 of its MANIFEST — recompile it")
    kb_df = spark.read.parquet(_local_uri(path, "kb.parquet")).cache()
    kb_df.count()
    return KBArtifacts(
        kb_df=kb_df,
        image_bc=spark.sparkContext.broadcast(image),
        bundle=image_bundle(image),
        **{k: manifest[k] for k in SCAN_KEYS},
    )


def compile_autocomplete(rows: list[dict],
                         stop_list: set[str] | None = None,
                         lang: str = "en") -> dict[str, GazetteerAutomaton]:
    """Per-type autocomplete automata (``-a``, create_cedar.sh:521-546):
    ``p`` = person links, ``l`` = geographical, ``x`` = every type, each
    a NONACCENT-variant (lowercase + accent-stripped keys) automaton
    whose ``autocomplete(prefix, m)`` walk serves suggestions.  Driver-
    side like compile_kb; broadcast the result if executors need it
    (the product use is a driver/serving-side suggestion index)."""
    from ner_spark.semantics.lang import get_lang

    bundle = KBBundle.from_rows(rows)
    namelists = build_autocomplete_namelists(bundle, stop_list=stop_list,
                                             lang=get_lang(lang))
    return {cls: GazetteerAutomaton.build(nl.items())
            for cls, nl in namelists.items()}

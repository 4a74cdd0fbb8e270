"""KB compile (SURVEY §3.3 / M1): one compile, one artifact.

  * :func:`compile_gazetteer` is the one KB compile, Spark-free: flat KB
    rows → scored :class:`KBBundle` + :class:`GazetteerAutomaton`.  The
    CLI (``api.LocalRecognizer``), the golden/kernel tools and
    :func:`compile_kb` all call it;
  * :func:`compile_kb` adds the relational ``kb`` DataFrame (with the
    bundle's A10/A11 static scores; used by the triple/attribute stages
    and as the small side of broadcast joins), builds the C kernel's flat
    KB image (``ckernel.kb_image``) and broadcasts the three — the
    replacement for the reference's shared-memory KB daemon
    (ner/kb_daemon.py:30-61) and memory-mapped ``.dct`` automaton.  A
    Python worker reads the image; it unpickles the bundle and the
    automaton only when a document falls back to Python;
  * :func:`save_kb_artifact` / :func:`load_kb_artifact` persist that
    compile as the one reusable, versioned KB artifact.

:func:`with_static_scores` is the same scoring as a pure DataFrame job
(groupBy type → max, broadcast join back, column arithmetic —
metrics_knowledge_base.py:330-387); tests/test_kb.py holds it equal to
the bundle's scores, so either is the oracle of the other.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ner_spark.semantics.automaton import GazetteerAutomaton
from ner_spark.semantics.ckernel import IMAGE_VERSION, kb_image
from ner_spark.semantics.kb import (KB_COLUMNS, KBBundle,
                                    build_autocomplete_namelists,
                                    build_namelist, build_uri_namelist,
                                    filter_namelist_to_wiki, wiki_url_lines)

_STR_COLS = [c for c in KB_COLUMNS if c not in
             ("id", "wiki_backlinks", "wiki_hits", "wiki_ps")]


def kb_rows_to_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Flat KB rows → DataFrame (strings + int wiki stats, 1-based id).
    Built through a pandas frame so the transfer is one Arrow batch, not
    row-at-a-time Row conversion (matters once the KB has millions of
    rows — and cuts ~2 s off every driver-side compile even at test size).

    The nullable wiki columns are object-dtype with real ``None``s, NOT
    pandas ``Int64``: the session config decides whether createDataFrame
    takes the Arrow path or the row-at-a-time ``_createFromLocal``
    fallback, and under the fallback ``pd.NA`` degrades to float NaN which
    LongType rejects.  Object+None converts identically under both paths,
    so this function is Arrow-config-independent (round-1 driver failure:
    FIELD_DATA_TYPE_UNACCEPTABLE_WITH_NAME on wiki_backlinks)."""
    import pandas as pd

    data = {"id": pd.array([int(r["id"]) for r in rows], dtype="int64")}
    for c in _STR_COLS:
        data[c] = [str(r[c]) if r.get(c) is not None else "" for r in rows]
    for c in ("wiki_backlinks", "wiki_hits", "wiki_ps"):
        data[c] = pd.Series(
            [int(r[c]) if r.get(c) is not None and str(r[c]) != "" else None
             for r in rows], dtype=object)
    schema = "id long, " + ", ".join(f"`{c}` string" for c in _STR_COLS) \
        + ", wiki_backlinks long, wiki_hits long, wiki_ps long"
    return spark.createDataFrame(pd.DataFrame(data), schema=schema)


def with_static_scores(kb_df: DataFrame) -> DataFrame:
    """A10/A11 as a DataFrame job: per-type maxima (0.25 cap for
    backlinks/hits), weighted averages 5:5:1 and 5:1, 2-decimal rounding
    (metrics_knowledge_base.py:330-387)."""
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
        df.withColumn("score_wiki", F.round(score_wiki, 2))
          .withColumn("score_metrics", F.round(score_metrics, 2))
          .withColumn("confidence", F.round((5 * score_wiki + 1 * score_metrics) / 6.0, 2))
          .drop("desc_len", "ncols", "mx_desc", "mx_ncols", "mx_bl", "mx_ht", "mx_ps")
    )


SCAN_KEYS = ("lowercase", "deaccent", "lang")


@dataclass
class KBArtifacts:
    """Everything the pipeline needs: relational KB + broadcast payloads,
    and the scan modes the automaton was compiled for (applied by every
    scan of it)."""

    kb_df: DataFrame          # with static scores
    bundle_bc: "object"       # Broadcast[KBBundle]
    automaton_bc: "object"    # Broadcast[GazetteerAutomaton]
    image_bc: "object"        # Broadcast[bytes]: ckernel.kb_image
    n_entities: int
    n_keys: int
    lowercase: bool = False   # -d: keys lowered, scan text lowered
    deaccent: bool = False    # -r: keys and working text accent-stripped
    lang: str = "en"          # language module of namelist + scan rules

    @property
    def scan_config(self) -> dict:
        return {k: getattr(self, k) for k in SCAN_KEYS}

    @property
    def bundle(self) -> KBBundle:
        return self.bundle_bc.value

    @property
    def automaton(self) -> GazetteerAutomaton:
        return self.automaton_bc.value


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
        k, scan_k = apply_scan_modes(key, lowercase, deaccent)
        k = scan_k if scan_k is not None else k
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
    KB and the broadcasts.  The artifact records ``lowercase``,
    ``deaccent`` and ``lang``, and every scan of it (extract_mentions,
    scan_mentions, the streaming pairs) applies the matching text
    transform."""
    bundle, automaton = compile_gazetteer(
        rows, lowercase=lowercase, deaccent=deaccent, lang=lang,
        **compile_kw)
    # scored KB DataFrame: the bundle's scores (computed once by
    # KBBundle.from_rows; with_static_scores is the DataFrame-job oracle
    # they are tested against in tests/test_kb.py)
    import pandas as pd

    ids = [int(r["id"]) for r in rows]
    scores = spark.createDataFrame(pd.DataFrame({
        "id": pd.array(ids, dtype="int64"),
        "score_wiki": [bundle.cols["score_wiki"][i] for i in ids],
        "score_metrics": [bundle.cols["score_metrics"][i] for i in ids],
        "confidence": [bundle.cols["confidence"][i] for i in ids],
    }), schema="id long, score_wiki double, score_metrics double, "
               "confidence double")
    kb_df = kb_rows_to_df(spark, rows).join(F.broadcast(scores), "id")
    # cache + eager materialization: the triple builder reads the scored KB
    # from several branches (types, attributes, redirects)
    kb_df = kb_df.cache()
    kb_df.count()
    sc = spark.sparkContext
    return KBArtifacts(
        kb_df=kb_df,
        bundle_bc=sc.broadcast(bundle),
        automaton_bc=sc.broadcast(automaton),
        image_bc=sc.broadcast(kb_image(bundle, automaton)),
        n_entities=bundle.n_rows(),
        n_keys=automaton.n_keys,
        lowercase=lowercase, deaccent=deaccent, lang=lang,
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

        <path>/kb.parquet/       scored relational KB (kb_df)
        <path>/bundle.pkl        KBBundle (columnar broadcast payload)
        <path>/automaton.pkl     GazetteerAutomaton
        <path>/kb_image.bin      the C kernel's KB image (ckernel.kb_image)
        <path>/MANIFEST.json     counts, scan config, image format,
                                 version handshake key

    ``path`` is a driver-local or NFS directory: all five files go
    through the local filesystem (``kb.parquet`` as a ``file://`` URI,
    whatever the Hadoop default FS is), so the artifact is never split
    across two filesystems.

    The version key plays the role of the reference's ETag/VERSION
    handshake (ner.py:756-810): ``load_kb_artifact(..., kb_version=...)``
    fails fast on a stale artifact instead of silently serving old links.
    """
    import json as _json
    import pickle

    os.makedirs(path, exist_ok=True)
    art.kb_df.write.mode("overwrite").parquet(_local_uri(path, "kb.parquet"))
    with open(os.path.join(path, "bundle.pkl"), "wb") as fh:
        pickle.dump(art.bundle, fh, protocol=pickle.HIGHEST_PROTOCOL)
    with open(os.path.join(path, "automaton.pkl"), "wb") as fh:
        pickle.dump(art.automaton, fh, protocol=pickle.HIGHEST_PROTOCOL)
    with open(os.path.join(path, "kb_image.bin"), "wb") as fh:
        fh.write(art.image_bc.value)
    with open(os.path.join(path, "MANIFEST.json"), "w") as fh:
        _json.dump({"n_entities": art.n_entities, "n_keys": art.n_keys,
                    "kb_version": kb_version,
                    "image_format": IMAGE_VERSION, **art.scan_config}, fh)


def load_kb_artifact(spark: SparkSession, path: str,
                     kb_version: str | None = None) -> KBArtifacts:
    """Load a prebuilt KB artifact (see :func:`save_kb_artifact`) and
    broadcast it — skips the entire driver-side compile.  At cluster scale
    the artifact lives on shared storage and every job (and every re-run
    of a resumable job) starts from it; the KB compile happens once per KB
    snapshot, not once per job.  ``path`` is a driver-local or NFS
    directory, read through the local filesystem like
    :func:`save_kb_artifact` writes it.  A MANIFEST without the scan
    config, or with another KB image format, raises: the artifact must be
    recompiled.  Nothing is built: the saved image is broadcast as is."""
    import json as _json
    import pickle

    with open(os.path.join(path, "MANIFEST.json")) as fh:
        manifest = _json.load(fh)
    if not all(k in manifest for k in SCAN_KEYS):
        raise ValueError(f"KB artifact {path} does not record its scan "
                         f"config {SCAN_KEYS} — recompile it")
    if kb_version is not None and manifest.get("kb_version") != kb_version:
        raise ValueError(
            f"KB artifact version mismatch: artifact "
            f"{manifest.get('kb_version')!r} != requested {kb_version!r} "
            f"(stale artifact — recompile; ner.py:756-810 handshake)")
    if manifest.get("image_format") != IMAGE_VERSION:
        raise ValueError(
            f"KB artifact {path} has KB image format "
            f"{manifest.get('image_format')!r}, this kernel reads "
            f"{IMAGE_VERSION} — recompile it")
    with open(os.path.join(path, "bundle.pkl"), "rb") as fh:
        bundle = pickle.load(fh)
    with open(os.path.join(path, "automaton.pkl"), "rb") as fh:
        automaton = pickle.load(fh)
    with open(os.path.join(path, "kb_image.bin"), "rb") as fh:
        image = fh.read()
    kb_df = spark.read.parquet(_local_uri(path, "kb.parquet")).cache()
    kb_df.count()
    sc = spark.sparkContext
    return KBArtifacts(
        kb_df=kb_df,
        bundle_bc=sc.broadcast(bundle),
        automaton_bc=sc.broadcast(automaton),
        image_bc=sc.broadcast(image),
        n_entities=manifest["n_entities"],
        n_keys=manifest["n_keys"],
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

"""The extraction and pair UDFs run in a Python process without pandas.

``mention_batches`` and ``pair_batches`` are the per-batch bodies of the
``mapInArrow`` stages of ``extract_mentions`` and
``comention_pair_stream``.  Here they run in a subprocess where
``import pandas`` fails, fed one Arrow batch of sanitized fixture pages and
one stand-in broadcast holding the fixture artifact's KB image, once on
the C kernel and once on the Python fallback (which decodes the bundle
from the image).  Their rows must equal ``scan_and_resolve`` per page on
the compiled bundle.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
from itertools import combinations

import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import pickle, sys
sys.modules["pandas"] = None  # from here on, `import pandas` raises

from ner_spark.pipeline.ner import mention_batches
from ner_spark.semantics import ckernel
from ner_spark.semantics.lang import get_lang
from ner_spark.streaming.comention import pair_batches


class Broadcast:  # what the UDF reads of a Spark broadcast
    def __init__(self, value):
        self.value = value


with open(sys.argv[1], "rb") as fh:
    inp = pickle.load(fh)
ckernel.FORCE_DISABLE = sys.argv[2] == "1"
image = Broadcast(inp["image"])
out = {"c_path": ckernel.available()
       and ckernel.covers(get_lang(inp["scan"]["lang"]))}
for name, fn in (("mentions", mention_batches), ("pairs", pair_batches)):
    out[name] = [row for b in fn(iter([inp["pages"]]), image,
                                 inp[name + "_schema"], **inp["scan"])
                 for row in b.to_pylist()]
pickle.dump(out, sys.stdout.buffer)
"""


@pytest.fixture(scope="module")
def worker_input(spark, artifacts, pages_rows, tmp_path_factory):
    from ner_spark.pipeline.ner import MENTION_SCHEMA, arrow_schema
    from ner_spark.semantics.textnorm import sanitize
    from ner_spark.streaming.comention import PAIR_SCHEMA

    pages = [(p["url"], sanitize(p["text"])) for p in pages_rows[:24]]
    inp = {"pages": pa.RecordBatch.from_pydict(
               {"url": [u for u, _ in pages], "text": [t for _, t in pages]}),
           "image": artifacts.image_bc.value,
           "scan": artifacts.scan_config,
           "mentions_schema": arrow_schema(MENTION_SCHEMA),
           "pairs_schema": arrow_schema(PAIR_SCHEMA)}
    path = tmp_path_factory.mktemp("worker") / "input.pkl"
    with open(path, "wb") as fh:
        pickle.dump(inp, fh)
    return str(path), pages


def _expected(artifacts, pages):
    from ner_spark.semantics.lang import get_lang
    from ner_spark.semantics.recognize import scan_and_resolve

    assert artifacts.scan_config == {"lang": "en", "lowercase": False,
                                     "deaccent": False}
    mentions, pairs = [], []
    for url, text in pages:
        doc = scan_and_resolve(artifacts.bundle, artifacts.automaton, text,
                               lang=get_lang("en"), as_tuples=True)
        mentions += [(url,) + r for r in doc]
        per_par: dict[int, set[int]] = {}
        for r in doc:
            if r[5] is not None:
                per_par.setdefault(r[2], set()).add(r[5])
        pairs += [(url, par, a, b) for par, senses in per_par.items()
                  for a, b in combinations(sorted(senses), 2)]
    return mentions, pairs


@pytest.mark.parametrize("force_python", [False, True],
                         ids=["kernel", "python_fallback"])
def test_udf_batches_run_without_pandas(artifacts, worker_input,
                                        force_python):
    from ner_spark.semantics import ckernel

    path, pages = worker_input
    env = dict(os.environ, PYTHONPATH=ROOT + os.pathsep
               + os.environ.get("PYTHONPATH", ""))
    proc = subprocess.run(
        [sys.executable, "-c", WORKER, path, "1" if force_python else "0"],
        capture_output=True, env=env, cwd=ROOT, timeout=300)
    assert proc.returncode == 0, proc.stderr.decode()[-3000:]
    out = pickle.loads(proc.stdout)
    assert out["c_path"] == (ckernel.available() and not force_python)

    mentions, pairs = _expected(artifacts, pages)
    assert len(mentions) > 100 and len(pairs) > 0
    assert any(r[6] is None for r in mentions)  # nulls cross the builder
    assert [tuple(r.values()) for r in out["mentions"]] == mentions
    assert [tuple(r.values()) for r in out["pairs"]] == pairs

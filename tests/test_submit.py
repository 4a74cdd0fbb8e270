"""End-to-end spark-submit smoke: the packaged-zip path (tools/package.py +
tools/run_job.py) must not drift from the library path.

The north rule ships the job as ``spark-submit --py-files ner_spark.zip``;
this test builds the zip, copies run_job.py into a TEMP dir (run_job inserts
its grandparent dir into sys.path, so running it from the repo would let
``import ner_spark`` silently resolve from the working tree instead of the
zip), and submits against a small slice of the sf0.001 documents table.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.path.dirname(sys.modules["pyspark"].__file__)
    if "pyspark" in sys.modules else "", "bin", "spark-submit")


@pytest.mark.slow
def test_spark_submit_packaged_zip(tmp_path, sf_dir, spark):
    if not (_SPARK_SUBMIT and os.path.exists(_SPARK_SUBMIT)):
        pytest.skip("spark-submit not on PATH")

    # package the library
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import package as packager

    zip_path = packager.main()
    assert os.path.exists(zip_path)

    # small pages input from the shared testdata (url/text contract)
    pages_dir = str(tmp_path / "pages")
    (spark.read.parquet(f"{sf_dir}/documents.parquet")
          .limit(120)
          .selectExpr("CAST(doc_id AS STRING) AS url", "text")
          .coalesce(1)
          .write.mode("overwrite").parquet(pages_dir))

    # run_job.py must live OUTSIDE the repo for an honest zip test
    job = tmp_path / "run_job.py"
    shutil.copyfile(os.path.join(ROOT, "tools", "run_job.py"), job)
    out_dir = str(tmp_path / "out")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    cmd = [
        _SPARK_SUBMIT, "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--py-files", zip_path,
        str(job), "--pages", pages_dir, "--out", out_dir, "--buckets", "4",
        "--kb-artifact", str(tmp_path / "kb_art"),
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=420,
                          cwd=str(tmp_path), env=env)
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["n_triples"] > 0
    assert summary["buckets_completed"] == 4
    assert summary["buckets_resumed"] == 0
    assert summary["kb"] == "compiled"      # first run compiles + saves
    assert set(summary["phases"]) == {"kb_s", "mentions_s", "triples_s"}

    # resume contract: same --out skips every completed bucket
    proc2 = subprocess.run(cmd, capture_output=True, text=True, timeout=420,
                           cwd=str(tmp_path), env=env)
    assert proc2.returncode == 0, proc2.stderr[-4000:]
    summary2 = json.loads(proc2.stdout.strip().splitlines()[-1])
    assert summary2["n_triples"] == summary["n_triples"]
    assert summary2["buckets_resumed"] == 4
    assert summary2["kb"] == "artifact"     # re-run loads the prebuilt KB

    # the artifact was compiled without -d: a --lowercase job on it is
    # refused instead of scanning with flags the KB was not built for
    proc3 = subprocess.run(cmd + ["--lowercase"], capture_output=True,
                           text=True, timeout=420, cwd=str(tmp_path), env=env)
    assert proc3.returncode != 0
    # spark-submit merges the Python process's stderr into its stdout
    log = proc3.stdout + proc3.stderr
    assert "scan config mismatch" in log
    assert "'lowercase': True" in log

    # the artifact was compiled from the synthetic KB: a job over another
    # KB.tsv is refused instead of silently linking against the old KB
    from ner_spark.fixtures.gen import gen_kb_rows
    from ner_spark.io.kbtsv import write_kb_tsv

    kb_tsv = tmp_path / "KB.tsv"
    with open(kb_tsv, "w") as fh:
        write_kb_tsv(gen_kb_rows()[:20], fh)
    proc4 = subprocess.run(cmd + ["--kb", str(kb_tsv)], capture_output=True,
                           text=True, timeout=420, cwd=str(tmp_path), env=env)
    assert proc4.returncode != 0
    assert "version mismatch" in proc4.stdout + proc4.stderr

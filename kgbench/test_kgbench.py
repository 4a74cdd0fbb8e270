"""The benchmark's own checks catch a corrupted triple table.

    python3 -m pytest kgbench/test_kgbench.py -q
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from kgbench import run as R  # noqa: E402


@pytest.fixture(scope="module")
def job():
    run_dir = os.path.join(R.WORK, f"test-{os.getpid()}")
    os.makedirs(run_dir)
    n = len(R._environment(run_dir))
    from ner_spark.kb.build import compile_kb
    from ner_spark.session import get_spark

    from kgbench.job import Job
    from kgbench.trace import Tracer
    from kgbench.workloads import WORKLOADS

    wl = WORKLOADS["web"](3)
    wl.urls, wl.texts = wl.urls[:60], wl.texts[:60]
    pages = os.path.join(run_dir, "pages")
    R._write_pages(wl, pages, 2)
    spark = get_spark("kgbench-test", master=f"local[{n}]",
                      shuffle_partitions=n,
                      extra={"spark.ui.showConsoleProgress": "false"})
    tr = Tracer()
    tr.sc = spark.sparkContext
    j = Job(spark, compile_kb(spark, wl.kb_rows), pages,
            os.path.join(run_dir, "out"), tr)
    yield j, wl
    spark.stop()
    shutil.rmtree(run_dir, ignore_errors=True)


def test_clean_table_passes_and_corrupted_row_is_caught(job):
    import pyarrow.parquet as pq

    from kgbench.job import CheckFailed, check_mentions

    j, wl = job
    _, n = j.run(1)
    assert j.fingerprint(1) == j.reference_fingerprint()
    assert j.fingerprint(1)[0] == n
    check_mentions(j.spark, j.art, j.mentions_path(1), wl.urls, wl.texts)

    # change one object in one committed bucket file: same row count,
    # different multiset
    part = sorted(glob.glob(os.path.join(
        os.path.dirname(j.mentions_path(1)), "triples", "bucket=*",
        "part-*.parquet")))[0]
    t = pq.read_table(part)
    objs = t.column("obj").to_pylist()
    objs[0] = objs[0] + "x"
    pq.write_table(t.set_column(t.schema.get_field_index("obj"), "obj",
                                [objs]), part)
    # drop the checksum sidecar, or the reader fails before any check runs
    d, name = os.path.split(part)
    os.remove(os.path.join(d, f".{name}.crc"))
    with pytest.raises(CheckFailed, match="lineage"):
        j.fingerprint(1)


def test_run_exits_nonzero_on_output_mismatch(tmp_path):
    """A checkout whose recorded reference disagrees with the job's output:
    the run reports correct=false and exits 1."""
    shutil.copytree(HERE, tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    os.symlink(os.path.join(ROOT, "ner_spark"), tmp_path / "ner_spark")
    exp = tmp_path / "kgbench" / "expected.json"
    data = json.loads(exp.read_text())
    data["bigkb"]["1"][1] ^= 1
    exp.write_text(json.dumps(data))
    p = subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", "bigkb", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300)
    assert p.returncode == 1
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert last["correct"] is False and last["failed"] == 1

"""The compiled kernel under AddressSanitizer + UndefinedBehaviorSanitizer.

Builds ``_resolve_kernel.cpp`` with ``-fsanitize=address,undefined`` under
the shared-object name ``ckernel`` loads, in a temporary
``NER_SPARK_CKERNEL_DIR``, then runs tests/test_ckernel.py (the C-vs-Python
differential fuzz and the corrupted-image cases) in a subprocess with the
ASan runtime preloaded into the Python interpreter.  Any out-of-bounds
access, use-after-free or undefined behaviour aborts that run.
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys
import sysconfig

import pytest

from ner_spark.semantics import ckernel

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    shutil.which("g++") is None, reason="no C++ toolchain")


def _libasan() -> str:
    path = subprocess.run(["g++", "-print-file-name=libasan.so"],
                          capture_output=True, text=True).stdout.strip()
    return path if os.path.isabs(path) and os.path.exists(path) else ""


@pytest.mark.skipif(not _libasan(), reason="no libasan for g++")
def test_kernel_fuzz_is_sanitizer_clean(tmp_path, monkeypatch):
    monkeypatch.setenv("NER_SPARK_CKERNEL_DIR", str(tmp_path))
    so = ckernel._so_path()
    subprocess.run(
        ["g++", "-O1", "-g", "-std=c++17", "-shared", "-fPIC",
         "-fsanitize=address,undefined", "-fno-omit-frame-pointer",
         "-fno-sanitize-recover=undefined",
         f"-I{sysconfig.get_paths()['include']}", ckernel._SRC, "-o", so],
        check=True, capture_output=True, text=True)
    # reports go to files: pytest's fd capture would swallow them when
    # the sanitizer aborts the run
    log = str(tmp_path / "sanitizer")
    env = dict(os.environ, NER_SPARK_CKERNEL="1",
               NER_SPARK_CKERNEL_DIR=str(tmp_path), LD_PRELOAD=_libasan(),
               ASAN_OPTIONS=f"detect_leaks=0:log_path={log}",
               UBSAN_OPTIONS=f"print_stacktrace=1:log_path={log}")
    run = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
         os.path.join(ROOT, "tests", "test_ckernel.py")],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=1200)
    reports = "".join(open(os.path.join(tmp_path, f)).read()
                      for f in os.listdir(tmp_path)
                      if f.startswith("sanitizer"))
    out = run.stdout + run.stderr
    assert run.returncode == 0 and not reports, (reports + out)[-4000:]
    summary = re.search(r"(\d+) passed(.*) in ", out)
    assert summary and int(summary.group(1)) >= 10, out[-4000:]
    assert "skipped" not in summary.group(2)

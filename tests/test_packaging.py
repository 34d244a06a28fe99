"""spark-submit packaging: the --py-files zip must be importable alone."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pyfiles_zip_is_self_contained(tmp_path):
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "make_pyfiles_zip.py")],
        check=True, cwd=ROOT,
    )
    zip_path = os.path.join(ROOT, "dist", "cov_tiles_spark.zip")
    names = set(zipfile.ZipFile(zip_path).namelist())
    assert "cov_tiles_spark/__init__.py" in names
    assert "cov_tiles_spark/pipeline/pyramid.py" in names  # new modules ship
    assert "cov_tiles_spark/operators/pq.py" in names
    assert not any(n.endswith(".pyc") or "__pycache__" in n for n in names)

    # import the package from the zip ONLY (what an executor sees when
    # spark-submit ships --py-files and the repo isn't on the machine)
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import cov_tiles_spark.covt.encoder, cov_tiles_spark.covt.genb, "
        "cov_tiles_spark.operators.pq, cov_tiles_spark.pipeline.pyramid, "
        "cov_tiles_spark.streaming.windowed; "
        "from cov_tiles_spark.covt.varint import zigzag_encode; "
        "print(int(zigzag_encode(__import__('numpy').array([-1]))[0]))"
        % zip_path
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        check=True, capture_output=True, text=True,
        cwd=str(tmp_path),  # not the repo root: no accidental local import
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert out.stdout.strip() == "1"

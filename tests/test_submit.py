"""The literal deployment surface: ``spark-submit --py-files <zip>
scripts/run_validation.py`` as a real subprocess (north rule: "ships as a
spark-submit --py-files package").

The subprocess runs with cwd OUTSIDE the repo and without the repo on
PYTHONPATH, so ``import smcchecker_spark`` (driver side AND inside the
Arrow decode UDF on the Python workers) can only resolve through the
shipped zip — this is the packaging test, not just a CLI test.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

from smcchecker_spark import fixtures
from smcchecker_spark.package import build_pyfiles_zip

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "run_validation.py",
)

SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    df = fixtures.generate_images(spark, n_rows=150, n_parts=3, seed=42)
    df.write.parquet(str(tmp_path / "in"))
    fixtures.lu_fmt(spark).write.parquet(str(tmp_path / "lu"))
    cfg = {
        "name": "images_core",
        "table": "images",
        "row_id_col": "image_id",
        "part_id_col": "part_id",
        "constraints": [
            {"type": "not_null", "column": "caption"},
            {"type": "unique", "keys": ["image_id"]},
            {"type": "in_lookup", "column": "fmt", "lookup": "lu_fmt",
             "lookup_key": "fmt"},
            {"type": "image_consistent"},
        ],
    }
    (tmp_path / "suite.json").write_text(json.dumps(cfg))
    zip_path = build_pyfiles_zip()

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "4"
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--py-files", zip_path,
            SCRIPT,
            "--input", str(tmp_path / "in"),
            "--suite", str(tmp_path / "suite.json"),
            "--out", str(tmp_path / "out"),
            "--lookup", f"lu_fmt={tmp_path / 'lu'}",
        ],
        cwd=str(tmp_path),  # NOT the repo — imports must come from the zip
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 1, proc.stderr[-3000:]  # planted violations
    assert "errors=" in proc.stdout

    v = spark.read.parquet(str(tmp_path / "out" / "violations"))
    checks = {r["check_name"] for r in v.select("check_name").distinct().collect()}
    # the decode UDF ran on workers that imported the engine from the zip
    assert "imageconsistent_bytes" in checks and "notnull_caption" in checks
    verd = spark.read.parquet(str(tmp_path / "out" / "verdicts"))
    assert verd.count() == 3


def test_ensure_shipped_once_per_context(spark, monkeypatch, tmp_path):
    """A context that holds the package zip is not sent it again; edited
    code (a new content hash) ships under its new name, once."""
    from smcchecker_spark import package

    sc = spark.sparkContext
    added = []
    monkeypatch.setattr(sc, "addPyFile", added.append)
    package.ensure_shipped(spark)  # get_spark already shipped this zip
    package.ensure_shipped(spark)
    assert added == []

    monkeypatch.setattr(package, "_content_hash", lambda: "edited000000")
    monkeypatch.setattr(package.tempfile, "gettempdir", lambda: str(tmp_path))
    path = package.ensure_shipped(spark)
    package.ensure_shipped(spark)
    assert added == [path] and "edited000000" in path

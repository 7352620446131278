"""The package ships to executors as a zip (``SparkContext.addPyFile``):
every module, including the ones that load committed model weights at
import time, must import from that zip with no source tree on disk."""

import os
import pathlib
import subprocess
import sys
import zipfile

import stanza_spark


def test_modules_with_resources_import_from_zip(tmp_path):
    pkg = pathlib.Path(stanza_spark.__file__).parent
    archive = tmp_path / "stanza_spark.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        for f in pkg.rglob("*"):
            if f.is_file() and "__pycache__" not in f.parts:
                zf.write(f, f.relative_to(pkg.parent).as_posix())
    code = (
        "import stanza_spark, stanza_spark.operators.coref as coref, "
        "stanza_spark.operators.learned as learned\n"
        f"assert stanza_spark.__file__.startswith({str(archive)!r}), "
        "stanza_spark.__file__\n"
        "assert coref._CW and learned.TAGS\n")
    env = {**os.environ, "PYTHONPATH": str(archive)}
    res = subprocess.run([sys.executable, "-c", code], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=120)
    assert res.returncode == 0, res.stderr

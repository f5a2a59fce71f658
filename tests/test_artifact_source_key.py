"""An edit to the package source changes every committed artifact's key.

`cache.ensure_artifact` keys an artifact by its input files and by
`pkgship.source_digest()`, the hash of every .py file of the package. So a
process that runs edited code can never be served bytes that an older
builder or encoder committed, and unedited code in a new process finds the
same key (the restart-serving contract). The digest is read once per
process, so each key is computed in a fresh interpreter over a copy of the
package; no Spark session is started.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "parquet_storage_query_spark"

_PROBE = """
import json, sys
from parquet_storage_query_spark import cache, pkgship
print(json.dumps({
    "key": cache._input_digest(sys.argv[1], [sys.argv[2]]),
    "source": pkgship.source_digest(),
    "zip": pkgship._package_zip(),
    "module": cache.__file__,
}))
"""


def _probe(root: Path, tmp: Path, sf_dir: str, inp: Path) -> dict:
    env = dict(os.environ, PYTHONPATH=str(root), TMPDIR=str(tmp))
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, sf_dir, str(inp)],
        cwd=root, env=env, capture_output=True, text=True, check=True, timeout=120,
    ).stdout
    res = json.loads(out.strip().splitlines()[-1])
    assert res["module"].startswith(str(root)), res["module"]
    return res


def _zip_digest(path: str) -> str:
    h = hashlib.md5()
    with zipfile.ZipFile(path) as zf:
        for name in sorted(zf.namelist()):
            h.update(name.encode())
            h.update(zf.read(name))
    return h.hexdigest()


def test_source_edit_changes_artifact_key(tmp_path):
    root = tmp_path / "copy"
    shutil.copytree(PKG, root / PKG.name, ignore=shutil.ignore_patterns("__pycache__"))
    zips = tmp_path / "tmp"
    zips.mkdir()
    inp = tmp_path / "a.parquet"
    inp.write_bytes(b"data")
    os.utime(inp, ns=(1_600_000_000_000_000_000, 1_600_000_000_000_000_000))
    sf_dir = str(tmp_path / "sf")

    first = _probe(root, zips, sf_dir, inp)
    second = _probe(root, zips, sf_dir, inp)
    # unedited code: every process derives the same key
    assert second["key"] == first["key"]
    assert second["source"] == first["source"]
    # the worker zip is named by the same digest, over the bytes inside it
    assert os.path.basename(first["zip"]) == f"psqs_pkg_{first['source'][:16]}.zip"
    assert _zip_digest(first["zip"]) == first["source"]

    with open(root / PKG.name / "operators" / "multimodal.py", "a") as fh:
        fh.write("# an edit\n")
    edited = _probe(root, zips, sf_dir, inp)
    assert edited["source"] != first["source"]
    assert edited["key"] != first["key"]

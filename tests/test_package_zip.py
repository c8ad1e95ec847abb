"""The committed spark-submit payload (dist/datacollector_spark.zip, passed as
--py-files) must ship exactly the package's current sources. Rebuild it with
``python tools/package.py`` after changing anything under datacollector_spark/."""

from __future__ import annotations

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package_sources() -> dict[str, bytes]:
    out: dict[str, bytes] = {}
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, "datacollector_spark")):
        if "__pycache__" in dirpath:
            continue
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as f:
                    out[os.path.relpath(full, ROOT)] = f.read()
    return out


def test_dist_zip_matches_package_tree():
    with zipfile.ZipFile(os.path.join(ROOT, "dist", "datacollector_spark.zip")) as zf:
        shipped = {n: zf.read(n) for n in zf.namelist() if n.endswith(".py")}
    tree = _package_sources()
    stale = sorted(n for n in shipped.keys() & tree.keys() if shipped[n] != tree[n])
    assert not stale, f"zip entries differ from the sources: {stale}"
    assert sorted(shipped.keys() - tree.keys()) == [], "zip ships deleted modules"
    assert sorted(tree.keys() - shipped.keys()) == [], "zip misses modules"

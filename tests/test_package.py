"""dist/engine.zip (the spark-submit --py-files artifact) is fresh: it
holds exactly the package's *.py/*.json files, byte for byte.  Rebuild it
with `python tools/package.py` after changing the package."""

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package_files() -> dict[str, bytes]:
    files = {}
    for dirpath, _dirs, names in os.walk(os.path.join(ROOT, "arabic_ocr_spark")):
        if "__pycache__" in dirpath:
            continue
        for fn in names:
            if fn.endswith((".py", ".json")):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as f:
                    files[os.path.relpath(full, ROOT).replace(os.sep, "/")] = f.read()
    return files


def test_engine_zip_matches_package():
    with zipfile.ZipFile(os.path.join(ROOT, "dist", "engine.zip")) as z:
        zipped = {name: z.read(name) for name in z.namelist()}
    pkg = _package_files()
    assert sorted(zipped) == sorted(pkg)
    stale = [name for name in pkg if zipped[name] != pkg[name]]
    assert not stale, f"dist/engine.zip is stale for {stale}; run python tools/package.py"

"""No hard-coded checkout paths: code, scripts and tests locate the
checkout from their own file (``os.path.dirname(__file__)``), so the repo
runs from any directory. Test data paths are inputs and stay allowed."""

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED = ("lucene_spark", "scripts", "tests", "bench.py")
# this checkout's own absolute path, and the one earlier scripts
# hard-coded (split so this file does not match itself)
NEEDLES = {ROOT.encode(), ("/root" + "/repo").encode()}


def _files(path):
    if os.path.isfile(path):
        yield path
        return
    for d, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if x != "__pycache__"]
        for name in names:
            yield os.path.join(d, name)


def test_no_hard_coded_checkout_path():
    hits = []
    for entry in SCANNED:
        for p in _files(os.path.join(ROOT, entry)):
            with open(p, "rb") as f:
                body = f.read()
            if any(n in body for n in NEEDLES):
                hits.append(os.path.relpath(p, ROOT))
    assert not hits, f"hard-coded checkout path in {sorted(hits)}"

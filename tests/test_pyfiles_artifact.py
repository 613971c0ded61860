"""The spark-submit --py-files artifact is built, not committed:
tools/make_pyfiles.build must ship every package module, byte for
byte (found live: a stale committed zip lacked operators/bpe.py and
operators/spandedup.py after they landed)."""

import importlib.util
import os
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tree_modules() -> set[str]:
    mods = set()
    pkg = os.path.join(ROOT, "ds2_spark")
    for dirpath, _dirs, files in os.walk(pkg):
        if "__pycache__" in dirpath:
            continue
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                mods.add(os.path.relpath(full, ROOT))
    return mods


@pytest.fixture(scope="module")
def built_zip(tmp_path_factory):
    spec = importlib.util.spec_from_file_location(
        "make_pyfiles", os.path.join(ROOT, "tools", "make_pyfiles.py")
    )
    make_pyfiles = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(make_pyfiles)
    out = make_pyfiles.build(str(tmp_path_factory.mktemp("dist") / "ds2_spark.zip"))
    with zipfile.ZipFile(out) as z:
        yield z


def test_zip_contains_every_package_module(built_zip):
    missing = sorted(_tree_modules() - set(built_zip.namelist()))
    assert not missing, f"tools/make_pyfiles.py left out: {missing}"


def test_zip_modules_match_tree_bytes(built_zip):
    """Same set is not enough: compare content bytes module by module."""
    stale = []
    for rel in sorted(_tree_modules()):
        with open(os.path.join(ROOT, rel), "rb") as f:
            on_disk = f.read()
        try:
            in_zip = built_zip.read(rel)
        except KeyError:
            stale.append(rel)
            continue
        if in_zip != on_disk:
            stale.append(rel)
    assert not stale, f"tools/make_pyfiles.py output differs from the tree: {stale}"

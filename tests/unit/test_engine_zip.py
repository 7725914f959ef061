"""dist/engine.zip (the spark-submit --py-files bundle built by
tools/make_pyfiles.py) must hold exactly the engine package's current
sources. Compares member names and member bytes, not the archive's
own bytes: zip entries carry timestamps, so a faithful rebuild is not
byte-identical to the committed one."""

import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
PKG = "web_crawler_search_engine_spark"


def test_engine_zip_matches_package_sources():
    sources = {
        f.relative_to(ROOT).as_posix(): f
        for f in (ROOT / PKG).rglob("*.py")
        if "__pycache__" not in f.parts
    }
    with zipfile.ZipFile(ROOT / "dist" / "engine.zip") as z:
        members = sorted(z.namelist())
        assert members == sorted(sources), (
            "dist/engine.zip is stale — rebuild with "
            "`python tools/make_pyfiles.py`"
        )
        stale = [m for m in members if z.read(m) != sources[m].read_bytes()]
    assert not stale, (
        f"dist/engine.zip members differ from source: {stale} — rebuild "
        "with `python tools/make_pyfiles.py`"
    )

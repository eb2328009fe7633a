"""Every Python source in the repo compiles with warnings as errors.

Catches files nothing imports (so no other test would notice they no
longer compile) and invalid escape sequences, which warn at compile
time today and are errors in a later Python.
"""

from __future__ import annotations

import warnings
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _sources() -> list[Path]:
    found = [
        p
        for d in ("frinesis_spark", "tests", "tools")
        for p in sorted((REPO / d).rglob("*.py"))
    ]
    return found + [REPO / "bench.py", REPO / "__spark_entry__.py"]


def test_every_source_compiles_without_warnings():
    sources = _sources()
    # The globs still find the tree: one file from each globbed
    # directory, one of them in a subpackage (rglob, not glob).
    found = {p.relative_to(REPO).as_posix() for p in sources}
    assert {
        "frinesis_spark/sources/kinesis.py",
        "tests/conftest.py",
        "tools/drive_driver.py",
    } <= found
    failures = []
    for path in sources:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_bytes(), str(path), "exec")
            except (SyntaxError, Warning) as exc:
                failures.append(f"{path.relative_to(REPO)}: {exc}")
    assert not failures, "\n".join(failures)

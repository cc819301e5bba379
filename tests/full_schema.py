"""The 85-table schema script the full-schema tests and bench.py build.

The reference's own ``script.sql`` when its checkout is present;
otherwise the in-repo census stand-in (``perfbench/census.py``): a seeded
T-SQL dump with the SURVEY.md shape — 85 tables, 1,431 columns, 131 FKs,
the subtype chains, the CariHesap self-loops and 31 unique indexes. The
stand-in is rendered once per process (seed 0) into a temp directory
that is removed at exit.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

REFERENCE_SCRIPT = "/root/reference/script.sql"


@functools.cache
def census_script() -> str:
    """Path of the rendered census stand-in (seed 0)."""
    from perfbench import census

    d = tempfile.mkdtemp(prefix="sdt_census_")
    atexit.register(shutil.rmtree, d, True)
    path = os.path.join(d, "census.sql")
    census.write_dump(path, 0)
    return path


def full_schema_kind() -> str:
    """``"reference"`` or ``"census"``: which script full_schema_script returns."""
    return "reference" if os.path.exists(REFERENCE_SCRIPT) else "census"


def full_schema_script() -> str:
    """The reference script when present, else the census stand-in."""
    return REFERENCE_SCRIPT if full_schema_kind() == "reference" else census_script()

"""The suite must test the package of the checkout it runs from."""

from __future__ import annotations

from pathlib import Path

import synthetic_data_transfer_to_relational_database_spark as pkg


def test_package_imported_from_this_checkout():
    root = Path(__file__).resolve().parents[1]
    assert Path(pkg.__file__).resolve().is_relative_to(root), (pkg.__file__, root)

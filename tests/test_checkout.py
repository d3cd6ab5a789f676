"""The checkout runs from any directory: no library, tool or entry
module hardcodes the absolute path it happens to be checked out at."""

from __future__ import annotations

import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_no_source_file_hardcodes_the_checkout_path():
    files = (
        glob.glob(os.path.join(ROOT, "pathways2go_spark", "*.py"))
        + glob.glob(os.path.join(ROOT, "tools", "*.py"))
        + [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    )
    bad = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            if ROOT in fh.read():
                bad.append(f)
    assert not bad, bad

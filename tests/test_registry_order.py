"""The driver contract's query listing: plain registration order.

``queries()`` and ``oracle_sql()`` are comprehensions over the
registry — no ordering policy, no state read from the checkout — so
the listing is the same from any working directory and any path the
repo is checked out at.
"""

from __future__ import annotations

import os
import subprocess
import sys

import __spark_entry__ as entry_mod
from dissertation_data_pipeline_spark.plans import oracle_sqls, query_fns
from dissertation_data_pipeline_spark.plans.registry import QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_query_fns_follow_registration_order():
    fns = query_fns()
    assert list(fns) == list(QUERIES)
    assert all(fns[name] is q.fn for name, q in QUERIES.items())


def test_oracle_sqls_follow_registration_order():
    sqls = oracle_sqls()
    expected = [name for name, q in QUERIES.items() if q.sql is not None]
    assert list(sqls) == expected
    assert all(sqls[name] == QUERIES[name].sql for name in expected)


def test_entry_listing_is_the_registry():
    assert list(entry_mod.queries()) == list(query_fns())
    assert entry_mod.oracle_sql() == oracle_sqls()
    # every driver-visible query carries an oracle
    assert set(entry_mod.oracle_sql()) == set(entry_mod.queries())


def test_entry_listing_from_foreign_cwd(tmp_path):
    """Imported from another directory (as an external harness does),
    the listing matches the in-process one name for name."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "import __spark_entry__ as e;"
        "print(','.join(e.queries())); print(','.join(e.oracle_sql()))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, REPO],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout.splitlines()
    assert out[0].split(",") == list(query_fns())
    assert out[1].split(",") == list(oracle_sqls())

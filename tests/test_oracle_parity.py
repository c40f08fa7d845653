"""Every declared query must hash-match its DuckDB oracle (the driver's
t2 gate, replicated strictly). Runs at sf0.001 by default for speed;
set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 for the full-size check.

The default run checks the ten benchmark queries (SMOKE) as a parity
smoke. The full 254-query sweep runs only with SPARK_GRAFT_FULL_GATES=1,
because it pushes a default ``pytest tests/`` run past its time budget;
the full-catalog evidence also lands in the committed
parity_timing_r*.json / parity_hostile_r*.json sweeps.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from .oracle_utils import run_parity

SMOKE = [
    "g1_coauthor_edges",
    "g3_personal_net",
    "g5_hierarchy_roots",
    "g_triangle_count",
    "web_pagerank",
    "q1_pricing_summary",
    "q9_product_profit",
    "q21_waiting_suppliers",
    "asof_signup_value",
    "f7_json_extract",
]

NAMES = sorted(entrymod.queries()) if os.environ.get("SPARK_GRAFT_FULL_GATES") else SMOKE


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    q = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    if name not in oracles:
        df = q(spark, sf_dir)
        assert df.count() >= 0  # rows-only check (non-SQL-expressible op)
        return
    problems = run_parity(spark, sf_dir, q, oracles[name])
    assert not problems, f"{name}: " + "; ".join(problems)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0

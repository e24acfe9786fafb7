"""Driver-contract invariants for __spark_entry__.py.

The round driver consumes exactly three callables; these tests pin the
contract so refactors can't silently break the verification pipeline.
"""

from __future__ import annotations

import __spark_entry__ as entry_mod

from qpmodel_spark import registry


def test_queries_and_oracles_align():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert set(os_) <= set(qs), "oracle without a query"
    # every oracle is a non-empty SELECT/WITH statement
    for name, sql in os_.items():
        head = sql.strip().split(None, 1)[0].upper()
        assert head in ("SELECT", "WITH"), (name, head)
    # every entry is oracled (r6: dedup_simhash gained a clone-recall
    # validation summary — deterministic cells compare exactly, contract
    # invariants surface as booleans the oracle states TRUE, matching the
    # sampler/HLL/ANN convention from r4)
    rows_only = set(qs) - set(os_)
    assert rows_only == set(), rows_only


def test_driver_order_is_registration_order():
    """The contract's order is the registry's registration order — no
    ranking, and nothing read from outside the query modules.  Oracles
    keep the same relative order as their queries."""
    names = list(entry_mod.queries())
    assert names == list(registry.all_specs())
    oracle_names = list(entry_mod.oracle_sql())
    oracled = set(oracle_names)
    assert oracle_names == [n for n in names if n in oracled]


def test_entry_runs_and_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "l_returnflag" in df.columns


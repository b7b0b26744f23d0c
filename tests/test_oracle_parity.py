"""Every registered query with an oracle must match DuckDB exactly —
the same comparison the verification driver runs at sf=0.01 (run here at
sf=0.001 for speed; a marked slow test repeats at sf=0.01).
"""

from __future__ import annotations

import pytest

from movie_data_pipeline_spark.operators.util import query_scope
from movie_data_pipeline_spark.plans import REGISTRY
from movie_data_pipeline_spark.plans.core import EAGER_TAGS
from tests.conftest import ORACLE_SF_DIR, TESTDATA_SF_DIR
from tests.oracle_harness import compare, duckdb_connection

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is None)

# Heavy parity cases deferred to the slow tier (round 13, VERDICT r12
# #1 — the fast tier must fit the driver's pytest window): every
# streaming/lifecycle replay runs a full multi-commit cadence per
# check (10-35 s each at sf0.001), plus the two slowest plan-cost
# audits. They stay hash-verified three ways: here under ``-m slow``,
# by tools/driver_sim.py before every commit that touches them, and by
# the driver's own rotating 50-query CORRECTNESS sample.
_HEAVY_PARITY = {
    n
    for n, s in REGISTRY.items()
    if EAGER_TAGS & set(s.tags)
} | {"q256b_margin_mining_lsh", "q74_winnowing_fingerprints"}


def _parity_params(names):
    return [
        pytest.param(n, marks=pytest.mark.slow) if n in _HEAVY_PARITY else n
        for n in names
    ]


@pytest.fixture(scope="module")
def con():
    return duckdb_connection(TESTDATA_SF_DIR)


@pytest.mark.parametrize("name", _parity_params(ORACLE_QUERIES))
def test_query_matches_oracle(spark, con, name):
    spec = REGISTRY[name]
    oracle_df = con.execute(spec.oracle).df()
    with query_scope():
        compare(spec.build(spark, TESTDATA_SF_DIR), oracle_df, name)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, name):
    with query_scope():
        df = REGISTRY[name].build(spark, TESTDATA_SF_DIR)
        assert df.count() >= 0
        assert df.schema.fieldNames()


@pytest.mark.slow
@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle_sf001(spark, name):
    spec = REGISTRY[name]
    oracle_df = duckdb_connection(ORACLE_SF_DIR).execute(spec.oracle).df()
    with query_scope():
        compare(spec.build(spark, ORACLE_SF_DIR), oracle_df, name)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    assert q


def test_rotation_window_is_fresh():
    """The driver records CORRECTNESS rows for the first 50 queries()
    entries in INSERTION order (VERDICT r2 #1); the dict must therefore
    lead with never-driver-verified queries, every window entry must
    carry an oracle (a rows-only check wastes a scarce driver row), and
    the full catalog must be present exactly once."""
    import __spark_entry__ as e

    names = list(e.queries())
    assert len(names) == len(set(names)) == len(REGISTRY)
    window = names[:50]
    # Ordering invariant (ADVICE r5): once the never-verified backlog +
    # forced queue shrink below 50, verified names legitimately fill the
    # window tail — so assert ORDER, not exclusion: no plain-verified
    # name may appear before any never-verified name, and forced names
    # come before the plain-verified tail.
    forced = set(e._FORCE_REVERIFY)
    tiers = [
        2 if (n in e._DRIVER_VERIFIED and n not in forced)
        else 1 if n in forced
        else 0
        for n in names
    ]
    assert tiers == sorted(tiers), "rotation order must be never-verified, then forced, then verified"
    oracles = e.oracle_sql()
    assert all(n in oracles for n in window)
    # verified names are still served (tail), under canonical names
    assert set(names) == set(REGISTRY)


def test_force_reverify_reenters_window(monkeypatch):
    """A verified name listed in _FORCE_REVERIFY re-enters the rotation
    AFTER every never-verified name (it must not displace a first-time
    query from the 50-row window — VERDICT r4 #1) but BEFORE the
    verified tail, so it is re-verified as soon as the never-verified
    backlog leaves room; names absent from it stay in the tail."""
    import __spark_entry__ as e

    verified = sorted(e._DRIVER_VERIFIED)[:2]
    if len(verified) < 2:
        return  # no CORRECTNESS files present — nothing to re-verify
    forced, control = verified[0], verified[1]
    monkeypatch.setattr(e, "_FORCE_REVERIFY", (forced,))
    order = e._rotation_order()
    assert len(order) == len(set(order)) == len(REGISTRY)
    n_unverified = sum(1 for n in order if n not in e._DRIVER_VERIFIED)
    # directly after the full never-verified block
    assert order.index(forced) == n_unverified
    # the non-forced verified names all come after the forced one
    assert order.index(control) > order.index(forced)
    first_other_verified = min(
        order.index(n) for n in e._DRIVER_VERIFIED if n != forced
    )
    assert first_other_verified > order.index(forced)


def test_force_reverify_autodeactivates():
    """A queue entry stays active only until a green driver row from a
    round >= its change round exists; re-greened names drop out with no
    manual edit."""
    import __spark_entry__ as e

    queue = {"qX": 4, "qY": 4, "qZ": 6}
    green = {"qX": 2, "qY": 5, "qZ": 6}  # qX stale, qY/qZ re-greened
    assert e._active_reverify(queue, green) == ("qX",)
    # never-greened names stay active too (red rows keep them queued)
    assert e._active_reverify({"qW": 4}, {}) == ("qW",)


def test_queue_covers_the_catalog_oldest_change_first():
    """The queue holds every registered name, read from
    FINGERPRINTS.json in (since, query number) order, so when more
    names are active than the window holds, the oldest changes are
    verified first."""
    import __spark_entry__ as e

    assert set(e._REVERIFY_QUEUE) == set(REGISTRY)
    keys = [(since, e._qnum(n)) for n, since in e._REVERIFY_QUEUE.items()]
    assert keys == sorted(keys)

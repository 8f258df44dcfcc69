"""Every registered oracle-backed query must hash-match DuckDB at sf0.01 —
the same check the driver's verify performs."""

from __future__ import annotations

import pytest

from ploverdb_spark.catalog import all_oracles, all_queries, get
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import assert_matches_oracle


def _oracle_names():
    return sorted(all_oracles().keys())


@pytest.mark.parametrize("name", _oracle_names())
def test_matches_oracle(spark, name):
    spec = get(name)
    df = spec.fn(spark, SF_ORACLE)
    assert_matches_oracle(df, spec.oracle, SF_ORACLE, name=name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_all_queries_run_smoke(spark):
    for name, fn in all_queries().items():
        df = fn(spark, SF_SMOKE)
        assert df.count() >= 0, name


def test_multiprobe_recall_monotone(spark):
    """s5: probing 3 cells can only add candidates, so per-query recall@10
    must be >= the single-probe recall."""
    from ploverdb_spark.catalog import get
    from tests.conftest import SF_ORACLE

    rows = get("s5_ivf_multiprobe").fn(spark, SF_ORACLE).collect()
    assert rows
    assert all(r.recall_p3 >= r.recall_p1 for r in rows)
    # and multi-probe genuinely helps somewhere at this scale (the cells
    # are label-partitioned, so some true neighbors sit across cells)
    assert any(r.recall_p3 > r.recall_p1 for r in rows)


# The correctness driver records at most this many rows per round.
DRIVER_ROWS = 50


def _committed_correctness():
    import glob
    import os

    import __spark_entry__ as e

    return sorted(glob.glob(os.path.join(e._HERE, "CORRECTNESS_r*.json")))


def test_queries_and_oracles_share_one_order():
    import __spark_entry__ as e

    names = list(e.queries())
    assert list(e.oracle_sql()) == names
    assert len(set(names)) == len(names)
    assert set(names) == set(all_queries())


def test_two_rounds_cover_the_catalog(tmp_path):
    """Each round the driver measures the first DRIVER_ROWS entries and
    writes CORRECTNESS_r{N}.json; the next round's order must put the
    entries it skipped first, so two consecutive rounds cover everything."""
    import json
    import re
    import shutil

    import __spark_entry__ as e

    seeds = _committed_correctness()
    for path in seeds:
        shutil.copy(path, tmp_path)
    rnd = max(
        (int(re.search(r"CORRECTNESS_r(\d+)\.json$", p).group(1)) for p in seeds),
        default=0,
    )
    names = list(all_queries())
    emitted = set()
    for _ in range(2):
        rnd += 1
        window = e.least_recently_measured_first(names, str(tmp_path))[:DRIVER_ROWS]
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({n: {} for n in window})
        )
        emitted |= set(window)
    assert emitted == set(names), sorted(set(names) - emitted)


def test_measured_entries_stay_registered():
    """The catalog cannot shrink: every entry the driver ever measured is
    still registered with an oracle."""
    import json

    measured = set()
    for path in _committed_correctness():
        with open(path, encoding="utf-8") as f:
            measured |= set(json.load(f))
    assert measured, "no committed CORRECTNESS_r*.json found"
    missing = measured - set(all_oracles())
    assert not missing, sorted(missing)


def test_fresh_checkout_keeps_registration_order(tmp_path):
    import __spark_entry__ as e

    names = list(all_queries())
    assert e.least_recently_measured_first(names, str(tmp_path)) == names

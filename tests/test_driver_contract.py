"""Driver-contract invariants: the prefix-sampling rotation in
__spark_entry__ (VERDICT r10 item 8)."""

from __future__ import annotations

import math

import __spark_entry__ as entry
from airflow_loan_etl_pipeline_spark import registry


def test_rotation_covers_every_query_within_cycle(monkeypatch):
    """Simulated multi-round STALEST-FIRST cycle: each simulated round
    samples the driver prefix, stamps those entries as externally
    verified that round, and re-sorts. Every registry entry must be
    sampled within ceil(rest / step) rounds — nothing ages
    indefinitely, by construction of the staleness sort."""
    rewired = [k for k in entry._REWIRED if k in registry.QUERIES]
    rest_n = len(registry.QUERIES) - len(rewired)
    step = max(1, entry._DRIVER_SAMPLE - len(rewired))
    cycle = math.ceil(rest_n / step)
    assert cycle <= 8, f"rotation cycle {cycle} rounds is too slow"
    last = dict(entry._last_verified_round())
    seen: set[str] = set()
    for rnd in range(100, 100 + cycle):
        monkeypatch.setattr(entry, "_last_verified_round", lambda: last)
        prefix = list(entry.queries(round_no=rnd))[: entry._DRIVER_SAMPLE]
        assert len(prefix) == entry._DRIVER_SAMPLE
        seen.update(prefix)
        last = dict(last)
        for q in prefix:
            last[q] = rnd
    assert seen == set(registry.QUERIES)


def test_rotation_samples_stalest_cohort_first():
    """The non-rewired part of the driver's prefix window is drawn from
    the OLDEST-external-check cohort (VERDICT r11 item 6): no entry
    outside the window has an older last-verified round than any entry
    inside it, and never-verified entries (round 0) sort first of
    all."""
    rewired = {k for k in entry._REWIRED if k in registry.QUERIES}
    last = entry._last_verified_round()
    order = [
        k
        for k in entry.queries(round_no=12)
        if k not in rewired
    ]
    window = order[: entry._DRIVER_SAMPLE - len(rewired)]
    outside = order[entry._DRIVER_SAMPLE - len(rewired):]
    assert window and outside
    assert max(last.get(k, 0) for k in window) <= min(
        last.get(k, 0) for k in outside
    )
    # staleness keys are non-decreasing along the whole tail
    keys = [last.get(k, 0) for k in order]
    assert keys == sorted(keys)


def test_rotation_is_deterministic_and_complete():
    q1 = entry.queries(round_no=11)
    q2 = entry.queries(round_no=11)
    assert list(q1) == list(q2)
    assert set(q1) == set(registry.QUERIES)
    # rewired entries hold the front of the sample window
    rewired = [k for k in entry._REWIRED if k in registry.QUERIES]
    assert list(q1)[: len(rewired)] == rewired
    # oracle map mirrors the rotated order
    osql = entry.oracle_sql()
    assert set(osql) == {k for k in q1 if k in registry.ORACLE}


def test_current_round_infers_from_artifacts(tmp_path, monkeypatch):
    import os

    (tmp_path / "CORRECTNESS_r03.json").write_text("{}")
    (tmp_path / "CORRECTNESS_r10.json").write_text("{}")
    monkeypatch.setattr(
        entry.os.path, "dirname", lambda p: str(tmp_path)
    )
    assert entry._current_round() == 11
    for f in tmp_path.iterdir():
        os.remove(f)
    assert entry._current_round() == 1


def test_entry_import_registers_every_registry_module():
    """Importing ``__spark_entry__`` alone loads every ``registry_*``
    module in the package (registry.load_all), so no query module can
    be left unregistered. Run in a fresh interpreter: in this process
    other test modules may already have imported them."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    root = Path(entry.__file__).resolve().parent
    package = Path(registry.__file__).resolve().parent
    probe = (
        "import json, sys\n"
        "import __spark_entry__\n"
        "from airflow_loan_etl_pipeline_spark import registry\n"
        "print(json.dumps({'modules': sorted(m for m in sys.modules"
        " if m.startswith('airflow_loan_etl_pipeline_spark.registry_')),"
        " 'queries': len(registry.QUERIES),"
        " 'oracle': len(registry.ORACLE)}))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=root, check=True,
        capture_output=True, text=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    files = sorted(
        f"airflow_loan_etl_pipeline_spark.{p.stem}"
        for p in package.glob("registry_*.py")
    )
    assert files and got["modules"] == files
    assert got["queries"] == 275
    assert got["oracle"] == 271

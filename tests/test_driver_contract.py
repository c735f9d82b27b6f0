"""Driver-contract invariants of __spark_entry__: the query and oracle
maps it exposes, and the registry modules its import loads."""

from __future__ import annotations

import __spark_entry__ as entry
from airflow_loan_etl_pipeline_spark import registry


def test_queries_are_the_registry_sorted_by_name():
    """``queries()`` is every registry entry, sorted by name, and the
    same on every call; ``oracle_sql()`` is the ``ORACLE`` subset in the
    same order."""
    q = entry.queries()
    assert list(q) == sorted(registry.QUERIES)
    assert all(q[k] is registry.QUERIES[k] for k in q)
    assert list(entry.queries()) == list(q)
    osql = entry.oracle_sql()
    assert list(osql) == [k for k in q if k in registry.ORACLE]
    assert set(osql) == set(registry.ORACLE)


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

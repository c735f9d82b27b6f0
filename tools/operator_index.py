"""Generate OPERATORS.md: the user-facing index of every registered
query — name, oracle status, and the first docstring sentence —
grouped by registry module. Regenerate after adding queries:

    python tools/operator_index.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from airflow_loan_etl_pipeline_spark import registry  # noqa: E402

registry.load_all()


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", " — the", " - the"):
        i = text.find(stop)
        if i > 0:
            return text[: i + 1].rstrip(" .") + "."
    return text[:140]


def driver_coverage() -> dict[str, str]:
    """Cumulative driver-verification ledger: for each query, the first
    round whose CORRECTNESS_r*.json sampled it AND recorded it fully
    green (rows+schema+hash for oracle entries; rows for rows-only)."""
    import glob
    import json
    import re

    covered: dict[str, str] = {}
    root = os.path.join(os.path.dirname(__file__), "..")
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = re.search(r"CORRECTNESS_r(\d+)", path).group(1)
        try:
            data = json.load(open(path))
        except Exception:
            continue
        for name, row in data.items():
            if name in covered:
                continue
            if name in registry.ORACLE:
                # full differential check: rows + schema + value hash
                ok = (
                    row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match")
                    and row.get("err") is None
                )
            else:
                # rows-only entries have no oracle BY DESIGN; the
                # strongest external check the driver can ever record
                # for them is "ran, returned rows, no hard error"
                # (err == 'no_oracle' is the marker for that path,
                # not a failure)
                ok = (
                    row.get("spark_rows") is not None
                    and row.get("err") in (None, "no_oracle")
                )
            if ok:
                covered[name] = f"r{int(rnd):02d}"
    return covered


def main() -> None:
    covered = driver_coverage()
    by_mod: dict[str, list[tuple[str, str, str, str]]] = {}
    for name, fn in sorted(registry.QUERIES.items()):
        mod = fn.__module__.rsplit(".", 1)[-1]
        gate = "oracle" if name in registry.ORACLE else "rows-only"
        by_mod.setdefault(mod, []).append(
            (name, gate, covered.get(name, "—"), first_sentence(fn.__doc__))
        )
    n_cov = sum(1 for n in registry.QUERIES if n in covered)
    out = [
        "# OPERATORS — registered query index",
        "",
        "Generated by tools/operator_index.py. Every entry runs through",
        "the differential oracle gate (`oracle`) or the weaker rows-only",
        "check (`rows-only`, used where ANSI SQL cannot express the",
        "semantics — sketches, codecs). See SURVEY.md §8 for the",
        "operator-to-test traceability map and SCALE.md for the 100 TB",
        "design notes.",
        "",
        "`driver` = first round the external 50-query-sample gate",
        "verified the entry green (CORRECTNESS_r*.json); `—` = not yet",
        "driver-sampled (every such entry IS green in the in-repo",
        "differential gate, tools/check_oracle.py / ",
        "tests/test_registry_oracle.py, which runs all of them).",
        "`queries()` orders queries rewired in the current round",
        "first (one round of external re-verification for new code",
        "paths), then never-sampled entries, then verified ones, so",
        "each round's sample retires ~47-50 more; at that rate the",
        f"remaining {len(registry.QUERIES) - n_cov} reach full coverage",
        "in ~{} more rounds.".format(
            -(-(len(registry.QUERIES) - n_cov) // 47)
        ),
        "",
        f"Driver-verified so far: {n_cov}/{len(registry.QUERIES)}.",
        "",
    ]
    total = 0
    for mod in sorted(by_mod):
        entries = by_mod[mod]
        total += len(entries)
        out.append(f"## {mod} ({len(entries)})")
        out.append("")
        out.append("| query | gate | driver | what it computes |")
        out.append("| --- | --- | --- | --- |")
        for name, gate, drv, doc in entries:
            out.append(f"| `{name}` | {gate} | {drv} | {doc} |")
        out.append("")
    out.append(f"Total registered queries: {total}.")
    path = os.path.join(os.path.dirname(__file__), "..", "OPERATORS.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote OPERATORS.md ({total} queries)")


if __name__ == "__main__":
    main()

"""Cross-check SURVEY.md §2 against the registered query surface.

SURVEY §2 documents the surface row by row; this keeps the document
and the code from drifting: every table row key must have a
`queries()` entry, every `queries()` entry must appear in §2 and have
an `oracle_sql()` twin, and every §2.4 stream job must exist and name
a batch twin that is an oracle-checked `queries()` key.

Usage: python tools/check_survey.py   (exit 1 on drift)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402


def survey_rows() -> dict[str, str]:
    """{key: status-cell} for §2.2/§2.3 table rows (keys look like
    query names: q_*, qN_*, d_*, s_*, t_*, m_*, p_*)."""
    text = open(os.path.join(REPO, "SURVEY.md")).read()
    rows: dict[str, str] = {}
    for m in re.finditer(r"^\| ((?:q|d|s|t|m|p)[0-9]?\w*) \| (.*?) \| (.*?) \|$", text, re.M):
        key, _, status = m.groups()
        if key.startswith(("stream_",)):
            continue
        rows[key] = status
    return rows


def stream_batch_twins() -> dict[str, str]:
    """{stream_job: batch_twin_key} for §2.4 rows whose status cell
    names a batch ``queries()`` key."""
    text = open(os.path.join(REPO, "SURVEY.md")).read()
    twins: dict[str, str] = {}
    for m in re.finditer(r"^\| (stream_\w+) \| .*? \| (.*?) \|$", text, re.M):
        job, status = m.groups()
        hit = re.search(r"\b((?:q|d|s|t|m|p)\d?_\w+)\b", status)
        if hit:
            twins[job] = hit.group(1)
    return twins


def main() -> int:
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    rows = survey_rows()
    skeys = set(rows)
    problems = []
    for k in sorted(skeys - qs):
        problems.append(f"SURVEY row without queries() entry: {k}")
    for k in sorted(qs - skeys):
        problems.append(f"queries() entry missing from SURVEY §2: {k}")
    for k in sorted(qs - oracles):
        problems.append(f"queries() entry without oracle_sql(): {k}")
    for k, status in sorted(rows.items()):
        if "[oracle]" in status and k in qs and k not in oracles:
            problems.append(f"SURVEY claims [oracle] but no oracle_sql(): {k}")
    # Lockstep: every stream job's batch twin is a queries() key with
    # a DuckDB twin, so the batch side the stream must agree with is
    # itself value-checked.
    for job, twin in sorted(stream_batch_twins().items()):
        if twin not in qs:
            problems.append(
                f"stream twin names unknown queries() key: {job} → {twin}"
            )
        elif twin not in oracles:
            problems.append(
                f"lockstep violation: {job}'s batch twin {twin} has no oracle_sql()"
            )
    # Streaming drift: every §2.4 row names a real job function and
    # every stream_* function in the streaming package has a §2.4 row.
    import locopy_spark.streaming.jobs as sjobs
    import locopy_spark.streaming.stateful as sstate

    defined = {
        n
        for mod in (sjobs, sstate)
        for n in dir(mod)
        if n.startswith("stream_") and callable(getattr(mod, n))
    }
    text = open(os.path.join(REPO, "SURVEY.md")).read()
    rows24 = set(re.findall(r"^\| (stream_\w+) \|", text, re.M))
    for k in sorted(rows24 - defined):
        problems.append(f"SURVEY §2.4 row without a streaming function: {k}")
    for k in sorted(defined - rows24):
        problems.append(f"streaming function missing from SURVEY §2.4: {k}")
    if problems:
        print("\n".join(problems))
        return 1
    print(
        f"survey consistent: {len(qs)} queries, {len(oracles & qs)} oracles, "
        f"{len(skeys)} SURVEY rows"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

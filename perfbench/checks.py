"""Output checks. They run outside every timed span.

* ``value_hash`` — the order-insensitive value hash used to compare a
  query's Spark result with its DuckDB ``oracle_sql()`` twin: columns
  sorted by name, cells stringified (floats by ``repr``, NULL/NaN as
  one token), rows sorted, then SHA-256.
* ``load_problems`` / ``gold_problems`` — what one ``run_load`` /
  ``rebuild_gold`` call must have produced from the seeded feed.

Every checker returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import hashlib
import math


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def value_hash(df) -> str:
    """Order-insensitive hash of a pandas frame's column names and values."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row) for row in df[cols].itertuples(index=False)
    )
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return h.hexdigest()


def load_problems(
    metrics: dict,
    want_inserted: int,
    want_updated: int,
    core_rows: list[dict],
    expected: dict[int, dict],
    load_log_rows: int,
    want_log_rows: int,
) -> list[str]:
    """Checks one ``run_load`` call: its insert/update counters, the core
    table's rows against the feed's expected typed values (including
    NULL wherever a sentinel or malformed value was planted), and one
    ``load_log`` row per call so far."""
    out = []
    got = (metrics.get("rows_inserted"), metrics.get("rows_updated"))
    if got != (want_inserted, want_updated):
        out.append(f"counters {got} != {(want_inserted, want_updated)}")
    if metrics.get("records_mapped") != len(expected):
        out.append(f"records_mapped {metrics.get('records_mapped')} != {len(expected)}")
    if len(core_rows) != len(expected):
        out.append(f"core rows {len(core_rows)} != {len(expected)}")
    bad = [r["unitid"] for r in core_rows if expected.get(r["unitid"]) != r]
    if bad:
        out.append(f"{len(bad)} core rows differ from the feed, e.g. unitid {bad[0]}")
    if load_log_rows != want_log_rows:
        out.append(f"load_log rows {load_log_rows} != {want_log_rows}")
    return out


def gold_problems(gold: dict, expected: dict[int, dict]) -> list[str]:
    """Checks ``rebuild_gold``'s view row counts for a one-year core."""
    want = {
        "institutions_latest": len(expected),
        "yearly_counts": len({(r["year"], r["state_abbr"]) for r in expected.values()}),
    }
    return [f"gold {k} {gold.get(k)} != {v}" for k, v in want.items() if gold.get(k) != v]

"""The operator-coverage suite: one named query per implemented operator
from SURVEY.md §2, each paired with an ANSI-SQL oracle that DuckDB can run
on the same parquet tables.

This module backs `__spark_entry__.py` (the driver contract). Every entry is

    name -> (spark_fn, oracle_sql | None)

where `spark_fn(spark, sf_dir) -> DataFrame` exercises OUR engine (the
dialect compiler or an operators/ extension) and `oracle_sql` recomputes the
same result in plain SQL. Column names are aliased identically on both
sides; float aggregates are rounded to 6 decimals on both sides so the
driver's order-insensitive value-hash is robust to summation-order noise.

Determinism notes: every LIMIT query orders by a unique key (or a key
chain ending in one); collect_list results are sorted + joined to a string
on both sides.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from purescript_ifrit_spark.suite._registry import (  # noqa: F401
    DEMO_REGISTRY,
    REGISTRY,
    SparkFn,
    register,
    register_demo,
)

# Import order populates REGISTRY. The driver window computed at the end of
# this module moves the 50 entries due first to the front; the rest keep
# this order.
from purescript_ifrit_spark.suite import (  # noqa: E402,F401
    core,
    dedup,
    text,
    dialect,
    sampling,
    vectors,
    analytics,
    graph,
    joins,
    multimodal,
    streaming,
    chat,
    layout,
)
from purescript_ifrit_spark.suite.core import flagship  # noqa: E402,F401


# ===========================================================================
# Driver window
# ===========================================================================
#
# The driver's correctness harness checks the FIRST 50 registry entries
# (dict insertion order) each round and writes CORRECTNESS_rNN.json to the
# repo root. The window is computed from those artifacts alone, earliest
# deadline first (Liu & Layland, JACM 1973): never-green entries, then by
# the round by which each entry must be re-checked, then by name. A round
# that lands moves the window on with no source edit.

WINDOW_SIZE = 50

# How many rounds an entry's last green driver check may age before it is
# overdue: core SURVEY §2 contract entries (no x_/xd_ prefix) at most 3,
# extension entries at most 5. An entry last green in round N must be in
# the window of every round R with R - N > its bound. Never-green entries
# must be in the next window.
STALENESS_SLA = {"core": 3, "extension": 5}

_ARTIFACT = re.compile(r"CORRECTNESS_r(\d+)\.json")
_ROOT = Path(__file__).resolve().parents[2]


def entry_tier(name: str) -> str:
    """SLA tier for a registry entry: core SURVEY §2 contract entries
    carry no extension prefix."""
    return "extension" if name.startswith(("x_", "xd_")) else "core"


def _artifacts(root=None) -> list:
    """[(round, {entry: row})] for every CORRECTNESS_rNN.json in `root`
    (default: the repo root), oldest round first. An unreadable artifact
    still counts as a spent round, with no rows."""
    out = []
    for p in Path(root or _ROOT).glob("CORRECTNESS_r*.json"):
        m = _ARTIFACT.fullmatch(p.name)
        if not m:
            continue
        try:
            rows = json.loads(p.read_text())
        except ValueError:
            rows = {}
        out.append((int(m.group(1)), rows if isinstance(rows, dict) else {}))
    return sorted(out, key=lambda a: a[0])


def _is_green(row) -> bool:
    return (
        isinstance(row, dict)
        and bool(row.get("rows_match"))
        and bool(row.get("hash_match"))
        and row.get("err") is None
    )


def last_green(root=None) -> dict:
    """{entry: latest round whose artifact holds a green row for it}."""
    return {
        name: rnd
        for rnd, rows in _artifacts(root)
        for name, row in rows.items()
        if _is_green(row)
    }


def upcoming_round(root=None) -> int:
    """The round the next window is spent in: latest artifact round + 1."""
    return max((rnd for rnd, _ in _artifacts(root)), default=0) + 1


def deadline(name: str, last_green: dict):
    """Last round `name` may be spent without; None if it was never green."""
    if name not in last_green:
        return None
    return last_green[name] + STALENESS_SLA[entry_tier(name)]


def driver_window(names, last_green: dict) -> list:
    """The WINDOW_SIZE entries due first: never-green entries, then by
    deadline, then by name."""

    def key(name):
        due = deadline(name, last_green)
        return (due is not None, due or 0, name)

    return sorted(names, key=key)[:WINDOW_SIZE]


def window_staleness_violations(
    window, current_round: int, last_green: dict
) -> list:
    """[(entry, reason)] for every registry entry that breaches
    STALENESS_SLA if `window` is spent at `current_round` without it;
    [] when the window meets the SLA."""
    in_window = set(window)
    bad = []
    for name in REGISTRY:
        if name in in_window:
            continue
        if name not in last_green:
            bad.append((name, "never driver-checked and not in window"))
            continue
        tier = entry_tier(name)
        age = current_round - last_green[name]
        if age > STALENESS_SLA[tier]:
            bad.append(
                (name, f"age {age} rounds > {tier} SLA {STALENESS_SLA[tier]}")
            )
    return bad


def _verdict(row) -> str:
    if not isinstance(row, dict):
        return "malformed row"
    if row.get("err") is not None:
        # the last traceback line names the exception
        lines = str(row["err"]).strip().splitlines() or [""]
        return lines[-1].replace("|", "/")
    if not row.get("rows_match"):
        return f"rows {row.get('spark_rows')} vs oracle {row.get('oracle_rows')}"
    return "hash mismatch"


def render_ledger_table(root=None) -> str:
    """Markdown table of every registry entry in driver order: the rounds
    whose artifacts checked it (failed rows annotated from the row's own
    fields), `rN*` for the upcoming round's window, and its deadline."""
    artifacts = _artifacts(root)
    green = last_green(root)
    upcoming = upcoming_round(root)
    window = set(driver_window(REGISTRY, green))
    out = ["| pos | Entry | Driver rounds | Due by |", "|---|---|---|---|"]
    for pos, name in enumerate(REGISTRY):
        marks = [
            f"r{rnd}" if _is_green(rows[name])
            else f"r{rnd} ({_verdict(rows[name])})"
            for rnd, rows in artifacts
            if name in rows
        ]
        if name in window:
            marks.append(f"r{upcoming}*")
        due = deadline(name, green)
        out.append(
            f"| {pos} | `{name}` | {', '.join(marks) or '—'} "
            f"| {'next round' if due is None else f'r{due}'} |"
        )
    return "\n".join(out)


def _apply_driver_window(window: list) -> None:
    ordered = {name: REGISTRY[name] for name in window}
    ordered.update(REGISTRY)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_apply_driver_window(driver_window(REGISTRY, last_green()))

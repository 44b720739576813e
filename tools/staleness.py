"""Driver-window staleness ledger (round-13 verdict ask #1).

The driver's correctness harness checks only the FIRST 50 keys of
``queries()``; ``_PRIORITY`` in ``__spark_entry__.py`` controls that
window. Through round 13 the rotation queue was hand-counted from
comments — and twice lost blocks (round 13 dropped the four r5-era
entries entirely). This tool derives the queue from data instead:

- unions every ``CORRECTNESS_r*.json`` in the repo root,
- records, per entry, the LATEST round with a fully green row
  (rows+schema+hash where hashed; rows-only entries count as green on
  their declared weaker check) and flags any non-green rows,
- emits the staging order for the NEXT window: never-driver-checked
  entries first (current ``queries()`` order), then ascending
  latest-green round, ties broken by current ``queries()`` position —
  so the oldest driver rows always surface before newer ones.

Usage:
    python3 tools/staleness.py            # human table + staging order
    python3 tools/staleness.py --emit 50  # just the first N names

The window is (new/changed entries this round, hand-staged in
``__spark_entry__.py``) followed by this tool's staging order with
those names removed; ``__spark_entry__.py`` computes that tail from
``staging_order()`` at import time, so nothing is pasted by hand.
``--exclude name1,name2`` does the removal on the command line.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _green(row: dict) -> bool:
    if row.get("err"):
        return False
    # hash_match may be absent on rows-only (no-oracle) entries; those
    # count as green on their declared weaker check
    for k in ("rows_match", "schema_match", "hash_match"):
        if k in row and row[k] is not True:
            return False
    return True


def latest_green() -> tuple[dict[str, int], list[str]]:
    """(entry -> latest green round, list of 'entry@round' red rows)."""
    latest: dict[str, int] = {}
    red: list[str] = []
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if _green(row):
                latest[name] = max(latest.get(name, 0), rnd)
            else:
                red.append(f"{name}@r{rnd}")
    return latest, red


def staging_order(
    order: list[str] | None = None,
) -> list[tuple[str, int | None]]:
    """All current queries() entries as (name, latest_green_round or
    None), in the order the next window should re-check them. Ties
    break by position in ``order`` (default: the current queries()
    order)."""
    if order is None:
        import __spark_entry__ as entrymod

        order = list(entrymod.queries())
    pos = {n: i for i, n in enumerate(order)}
    latest, _ = latest_green()
    return sorted(
        ((n, latest.get(n)) for n in order),
        key=lambda t: (t[1] is not None, t[1] or 0, pos[t[0]]),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--emit", type=int, metavar="N",
                    help="print only the first N staged names")
    ap.add_argument("--exclude", default="",
                    help="comma-separated names to drop (this round's "
                         "new/changed block, staged by hand)")
    args = ap.parse_args()
    excl = {n for n in args.exclude.split(",") if n}

    staged = [(n, r) for n, r in staging_order() if n not in excl]
    latest, red = latest_green()

    if args.emit:
        for n, _ in staged[: args.emit]:
            print(n)
        return

    by_round: dict[int | None, int] = {}
    for _, r in staged:
        by_round[r] = by_round.get(r, 0) + 1
    print(f"# entries: {len(staged)}   latest-green histogram: "
          + "  ".join(f"r{k if k else '-'}:{v}"
                      for k, v in sorted(by_round.items(),
                                         key=lambda t: t[0] or 0)))
    if red:
        print(f"# NON-GREEN rows ever recorded: {len(red)}")
        for r in red:
            print(f"#   {r}")
    print("# staging order (stalest first):")
    for i, (n, r) in enumerate(staged):
        print(f"{i + 1:3d}  {'never' if r is None else f'r{r:02d}'}  {n}")


if __name__ == "__main__":
    main()

"""Regenerate COVERAGE.md's driver-certification ledger from the
CORRECTNESS_r*.json files — generated, never hand-maintained, so the
freshness picture the rotation depends on cannot rot.

Usage: python tools/ledger.py   (rewrites the ledger section in place)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARK = "## Driver-certification ledger"


def history() -> tuple[dict[str, list[int]], dict[str, list[int]], int]:
    """(green_rounds, red_rounds, latest_round) per entry, from every
    CORRECTNESS_r*.json present. Green = rows+schema+hash all match."""
    green: dict[str, list[int]] = {}
    red: dict[str, list[int]] = {}
    latest = 0
    for path in sorted(glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json"))):
        # strict parse: a stray variant like CORRECTNESS_r07_v2.json must
        # be skipped, not read as round 72
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        try:
            rnd = int(m.group(1))
            data = json.load(open(path))
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        latest = max(latest, rnd)
        for name, res in data.items():
            if not isinstance(res, dict):
                continue
            ok = (
                res.get("rows_match")
                and res.get("hash_match", True)
                and res.get("schema_match", True)
            )
            (green if ok else red).setdefault(name, []).append(rnd)
    return green, red, latest


def render() -> str:
    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    import __spark_entry__ as entry_mod

    names = sorted(entry_mod.registry.QUERIES)
    green, red, latest = history()
    by_last: dict[int, int] = {}
    lines = [
        MARK,
        "",
        "Generated by `tools/ledger.py` from the `CORRECTNESS_r*.json`",
        "files — do not edit by hand. The driver snapshot caps at ~50",
        "entries per round, so `queries()` orders the least-recently-",
        "certified entries first and the window rotates oldest-first;",
        "'last' below is the round whose driver snapshot most recently",
        "recorded the entry fully green (rows + schema + value hash).",
        "Entries never present in any snapshot show 'never' (they are",
        "front of the next round's queue).",
        "",
        "| Entry | Green in rounds | Last | Red in rounds |",
        "|---|---|---|---|",
    ]
    for n in names:
        g = green.get(n, [])
        r = red.get(n, [])
        last = max(g) if g else 0
        by_last[last] = by_last.get(last, 0) + 1
        lines.append(
            "| `{}` | {} | {} | {} |".format(
                n,
                ", ".join(f"r{x}" for x in g) or "—",
                f"r{last}" if g else "never",
                ", ".join(f"r{x}" for x in r) or "—",
            )
        )
    lines += [
        "",
        "Freshness histogram (entries by last-certified round): "
        + ", ".join(
            f"{'never' if k == 0 else f'r{k}'}: {v}"
            for k, v in sorted(by_last.items())
        )
        + f". Registry size {len(names)}; latest driver round r{latest}.",
        "",
    ]
    return "\n".join(lines)


def main() -> int:
    path = os.path.join(HERE, "COVERAGE.md")
    text = open(path).read()
    idx = text.find(MARK)
    head = text[:idx] if idx >= 0 else text.rstrip() + "\n\n"
    open(path, "w").write(head + render())
    print("ledger regenerated")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

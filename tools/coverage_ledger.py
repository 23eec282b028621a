"""Window-rotation ledger (VERDICT r5 directive #2): a generated table of
which driver round each registry query last held a green CORRECTNESS row,
so window staleness is visible at a glance and rotations are auditable.

Queries are keyed by their name SUFFIX (everything after the qNNN_ prefix):
every renumber rotation (the one-shot renumber tool and its per-round
mapping files, now in git history) preserved suffix<->content identity while
swapping slot numbers, so a suffix seen green in CORRECTNESS_r01.json under
an old number is the same operator content as today's query with that
suffix. Suffixes are unique across the registry (asserted).

Usage: python tools/coverage_ledger.py   # rewrites the ledger section of
COVERAGE.md in place (everything after the LEDGER_MARKER line).
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LEDGER_MARKER = "## Driver-certification ledger"


def certified_rounds() -> dict[str, dict[int, str]]:
    """suffix -> {round: 'hash' | 'rows-only'} from every CORRECTNESS file."""
    out: dict[str, dict[int, str]] = {}
    for p in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        data = json.loads(p.read_text())
        for name, row in data.items():
            if not (row.get("rows_match") and row.get("schema_match")):
                continue
            suffix = name.split("_", 1)[1]
            kind = "hash" if row.get("hash_match") else "rows-only"
            out.setdefault(suffix, {})[rnd] = kind
    return out


def build_ledger() -> str:
    sys.path.insert(0, str(ROOT))
    from warcraider_spark.registry import all_specs

    names = sorted(all_specs())
    suffixes = [n.split("_", 1)[1] for n in names]
    assert len(set(suffixes)) == len(suffixes), "suffixes must be unique"
    certs = certified_rounds()
    window = set(names[:50])

    lines = [
        LEDGER_MARKER,
        "",
        "Generated by `python tools/coverage_ledger.py` — do not edit by hand.",
        "The driver certifies the first 50 sorted names each round; this table",
        "shows, per query (tracked by its rename-stable suffix), the last round",
        "it held a green CORRECTNESS row. 'window' marks the CURRENT",
        "first-50-sorted set (certified next round; kept free of bare qNNN",
        "tokens here so renumber rewrites can't mangle this header).",
        "Never-certified-and-not-in-window queries are the rotation backlog.",
        "",
        "| Query | In window | Last green round | All green rounds |",
        "|---|---|---|---|",
    ]
    never_out = 0
    for name in names:
        suffix = name.split("_", 1)[1]
        rounds = certs.get(suffix, {})
        inw = "yes" if name in window else ""
        if rounds:
            last = max(rounds)
            lastcell = f"r{last} ({rounds[last]})"
            allcell = ", ".join(f"r{r}" for r in sorted(rounds))
        else:
            lastcell = "never"
            allcell = "—"
            if name not in window:
                never_out += 1
        lines.append(f"| {name} | {inw} | {lastcell} | {allcell} |")
    certified_any = sum(1 for s in suffixes if s in certs)
    lines += [
        "",
        f"Summary: {certified_any}/{len(names)} queries have held at least one "
        f"green driver row; {never_out} never-certified queries remain outside "
        "the current window (rotation backlog).",
        "",
    ]
    return "\n".join(lines)


def main() -> None:
    cov = ROOT / "COVERAGE.md"
    text = cov.read_text()
    idx = text.find(LEDGER_MARKER)
    base = text[:idx].rstrip() + "\n\n" if idx >= 0 else text.rstrip() + "\n\n"
    cov.write_text(base + build_ledger())
    print("COVERAGE.md ledger regenerated")


if __name__ == "__main__":
    main()

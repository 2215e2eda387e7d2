"""Rotate the ``__spark_entry__`` query registry so the driver's fixed
first-50 CORRECTNESS snapshot accumulates coverage across rounds.

Reads every ``CORRECTNESS_r*.json`` in the repo root, computes the set
of queries that have EVER had a green driver row — and the round each
was LAST green — and rewrites the ``_REGISTRY`` table literal (one
row per query: function + oracle) as: never-snapshotted keys first
(relative order preserved), then ``--front`` rewrites, then every
already-checked query sorted least-recently-checked first (the LRU
sweep: the window's leftover slots refresh the stalest driver rows, so
every query gets a fresh row within ~#queries/50 rounds instead of
aging indefinitely).
Comment lines attached above an entry move with it.  Run AFTER a
round's snapshot lands and BEFORE adding new queries; new queries
should be inserted at the front so they are checked in their first
round.  A rotation changes the ``queries()`` key order, so re-stamp
the key-order digest in ``tests/test_registry_contract.py`` afterwards
(its failure message prints the new value).

Usage: python scripts/rotate_registry.py [--dry-run] [--front a,b,c]

``--front`` lists REWRITTEN queries that must lead the next snapshot
window even though they already have a green row from an earlier round
— the round-6 advisor's discipline: never ship a rewrite the driver
can't see.  Never-checked queries still sort before the --front set.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

# ROTATE_ROOT / ROTATE_ENTRY_PATH exist for the test harness only
# (tests/test_rotate_registry.py rewrites a miniature fixture instead
# of the real registry)
ROOT = os.environ.get(
    "ROTATE_ROOT",
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
)
ENTRY = os.environ.get(
    "ROTATE_ENTRY_PATH", os.path.join(ROOT, "__spark_entry__.py")
)
SNAPSHOT_WINDOW = 50


def parse_dict(src: str, name: str):
    m = re.search(rf"{name}: dict\[[^\]]+\][^=]*= \{{\n(.*?)\n\}}", src, re.S)
    if not m:
        raise SystemExit(f"could not locate {name} literal")
    entries: dict[str, list[str]] = {}
    order: list[str] = []
    pending: list[str] = []
    for line in m.group(1).split("\n"):
        s = line.strip()
        if s.startswith("#") or not s:
            pending.append(line)
            continue
        k = re.match(r'\s*"([a-z0-9_]+)":', line)
        if not k:
            raise SystemExit(f"unparseable {name} line: {line!r}")
        entries[k.group(1)] = pending + [line]
        order.append(k.group(1))
        pending = []
    # comment lines after the last entry must survive the rewrite
    return entries, order, m.group(0), pending


def main() -> int:
    # Unknown flags must be a hard error: a typo'd --dry must never fall
    # through to a registry REWRITE (round-6 verdict item #2).
    front: list[str] = []
    args = list(sys.argv[1:])
    unknown = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--dry-run":
            i += 1
        elif a == "--front" and i + 1 < len(args):
            front = [s for s in args[i + 1].split(",") if s]
            i += 2
        elif a.startswith("--front="):
            front = [s for s in a.split("=", 1)[1].split(",") if s]
            i += 1
        else:
            unknown.append(a)
            i += 1
    if unknown:
        raise SystemExit(
            f"unrecognized argument(s) {unknown}; "
            "usage: python scripts/rotate_registry.py [--dry-run] [--front a,b,c]"
        )
    dry = "--dry-run" in sys.argv
    src = open(ENTRY).read()
    # last_green[name] = highest round with a green row (LRU key)
    last_green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        for name, row in json.load(open(path)).items():
            if isinstance(row, dict) and row.get("hash_match"):
                last_green[name] = max(rnd, last_green.get(name, 0))
    ever_checked = set(last_green)
    qe, qorder, qfull, qtrail = parse_dict(src, "_REGISTRY")
    bad_front = [k for k in front if k not in qorder]
    if bad_front:
        raise SystemExit(f"--front names not in _REGISTRY: {bad_front}")
    unchecked = [k for k in qorder if k not in ever_checked]
    fronted = [k for k in front if k in ever_checked and k not in unchecked]
    # LRU sweep: stalest driver row first; position in qorder tiebreaks
    # so equal-round queries keep a stable relative order
    rest = sorted(
        (k for k in qorder if k in ever_checked and k not in fronted),
        key=lambda k: (last_green[k], qorder.index(k)),
    )
    new_order = unchecked + fronted + rest
    stale = {k: last_green[k] for k in rest[: SNAPSHOT_WINDOW]}
    print(
        f"{len(ever_checked)} ever driver-checked; {len(unchecked)} pending; "
        f"{len(fronted)} fronted rewrites; LRU head last-green rounds: "
        f"{sorted(set(stale.values()))}"
    )
    print(f"next snapshot window ({SNAPSHOT_WINDOW}): {new_order[:SNAPSHOT_WINDOW]}")
    if new_order == qorder:
        print("already in rotated order; nothing to do")
        return 0
    if dry:
        return 0

    lines = [qfull.split("\n")[0]]
    for k in new_order:
        lines.extend(qe[k])
    lines.extend(qtrail)
    lines.append("}")
    open(ENTRY, "w").write(src.replace(qfull, "\n".join(lines)))
    print(
        "rewritten; re-stamp the key-order digest in "
        "tests/test_registry_contract.py and re-run scripts/check_entry.py "
        "before committing"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Print the next complete ``_ORDER`` for ``__spark_entry__.py``,
deterministically (slot assignment must be reproducible, not
hand-ordered prose).

The driver verifies only the first ~50 ``queries()`` entries in
registration order, so each round front-loads the queries whose driver
evidence is weakest. Tiering rule for the front:

  0. NEVER driver-attempted (no row in any CORRECTNESS_r*.json):
     hash-oracled queries first, rows-only at the tier tail (a rows-only
     row is weaker evidence, so it should not displace an oracled one).
  1. Everything else, oldest-latest-evidence first (a query last seen
     green in round 4 outranks one seen in round 6).

Within a tier, current registration order is kept (stable sort), except
names passed via ``--boost`` — queries whose PLAN changed since their
last driver row (their old evidence no longer evidences the shipped
plan) — which move to the head of whatever tier they land in, in the
given order. After the ``--window`` front, every other name keeps its
current order.

Usage:
    python tools/build_front.py [--window 50] [--boost a,b,c] \
        [CORRECTNESS_r01.json ...]

With no files given, reads the repo's CORRECTNESS_r*.json. Stdout is
the complete ``_ORDER = [...]`` list, which replaces the one in
``__spark_entry__.py`` in place; coverage stats, the invocation and each
front slot's evidence go to stderr.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402


def latest_green(paths: list[str]) -> tuple[dict[str, int], set[str]]:
    """name -> latest round with a green row (hash, or rows-only for
    no-oracle queries); plus the set of names ever attempted."""
    latest: dict[str, int] = {}
    attempted: set[str] = set()
    for path in paths:
        m = re.search(r"r0*(\d+)", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        for name, row in json.load(open(path)).items():
            attempted.add(name)
            if row.get("hash_match") or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest, attempted


def build_front(
    names: list[str],
    oracled: set[str],
    latest: dict[str, int],
    attempted: set[str],
    window: int,
    boost: list[str],
) -> list[tuple[str, str]]:
    """Returns [(name, evidence tag)] for the first ``window`` slots."""
    rank = {n: i for i, n in enumerate(names)}
    boost_rank = {n: i for i, n in enumerate(boost)}

    def key(n: str):
        if n not in attempted:
            tier = (0, 0 if n in oracled else 1)
        else:
            tier = (1, latest.get(n, 0))
        return (*tier, n not in boost_rank, boost_rank.get(n, 0), rank[n])

    ordered = sorted(names, key=key)
    out = []
    for n in ordered[:window]:
        if n not in attempted:
            tag = "never driver-attempted" + ("" if n in oracled else "; rows-only")
        else:
            tag = f"latest evidence r{latest.get(n, 0)}"
        if n in boost_rank:
            tag += "; boosted (plan changed since last row)"
        out.append((n, tag))
    return out


def build_order(
    names: list[str],
    oracled: set[str],
    latest: dict[str, int],
    attempted: set[str],
    window: int,
    boost: list[str],
) -> list[str]:
    """The complete registry order: the ``window`` front, then every
    other name in its current order."""
    front = [n for n, _ in build_front(names, oracled, latest, attempted, window, boost)]
    chosen = set(front)
    return front + [n for n in names if n not in chosen]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("files", nargs="*", help="CORRECTNESS_r*.json files")
    ap.add_argument("--window", type=int, default=50)
    ap.add_argument("--boost", default="", help="comma list, plan-changed queries")
    args = ap.parse_args()
    paths = args.files or sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")))
    boost = [b for b in args.boost.split(",") if b]

    names = list(entrymod.queries())
    oracled = set(entrymod.oracle_sql())
    unknown = [b for b in boost if b not in names]
    assert not unknown, f"--boost names not in registry: {unknown}"
    latest, attempted = latest_green(paths)

    never = [n for n in names if n not in attempted]
    err = sys.stderr
    print(
        f"# catalog {len(names)} | ever-attempted {len(attempted & set(names))} "
        f"| ever-green {len(set(latest) & set(names))} | never {len(never)}",
        file=err,
    )
    print(f"# generated by: python {' '.join(sys.argv)}", file=err)
    for n, tag in build_front(names, oracled, latest, attempted, args.window, boost):
        print(f"#   {n}: {tag}", file=err)

    order = build_order(names, oracled, latest, attempted, args.window, boost)
    print("_ORDER = [")
    for i, n in enumerate(order):
        if i == args.window:
            print(f"    # --- end of the {args.window}-slot driver window ---")
        print(f'    "{n}",')
    print("]")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

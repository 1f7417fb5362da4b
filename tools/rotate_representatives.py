"""Regenerate the registry's oldest-row-first rotation prefix.

Rewrites `_FAMILY_REPRESENTATIVES` in hcls_data_lake_spark/registry.py:
names given on the command line (this round's additions, no driver row
yet) go first, then every other currently-listed name ordered by the
round of its LATEST driver CORRECTNESS row (stalest first; current
list position breaks ties), so a 50-name driver prefix always refreshes
the new names plus the stalest legacy evidence. Names with no oracle
SQL go last whatever their round: a sampled prefix cannot diff them,
so a slot spent on one certifies nothing.

    python tools/rotate_representatives.py [new_name ...]

Prints the new 50-prefix; the caller updates the header comment and
runs tests/test_entry.py.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from hcls_data_lake_spark.registry import oracle_sql  # noqa: E402


def main() -> None:
    new_names = sys.argv[1:]
    path = os.path.join(REPO, "hcls_data_lake_spark", "registry.py")
    src = open(path).read()
    start = src.index("_FAMILY_REPRESENTATIVES = [")
    end = src.index("\n]", start) + 2
    block = src[start:end]
    names = re.findall(r'"(q_[a-z0-9_]+)"', block)
    header = block[: block.index('    "q_')]

    # committed rounds live in history/, new ones land at the root
    # (see __spark_entry__.py)
    latest: dict[str, int] = {}
    for d in ("history", ""):
        for f in glob.glob(os.path.join(REPO, d, "CORRECTNESS_r*.json")):
            rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
            for name in json.load(open(f)):
                latest[name] = max(rnd, latest.get(name, 0))

    pos = {n: i for i, n in enumerate(names)}
    known = set(names) | set(new_names)
    rest = [n for n in names if n not in set(new_names)]
    rest.sort(key=lambda n: (latest.get(n, 0), pos.get(n, 0)))
    ordered = list(new_names) + rest
    oracles = oracle_sql()
    ordered.sort(key=lambda n: n not in oracles)  # stable
    assert len(set(ordered)) == len(ordered), "duplicate names"
    assert set(ordered) == known

    body = "".join(f'    "{n}",\n' for n in ordered)
    open(path, "w").write(src[:start] + header + body + "]\n" + src[end:])
    print("prefix[:50] =", ordered[:50])


if __name__ == "__main__":
    main()

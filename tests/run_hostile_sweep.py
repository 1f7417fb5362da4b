"""Full-registry hostile-session sweep: re-run EVERY registered query
under a deliberately foreign driver session (America/New_York time
zone, 200 shuffle partitions) and compare oracle-checked queries
against DuckDB; rows-only queries are executed for crash-freedom.

The fast pytest suite (test_hostile_session.py) pins a hand-picked
sensitive subset; this sweep is the exhaustive version that found the
round-4 latent bugs (q_ts_gapfill / q_ts_interpolate hourly grids and
q_analytics_promo's ship_month — all date_trunc's session-tz TIMESTAMP
return rendering offset-shifted under a non-UTC session, invisible to
any UTC parity run).

Usage: python tests/run_hostile_sweep.py [--sf=DIR]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf = "/root/testdata/sf0.001"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf = a.split("=", 1)[1]

    from hcls_data_lake_spark import registry
    from hcls_data_lake_spark.session import get_spark
    from tests.parity import compare

    spark = get_spark("hostile-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.conf.set("spark.sql.shuffle.partitions", "200")

    qs = registry.queries()
    oracles = registry.oracle_sql()
    bad: list[tuple[str, str]] = []
    for i, name in enumerate(qs):
        oracle = oracles.get(name)
        try:
            if oracle is None:
                qs[name](s, sf).count()
                ok, msg = True, None
            else:
                ok, msg = compare(s, sf, name, qs[name], oracle)
        except Exception as ex:  # noqa: BLE001 - report, don't abort
            ok, msg = False, str(ex)[:200]
        if not ok:
            bad.append((name, (msg or "")[:200]))
        if (i + 1) % 40 == 0:
            print(f"progress {i + 1}/{len(qs)}", flush=True)
    # the sibling session inherits the posture marker, so no query may
    # have reset the hostile parallelism
    sp = s.conf.get("spark.sql.shuffle.partitions")
    if sp != "200":
        bad.append(("<session>", f"shuffle.partitions reset to {sp}"))
    print(f"checked {len(qs)}")
    for name, msg in bad:
        print(f"FAIL {name}: {msg}")
    print(f"{len(qs) - len(bad)} ok, {len(bad)} failed")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

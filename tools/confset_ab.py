"""Interleaved A/B of a SET of runtime confs (JSON dicts) over queries.

Usage:
    python tools/confset_ab.py '{"k":"v",...}' '{"k":"v",...}' [--reps N] q [q ...]

A single-conf A/B is a one-key dict per arm, e.g.
    python tools/confset_ab.py '{"spark.sql.shuffle.partitions":"32"}' \
        '{"spark.sql.shuffle.partitions":"64"}' q1 q2
A key missing from one arm keeps the session's default in that arm.

Each rep runs every query twice — once under A, once under B, back to
back — so a host-noise window inflates both arms almost equally. Prints
per-query {A_min, B_min, ratio} and the total ratio.

NOTE: CATALOG[name].fn(...) is called INSIDE the timed, conf-applied
window — deliberately. Operators run eager localCheckpoint jobs at
DataFrame-construction time, so construction must stay inside the
interval (and after the conf set) or checkpoint work would be timed
under the wrong arm. Do not hoist query construction out of the loop.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_weather_data_pipeline_for_philippine_cities_spark.plans.catalog import (  # noqa: E402
    CATALOG,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.session import (  # noqa: E402
    get_spark,
)


def main() -> None:
    set_a = json.loads(sys.argv[1])
    set_b = json.loads(sys.argv[2])
    rest = sys.argv[3:]
    reps = 3
    names: list[str] = []
    i = 0
    while i < len(rest):
        if rest[i] == "--reps":
            reps = int(rest[i + 1])
            i += 2
        else:
            names.append(rest[i])
            i += 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("rtw-confset-ab")
    spark.sparkContext.setLogLevel("ERROR")
    keys = sorted(set(set_a) | set(set_b))
    defaults = {k: spark.conf.get(k, None) for k in keys}

    def apply(cset):
        for k in keys:
            v = cset.get(k, defaults[k])
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    force(CATALOG["flagship_latest_obs"].fn(spark, sf_dir))
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm_py(x):  # type: ignore[no-untyped-def]
        import numpy as np  # noqa: F401

        return x * 1.0

    force(spark.range(0, 32, 1, 32).select(_warm_py("id")))

    t = {n: {"A": [], "B": []} for n in names}
    for _ in range(reps):
        for name in names:
            for arm, cset in (("A", set_a), ("B", set_b)):
                apply(cset)
                t0 = time.perf_counter()
                force(CATALOG[name].fn(spark, sf_dir))
                t[name][arm].append(time.perf_counter() - t0)
                spark.catalog.clearCache()
    out = {}
    ta = tb = 0.0
    for n in names:
        a, b = min(t[n]["A"]), min(t[n]["B"])
        ta += a
        tb += b
        out[n] = {"A_min": round(a, 3), "B_min": round(b, 3), "B/A": round(b / a, 3)}
    print(
        json.dumps(
            {
                "A": set_a,
                "B": set_b,
                "queries": out,
                "total_A": round(ta, 3),
                "total_B": round(tb, 3),
                "total_B/A": round(tb / ta, 3),
                "loadavg": round(os.getloadavg()[0], 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

"""Isolated per-query timing probe for optimization A/B runs.

Usage:
    python tools/opt_probe.py [--conf k=v ...] [--reps N] query [query ...]

Runs each query against $SPARK_GRAFT_SF_DIR (default sf0.1) through the
noop sink, interleaved reps (default 3), prints one JSON line
{"confs": {...}, "queries": {name: {"min":..,"max":..}}, "loadavg": ..}.
Fresh process per invocation = honest cold/warm structure; compare
minima across invocations on the same host window.

NOTE: query construction (CATALOG[name].fn) runs eager localCheckpoint
jobs and must stay inside the timed window — see confset_ab.py.
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
    args = sys.argv[1:]
    confs: dict[str, str] = {}
    reps = 3
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--conf":
            k, v = args[i + 1].split("=", 1)
            confs[k] = v
            i += 2
        elif args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("rtw-opt-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in confs.items():
        spark.conf.set(k, v)

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    # same warmups as bench.py (JIT + Python worker pool)
    force(CATALOG["flagship_latest_obs"].fn(spark, sf_dir))
    warm = spark.range(0, 200_000, 1, 8).selectExpr(
        "aggregate(transform(sequence(0, 9), i -> "
        "CAST(conv(substring(md5(CAST(id + i AS STRING)), 1, 7), 16, 10) AS LONG)),"
        " CAST(0 AS LONG), (a, x) -> a + x) AS s"
    )
    force(warm)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm_py(x):  # type: ignore[no-untyped-def]
        import numpy as np  # noqa: F401

        return x * 1.0

    force(spark.range(0, 32, 1, 32).select(_warm_py("id")))

    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"opt-probe:{name}")
            t0 = time.perf_counter()
            force(CATALOG[name].fn(spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
    out = {
        "confs": confs,
        "sf_dir": sf_dir,
        "reps": reps,
        "queries": {
            n: {"min": round(min(s), 3), "max": round(max(s), 3)}
            for n, s in samples.items()
        },
        "loadavg": round(os.getloadavg()[0], 2),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

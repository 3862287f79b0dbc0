"""Constants and process environment shared by the benchmark scripts."""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))


def prepare_env() -> None:
    """Pin UTC (collected timestamps are rendered in the process zone) and
    make the package and these modules importable here and in Spark's
    Python workers."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, *[p for p in paths if p not in (ROOT, HERE)]]
    )

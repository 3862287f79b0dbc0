"""Deterministic input generators for the benchmark.

* ``Psgc`` — PSGC-shaped city/province payloads with per-refresh name drift,
  landed as JSON arrays like the reference's API snapshots.
* ``stream_frames`` / ``land_chunks`` — seeded events/documents split into
  time-ordered single-file parquet chunks for the file stream source.

Everything here is numpy + pyarrow: no Spark, so set-up cost is the
generator's, not the engine's.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small big customer query filter "
    "stream group"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

_T0_US = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
_MONTH_US = 30 * 86_400 * 1_000_000


def _documents(n: int, rng) -> pa.Table:
    """Word-soup documents over a 30-word vocabulary; one in ten is a
    near-duplicate (1-3 word edits) of an earlier document and a few are
    exact copies, so the dedup surface has real work."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words))
        elif i > 20 and rng.random() < 0.004:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in ids],
        }
    )


def _events(n: int, rng, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, _MONTH_US, n)) + _T0_US
    heavy = rng.random(n) < 0.01
    value = np.round(np.where(heavy, rng.gamma(2.0, 120.0, n), rng.gamma(2.0, 5.0, n)), 2)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n).tolist(),
            "value": value,
        }
    )


# --------------------------------------------------------------------------
# PSGC-shaped landing for the refresh workload
# --------------------------------------------------------------------------
_ISLANDS = ["luzon", "visayas", "mindanao"]
_PREFIXES = ["City of ", "Municipality of ", ""]


class Psgc:
    """Seeded city/province payloads; ``drift()`` renames ``drift`` of the
    cities so each refresh sees a known number of changed rows."""

    def __init__(self, n_cities: int, n_provinces: int, seed: int, drift: float):
        self.rng = np.random.default_rng(seed)
        self.n_drift = max(1, int(round(n_cities * drift)))
        self.provinces = [
            {
                "code": f"{(p + 1) * 100:04d}00000",
                "name": f"Province {p:02d}",
                "regionCode": f"{p % 17 + 1:02d}",
                "islandGroupCode": _ISLANDS[p % 3],
                "psgc10DigitCode": f"0{(p + 1) * 100:04d}00000",
            }
            for p in range(n_provinces)
        ]
        prov = self.rng.integers(0, n_provinces, n_cities)
        self.cities = []
        for i in range(n_cities):
            p = self.provinces[prov[i]]
            self.cities.append(
                {
                    "code": f"{p['code'][:4]}{i:05d}",
                    "name": f"{_PREFIXES[i % 3]}Town {i:05d}",
                    "oldName": f"Old Town {i:05d}" if i % 50 == 0 else None,
                    "isCapital": i % 97 == 0,
                    "provinceCode": p["code"],
                    "districtCode": "0",
                    "regionCode": p["regionCode"],
                    "islandGroupCode": p["islandGroupCode"],
                    "psgc10DigitCode": f"0{p['code'][:4]}{i:05d}",
                }
            )
        self.version = 0

    def drift(self) -> int:
        """Rename ``n_drift`` distinct cities; returns how many changed."""
        self.version += 1
        for i in self.rng.choice(len(self.cities), self.n_drift, replace=False):
            stem = self.cities[i]["name"].split(" r", 1)[0]
            self.cities[i]["name"] = f"{stem} r{self.version}"
        return self.n_drift

    def land(self, root: str) -> tuple[str, str]:
        """Write the current payloads as one JSON array file each."""
        cdir, pdir = os.path.join(root, "cities"), os.path.join(root, "provinces")
        for d, rows in ((cdir, self.cities), (pdir, self.provinces)):
            os.makedirs(d, exist_ok=True)
            for f in os.listdir(d):
                os.remove(os.path.join(d, f))
            with open(os.path.join(d, "payload.json"), "w") as fh:
                json.dump(rows, fh)
        return cdir, pdir


def _h(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")


def fake_geocoder(row: dict) -> dict:
    """Zero-latency deterministic geocoder: coordinates from the name."""
    h = _h(row["name"])
    return {"latitude": 5.0 + (h % 1400) / 100.0, "longitude": 117.0 + (h >> 20) % 900 / 100.0}


def fake_weather(row: dict) -> dict:
    """Zero-latency deterministic weather payload in the API's JSON shape."""
    h = _h(row["location_name"])
    payload = {
        "weather": [{"main": "Clouds", "description": "scattered clouds"}],
        "main": {
            "temp": 20.0 + h % 150 / 10.0,
            "feels_like": 22.0 + h % 130 / 10.0,
            "temp_min": 19.0,
            "temp_max": 36.0,
            "pressure": 1000 + h % 20,
            "humidity": 50 + h % 50,
        },
        "wind": {"speed": h % 90 / 10.0, "deg": h % 360},
        "clouds": {"all": h % 100},
        "visibility": 10000,
        "sys": {"sunrise": 1700000000, "sunset": 1700042000},
    }
    if h % 3 == 0:
        payload["rain"] = {"1h": h % 40 / 10.0}
    return {"weather_json": json.dumps(payload)}


# --------------------------------------------------------------------------
# Stream landing
# --------------------------------------------------------------------------
SENTINEL_TS = np.datetime64("2099-01-01T00:00:00", "us")
SENTINEL_ID = 10**9


def stream_frames(seed: int, n_events: int, n_docs: int) -> tuple[pa.Table, pa.Table]:
    """Seeded events (without the sentinel) and documents with ingest_ts."""
    rng = np.random.default_rng(seed)
    ev = _events(n_events, rng, max(10, n_events // 67))
    docs = _documents(n_docs, rng)
    ingest = (_T0_US + (docs["doc_id"].to_numpy() % 3600) * 1_000_000).astype("datetime64[us]")
    return ev, docs.append_column("ingest_ts", pa.array(ingest))


def sentinel_events() -> pa.Table:
    """One far-future row that advances the watermark past the last real
    window so append-mode sinks flush."""
    return pa.table(
        {
            "event_id": np.array([SENTINEL_ID], dtype=np.int64),
            "ts": np.array([SENTINEL_TS]),
            "user_id": np.array([SENTINEL_ID], dtype=np.int64),
            "event_type": ["zz_sentinel"],
            "value": np.array([0.0]),
        }
    )


def land_chunks(tbl: pa.Table, root: str, n_chunks: int, extra: pa.Table | None = None) -> str:
    """Split ``tbl`` row-order-wise into ``n_chunks`` single-file parquet
    chunks (plus ``extra`` as a last chunk) with strictly ascending mtimes,
    the order the file stream source admits them in."""
    os.makedirs(root, exist_ok=True)
    bounds = np.linspace(0, tbl.num_rows, n_chunks + 1).astype(int)
    parts = [tbl.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]
    if extra is not None:
        parts.append(extra)
    for i, part in enumerate(parts):
        path = os.path.join(root, f"chunk-{i:04d}.parquet")
        pq.write_table(part, path)
        t = 1_700_000_000 + 10 * i
        os.utime(path, (t, t))
    return root

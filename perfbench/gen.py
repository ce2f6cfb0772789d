"""Seeded input generators, in plain Python: the program under test only
ever sees what these produce (payload files and dicts, a request schedule,
a query order). The same seed always gives the same inputs.

Payloads are Open-Meteo archive-shaped (struct-of-arrays ``hourly`` block
over the program's own measure list, ``pipeline.schemas.HOURLY_VARS``),
with about 2 % nulls on each measure. Values carry at most one decimal so the decimal
monthly aggregate the warehouse computes can be replayed exactly here.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random

from weather_database_system_spark.pipeline.schemas import HOURLY_VARS

NULL_RATE = 0.02


def cities(seed: int, n: int) -> list[dict]:
    """``n`` cities with distinct, seeded coordinates (4 decimals, so the
    float repr in shard file names is stable)."""
    rng = random.Random(f"cities-{seed}")
    out = []
    for i in range(n):
        out.append(
            {
                "city": f"City{i:02d}",
                "state": rng.choice(("CA", "NV", "OR", "AZ")),
                "latitude": round(32.0 + i * 0.5 + rng.uniform(0.0, 0.4), 4),
                "longitude": round(-124.0 + rng.uniform(0.0, 10.0), 4),
            }
        )
    return out


def _hour_values(rng: random.Random, day_of_year: int, hour: int, base: float) -> dict:
    season = 10.0 * math.sin(2 * math.pi * (day_of_year - 110) / 365.0)
    diurnal = 6.0 * math.sin(2 * math.pi * (hour - 9) / 24.0)
    vals = {
        "temperature_2m": round(base + season + diurnal + rng.uniform(-3, 3), 1),
        "relative_humidity_2m": round(rng.uniform(10, 100), 1),
        "precipitation": 0.0 if rng.random() < 0.85 else round(rng.uniform(0.1, 8.0), 1),
        "wind_speed_10m": round(rng.uniform(0, 15), 1),
        "wind_gusts_10m": round(rng.uniform(0, 25), 1),
    }
    for k in vals:
        if rng.random() < NULL_RATE:
            vals[k] = None
    return vals


def payload(seed: int, city: dict, start: str, days: int, tag: str = "") -> dict:
    """One archive payload for ``city`` covering ``days`` days from
    ``start`` (hourly). Deterministic in (seed, city, start, days, tag)."""
    rng = random.Random(f"payload-{seed}-{city['city']}-{start}-{days}-{tag}")
    base = 12.0 + (city["latitude"] - 32.0) * -0.8
    t0 = dt.datetime.fromisoformat(start)
    hourly: dict[str, list] = {"time": []}
    for v in HOURLY_VARS:
        hourly[v] = []
    for h in range(days * 24):
        ts = t0 + dt.timedelta(hours=h)
        hourly["time"].append(ts.strftime("%Y-%m-%dT%H:%M"))
        vals = _hour_values(rng, ts.timetuple().tm_yday, ts.hour, base)
        for v in HOURLY_VARS:
            hourly[v].append(vals[v])
    return {
        "latitude": city["latitude"],
        "longitude": city["longitude"],
        "timezone": "America/Los_Angeles",
        "hourly": hourly,
    }


def write_shards(
    out_dir: str, seed: int, city: dict, start: str, days: int, shard_days: int
) -> list[dict]:
    """Write one payload file per fetch window of the ``observation_feed``
    source, under the name it resolves (``{lat}_{lon}_{start}_{end}.json``,
    windows from its own ``shard_ranges``). Returns the shard payloads."""
    from weather_database_system_spark.sources.observation_feed import shard_ranges

    end = (dt.date.fromisoformat(start) + dt.timedelta(days=days - 1)).isoformat()
    os.makedirs(out_dir, exist_ok=True)
    shards = []
    for a, b in shard_ranges(start, end, shard_days):
        n = (dt.date.fromisoformat(b) - dt.date.fromisoformat(a)).days + 1
        p = payload(seed, city, a, n)
        name = f"{city['latitude']}_{city['longitude']}_{a}_{b}.json"
        with open(os.path.join(out_dir, name), "w", encoding="utf-8") as fh:
            json.dump(p, fh)
        shards.append(p)
    return shards


# --- lake_queries -------------------------------------------------------------

def query_order(seed: int, names: list[str]) -> list[str]:
    """The seeded permutation of the query list."""
    order = list(names)
    random.Random(f"lake-{seed}").shuffle(order)
    return order


# --- serve_mixed ----------------------------------------------------------------

def zipf_weights(n: int, s: float) -> list[float]:
    w = [1.0 / (r + 1) ** s for r in range(n)]
    total = sum(w)
    return [x / total for x in w]


def city_mix(seed: int, names: list[str], s: float, n_expired: int, n_missing: int) -> dict:
    """Seeded popularity ranking of ``names`` with Zipf(s) weights. The
    least popular ``n_expired + n_missing`` cities get an expired or no
    snapshot; the rest are fresh. Assignment is by rank, so the share of
    fallback traffic is the same for every seed."""
    ranked = list(names)
    random.Random(f"mix-{seed}").shuffle(ranked)
    weights = zipf_weights(len(ranked), s)
    state = {}
    n = len(ranked)
    for r, name in enumerate(ranked):
        if r >= n - n_missing:
            state[name] = "missing"
        elif r >= n - n_missing - n_expired:
            state[name] = "expired"
        else:
            state[name] = "fresh"
    return {"ranked": ranked, "weights": dict(zip(ranked, weights)), "state": state}


def _apportion(total: int, weights: dict[str, float]) -> dict[str, int]:
    """Largest-remainder split of ``total`` requests by weight: the count
    per city is fixed by the weights, not sampled."""
    raw = {k: total * w for k, w in weights.items()}
    counts = {k: int(v) for k, v in raw.items()}
    rest = total - sum(counts.values())
    for k in sorted(raw, key=lambda k: raw[k] - counts[k], reverse=True)[:rest]:
        counts[k] += 1
    return counts


def schedule(seed: int, mix: dict, rate: float, seconds: float, sync_every: float) -> list[dict]:
    """Open-loop request schedule: ``rate * seconds`` monthly reads sent
    at a constant rate, the per-city counts fixed by the Zipf weights and
    their order shuffled by the seed; plus a ``POST /api/sync-now`` on a
    seeded popular fresh city every ``sync_every`` seconds. Each entry:
    ``{"due": offset_s, "kind": "get"|"sync", "city": name}``."""
    rng = random.Random(f"sched-{seed}")
    n = int(round(rate * seconds))
    counts = _apportion(n, mix["weights"])
    cities_seq = [c for c, k in counts.items() for _ in range(k)]
    rng.shuffle(cities_seq)
    out = [
        {"due": (i + 0.5) / rate, "kind": "get", "city": city}
        for i, city in enumerate(cities_seq)
    ]
    popular = [c for c in mix["ranked"] if mix["state"][c] == "fresh"][:3]
    k = 1
    while k * sync_every < seconds:
        out.append({"due": k * sync_every, "kind": "sync", "city": rng.choice(popular)})
        k += 1
    out.sort(key=lambda e: e["due"])
    return out

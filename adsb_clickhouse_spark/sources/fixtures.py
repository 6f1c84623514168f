"""Deterministic raw-row fixture generator.

Stands in for the reference's HTTP scrapers (adsb-scraper/scraper.py:
164-667): produces dict rows shaped exactly like the scraper output
(the raw Kafka contract, FIXTURES.md §1-4), including the documented
edge cases (FIXTURES.md §6). Seeded — same args, same rows.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession

from ..config import GLOBAL_OPENSKY, SourceConfig
from ..schemas import raw_schema
from ..session import local_frame

_BASE = datetime(2026, 1, 15, 12, 0, 0)


def _rand_row(cfg: SourceConfig, rng: random.Random, icao: str, ts: datetime) -> dict:
    row: dict = {}
    for col in cfg.columns:
        k, r = col.kind, col.raw
        if r == cfg.raw_key:
            row[r] = icao
        elif k in ("id_norm", "id_norm_upper", "str"):
            row[r] = rng.choice([None, f"{r}_{rng.randrange(100)}"])
        elif k == "lat":
            row[r] = round(rng.uniform(-80, 80), 6)
        elif k == "lon":
            row[r] = round(rng.uniform(-170, 170), 6)
        elif k == "alt_baro_mixed":
            row[r] = rng.choice([None, "ground", str(rng.randrange(0, 45000))])
        elif k == "opensky_alt_baro":
            row[r] = rng.choice([None, round(rng.uniform(0, 13000), 1)])
        elif k == "i32":
            row[r] = rng.choice([None, rng.randrange(-100, 45000)])
        elif k in ("f32", "f32_zero", "ms_to_kn", "ms_to_fpm", "m_to_ft"):
            row[r] = rng.choice([None, round(rng.uniform(0, 600), 2)])
        elif k == "f64":
            row[r] = rng.choice([None, round(rng.uniform(-90, 90), 6)])
        elif k == "bool":
            row[r] = rng.choice([None, True, False])
        elif k == "str_array_norm":
            row[r] = rng.choice([[], [" VNAV ", "", "ALT"], ["tcas"]])
        elif k == "int_array":
            row[r] = rng.choice([[], [rng.randrange(10)]])
        elif k == "epoch_ts":
            row[r] = rng.choice([None, int(ts.timestamp())])
        elif k == "spi_int_bool":
            row[r] = rng.choice([None, 0, 1])
        elif k == "position_source_enum":
            row[r] = rng.choice([None, 0, 1, 2, 3])
        elif k == "source":
            row[r] = {"local": "local", "regional": "airplanes.live",
                      "global_stream": "adsb.lol",
                      "global_opensky": "opensky-network.org"}[cfg.name]
        elif k == "scrape_time":
            row[r] = ts
        else:
            row[r] = None
    return row


def edge_rows(cfg: SourceConfig, now: datetime = _BASE) -> list[dict]:
    """The FIXTURES.md §6 edge cases, as raw rows for this source."""
    rng = random.Random(7)
    rows = []

    def base(icao: str, ts: datetime) -> dict:
        return _rand_row(cfg, rng, icao, ts)

    # 1. null key → dropped
    r = base("will_drop", now)
    r[cfg.raw_key] = None
    rows.append(r)
    # 2. out-of-bounds / null coords → dropped
    for lat, lon in [(None, 10.0), (91.0, 10.0), (45.0, -181.0)]:
        r = base("coord_bad", now)
        r["lat"], r["lon"] = lat, lon
        rows.append(r)
    # 4. trim+lower id normalization
    r = base("  AbCdEf  ", now)
    r["lat"], r["lon"] = 45.0, 10.0
    rows.append(r)
    if cfg is not GLOBAL_OPENSKY:
        # 3. alt_baro variants
        for ab in ["ground", None, "35000"]:
            r = base("altcase", now)
            r["lat"], r["lon"], r["alt_baro"] = 50.0, 8.0, ab
            rows.append(r)
        # 5. array normalization
        r = base("navcase", now)
        r["lat"], r["lon"], r["nav_modes"] = 50.0, 8.0, [" VNAV ", "", "ALT"]
        rows.append(r)
    else:
        # 10/11. unit conversions + enum + spi + epoch
        r = base("unitcase", now)
        r.update(lat=50.0, lon=8.0, baro_altitude=1000.0, velocity=100.0,
                 vertical_rate=5.0, position_source=2, spi=1,
                 time_position=1700000000, on_ground=False)
        rows.append(r)
        r = base("groundcase", now)
        r.update(lat=50.0, lon=8.0, baro_altitude=None, on_ground=True)
        rows.append(r)
    # 6. all-null optionals → every sentinel default
    r = base("nullcase", now)
    for col in cfg.columns:
        if col.raw not in (cfg.raw_key, "lat", "lon", "source", "scrape_time"):
            r[col.raw] = [] if col.kind in ("str_array_norm", "int_array") else None
    r["lat"], r["lon"] = 1.0, 1.0
    rows.append(r)
    # 7. three scrape_times incl. late arrival for one key
    for dt in [0, 30, 10]:
        r = base("dupkey", now - timedelta(seconds=dt))
        r["lat"], r["lon"] = 40.0, 4.0
        rows.append(r)
    # 9. stale row outside every freshness window (but in history)
    r = base("stale", now - timedelta(hours=1, minutes=30))
    r["lat"], r["lon"] = 30.0, 3.0
    rows.append(r)
    return rows


def raw_rows(
    cfg: SourceConfig,
    *,
    n_aircraft: int = 100,
    n_scrapes: int = 3,
    cadence_s: int = 10,
    now: datetime = _BASE,
    seed: int = 42,
    with_edges: bool = True,
) -> list[list]:
    """The rows of :func:`raw_batch`, in ``raw_schema(cfg)`` field order."""
    rng = random.Random(seed)
    rows: list[dict] = []
    for s in range(n_scrapes):
        ts = now - timedelta(seconds=cadence_s * (n_scrapes - 1 - s))
        for i in range(n_aircraft):
            rows.append(_rand_row(cfg, rng, f"ac{i:05x}", ts))
    if with_edges:
        rows.extend(edge_rows(cfg, now))
    names = raw_schema(cfg).fieldNames()
    return [[row.get(n) for n in names] for row in rows]


def raw_batch(spark: SparkSession, cfg: SourceConfig, **kwargs) -> DataFrame:
    """A deterministic multi-scrape raw batch for one source; ``kwargs``
    are :func:`raw_rows`'."""
    return local_frame(spark, raw_rows(cfg, **kwargs), raw_schema(cfg))

"""Seeded input generators for the benchmark.

Everything here is plain Python + numpy: no Spark session is
needed, so inputs are written once, before any timed phase, and the
program under test only ever sees the files.

``adsb_batches`` writes newline-JSON scrape batches for one source, shaped
like the scraper output (FIXTURES.md §1-4), with the §6 edge rows and a
fixed share of malformed lines. Each batch comes with the expected counts
and the per-key newest ``scrape_time`` the checks need.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

BASE_NOW = datetime(2026, 1, 15, 12, 0, 0)
TS_FMT = "%Y-%m-%d %H:%M:%S"

_SOURCE_NAMES = {
    "local": "local",
    "regional": "airplanes.live",
    "global_stream": "adsb.lol",
    "global_opensky": "opensky-network.org",
}


@dataclass
class Batch:
    """One generated batch file plus what the generator knows about it."""

    path: str
    now: datetime
    lines: int
    malformed: int
    valid_rows: int
    newest_scrape: datetime
    # normalised key -> (newest scrape_time among this batch's valid
    # rows, whether a row at that time has ground_speed > 0)
    key_newest: dict[str, tuple[datetime, bool]] = field(repr=False)
    # scrape_time -> number of valid rows carrying it
    rows_at: dict[datetime, int] = field(repr=False)


def _fmt(ts: datetime) -> str:
    return ts.strftime(TS_FMT)


def _column_values(kind: str, raw: str, n: int, rng: np.random.Generator) -> list:
    """JSON-ready values for one column of ``n`` fleet rows (None = null)."""
    nulls = rng.random(n) < 0.1
    if kind in ("id_norm", "id_norm_upper", "str"):
        vals = [f"{raw}_{v}" for v in rng.integers(0, 100, n)]
    elif kind == "alt_baro_mixed":
        alt = rng.integers(0, 45000, n)
        ground = rng.random(n) < 0.05
        vals = ["ground" if g else str(a) for g, a in zip(ground, alt)]
    elif kind == "i32":
        vals = rng.integers(-100, 45000, n).tolist()
    elif kind in ("f32", "f32_zero"):
        vals = np.round(rng.uniform(0, 600, n), 2).tolist()
    elif kind == "f64":
        vals = np.round(rng.uniform(-90, 90, n), 6).tolist()
    elif kind == "bool":
        vals = (rng.random(n) < 0.5).tolist()
    elif kind == "str_array_norm":
        choices = ([], [" VNAV ", "", "ALT"], ["tcas"])
        vals = [choices[i] for i in rng.integers(0, 3, n)]
        nulls = np.zeros(n, dtype=bool)
    else:
        vals = [None] * n
    return [None if z else v for z, v in zip(nulls, vals)]


_VARIANTS = 4             # payload variants per aircraft
_MALFORMED_SHARE = 0.005  # malformed lines per well-formed line


class Fleet:
    """A fixed fleet of aircraft flying straight lines that wrap every
    hour. Each aircraft carries ``_VARIANTS`` pre-serialised payloads for
    the columns that are not position or metadata, so a scrape only
    formats the key, position and timestamp of each row."""

    def __init__(self, cfg, n_aircraft: int, seed: int):
        self.cfg = cfg
        rng = np.random.default_rng(seed)
        ids = rng.choice(1 << 24, size=n_aircraft + 1, replace=False)
        ids = ids[ids != 0xABCDEF][:n_aircraft]  # keep clear of the edge-row key
        self.keys = [f"{int(i):06x}" for i in ids]
        self.lat0 = rng.uniform(-60, 60, n_aircraft)
        self.lon0 = rng.uniform(-160, 160, n_aircraft)
        self.dlat = rng.uniform(-0.002, 0.002, n_aircraft)  # deg per second
        self.dlon = rng.uniform(-0.005, 0.005, n_aircraft)
        self.gs = np.round(rng.uniform(60, 560, n_aircraft), 1)
        skip = {cfg.raw_key, "lat", "lon", "gs", "source", "scrape_time"}
        self.payloads = []
        for _ in range(_VARIANTS):
            cols = {c.raw: _column_values(c.kind, c.raw, n_aircraft, rng)
                    for c in cfg.columns if c.raw not in skip}
            self.payloads.append([
                json.dumps({k: v[i] for k, v in cols.items()}, separators=(",", ":"))[1:-1]
                for i in range(n_aircraft)
            ])
        self.source = _SOURCE_NAMES[cfg.name]

    def scrape(self, ts: datetime, index: int) -> list[str]:
        """One scrape of the whole fleet as JSON lines."""
        dt = (ts - BASE_NOW).total_seconds() % 3600.0
        lat = np.round(self.lat0 + self.dlat * dt, 6).tolist()
        lon = np.round(self.lon0 + self.dlon * dt, 6).tolist()
        head = f'"source":"{self.source}","scrape_time":"{_fmt(ts)}"'
        k = self.cfg.raw_key
        nv = len(self.payloads)
        return [
            f'{{"{k}":"{key}","lat":{la!r},"lon":{lo!r},"gs":{g!r},{head},'
            f"{self.payloads[(i + index) % nv][i]}}}"
            for i, (key, la, lo, g) in enumerate(zip(self.keys, lat, lon, self.gs.tolist()))
        ]


def edge_rows(cfg, now: datetime) -> tuple[list[dict], list[tuple[str, datetime, bool]]]:
    """FIXTURES.md §6 cases 1-9 for a non-opensky source, and the
    (normalised key, scrape_time, moving) of each row that must survive
    cleansing."""
    src = _SOURCE_NAMES[cfg.name]

    def row(key, ts, **kw):
        r = {cfg.raw_key: key, "source": src, "scrape_time": _fmt(ts), "gs": 120.0}
        r.update(kw)
        return r

    rows = [
        row(None, now, lat=10.0, lon=10.0),                 # 1 null key
        row("coord_bad", now, lat=None, lon=10.0),          # 2 bad coords
        row("coord_bad", now, lat=91.0, lon=10.0),
        row("coord_bad", now, lat=45.0, lon=-181.0),
        row("  AbCdEf  ", now, lat=45.0, lon=10.0),         # 4 trim+lower
        row("altcase", now, lat=50.0, lon=8.0, alt_baro="ground"),  # 3 alt_baro
        row("altcase", now, lat=50.0, lon=8.0, alt_baro=None),
        row("altcase", now, lat=50.0, lon=8.0, alt_baro="35000"),
        row("navcase", now, lat=50.0, lon=8.0, nav_modes=[" VNAV ", "", "ALT"]),  # 5
        row("nullcase", now, lat=1.0, lon=1.0, gs=None),    # 6 all-null optionals
        row("dupkey", now, lat=40.0, lon=4.0),              # 7 late arrival
        row("dupkey", now - timedelta(seconds=30), lat=40.0, lon=4.0),
        row("dupkey", now - timedelta(seconds=10), lat=40.0, lon=4.0),
        row("tiekey", now, lat=41.0, lon=4.0, squawk="1000"),  # 8 same-ts tie
        row("tiekey", now, lat=41.0, lon=4.0, squawk="2000"),
        row("stale", now - timedelta(hours=1, minutes=30), lat=30.0, lon=3.0),  # 9
    ]
    survivors = []
    for r in rows:
        k, lat, lon = r[cfg.raw_key], r.get("lat"), r.get("lon")
        if k is None or lat is None or lon is None or not (-90 <= lat <= 90) or not (-180 <= lon <= 180):
            continue
        ts = datetime.strptime(r["scrape_time"], TS_FMT)
        survivors.append((k.strip().lower(), ts, (r.get("gs") or 0) > 0))
    return rows, survivors


_MALFORMED = (
    '{"hex": "deadbe", "lat": 1.0, "lon"',   # truncated object
    "{this is not json",
    "<html>502 Bad Gateway</html>",
)


def adsb_batches(
    cfg,
    out_dir: str,
    *,
    seed: int,
    n_batches: int,
    n_aircraft: int,
    scrapes_per_batch: int,
    cadence_s: int,
    start: datetime = BASE_NOW,
) -> list[Batch]:
    """Write ``n_batches`` newline-JSON files, each holding
    ``scrapes_per_batch`` whole fleet scrapes ``cadence_s`` apart, the
    edge rows and malformed lines. Batch ``b``'s logical ``now`` is its
    newest scrape time, so the clock advances at the poll cadence."""
    os.makedirs(out_dir, exist_ok=True)
    fleet = Fleet(cfg, n_aircraft, seed)
    rng = np.random.default_rng(seed + 1)
    out = []
    for b in range(n_batches):
        now = start + timedelta(seconds=cadence_s * scrapes_per_batch * (b + 1))
        lines, key_ts = [], []
        for s in range(scrapes_per_batch):
            ts = now - timedelta(seconds=cadence_s * (scrapes_per_batch - 1 - s))
            lines += fleet.scrape(ts, b * scrapes_per_batch + s)
            key_ts += [(k, ts, True) for k in fleet.keys]
        e_rows, e_keys = edge_rows(cfg, now)
        lines += [json.dumps(r, separators=(",", ":")) for r in e_rows]
        key_ts += e_keys
        n_bad = max(1, int(round(len(lines) * _MALFORMED_SHARE)))
        for j, pos in enumerate(sorted(rng.choice(len(lines) + n_bad, n_bad, replace=False))):
            lines.insert(int(pos), _MALFORMED[j % len(_MALFORMED)])
        bdir = os.path.join(out_dir, f"batch_{b:05d}")
        os.makedirs(bdir, exist_ok=True)
        with open(os.path.join(bdir, "part-0.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
        key_newest: dict[str, tuple[datetime, bool]] = {}
        rows_at: dict[datetime, int] = {}
        for k, ts, moving in key_ts:
            prev = key_newest.get(k)
            if prev is None or prev[0] < ts:
                key_newest[k] = (ts, moving)
            elif prev[0] == ts:
                key_newest[k] = (ts, prev[1] or moving)
            rows_at[ts] = rows_at.get(ts, 0) + 1
        out.append(
            Batch(
                path=bdir,
                now=now,
                lines=len(lines),
                malformed=n_bad,
                valid_rows=len(key_ts),
                newest_scrape=max(rows_at),
                key_newest=key_newest,
                rows_at=rows_at,
            )
        )
    return out

"""Seeded fake Wistia API and the independent gold reference.

The pipeline workloads drive ``pipeline.BatchPipeline`` against this feed:
a paginated events endpoint (the transport) plus a metadata callable. The
feed owns every event it ever served, so the gold gate can recompute
``media_daily_agg`` from the generator's own rows with DuckDB, without
going through any engine code.

Invariants the workloads rely on:

- the same seed gives the same media, volumes, events and tick deltas;
- metadata ``updated`` stamps strictly increase in ISO string order, so
  every bump is a change that ``watermark.decide`` sees (a non-monotone
  stamp makes it skip the tick and leaves gold short);
- a small share of events is re-sent verbatim on a later page, so silver's
  ``event_key`` dedup has work to do; the reference dedups the same way.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import time
from statistics import NormalDist

import duckdb
import numpy as np
import pyarrow as pa

_BASE = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
_STAMP_BASE = dt.datetime(2026, 3, 1, tzinfo=dt.timezone.utc)
_RESEND_SHARE = 0.02

_BROWSERS = ["Chrome", "Firefox", "Safari", "Edge"]
_PLATFORMS = ["Windows", "Mac", "Linux", "iOS", "Android"]
_PLACES = [
    ("US", "California", "San Francisco", 37.7749, -122.4194),
    ("US", "New York", "New York", 40.7128, -74.006),
    ("GB", "England", "London", 51.5072, -0.1276),
    ("DE", "Berlin", "Berlin", 52.52, 13.405),
    ("IN", "Karnataka", "Bengaluru", 12.9716, 77.5946),
    ("BR", "Sao Paulo", "Sao Paulo", -23.5505, -46.6333),
]
_ORGS = ["Acme Corp", "Globex", "Initech", "Umbrella", None]


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


class FakeWistia:
    """A deterministic Wistia account: media, their event feeds and
    metadata. ``transport``, ``events_url`` and ``metadata`` are the three
    callables ``pipeline.WistiaApi`` takes."""

    def __init__(self, seed: int, n_media: int, mean_events: int, days: int = 30,
                 per_page: int = 50):
        self.rng = np.random.default_rng(seed)
        self.per_page = per_page
        self.media_ids = [f"m{seed % 1000:03d}{i:04d}x{self._hex(3)}" for i in range(n_media)]
        # Skewed volumes from a fixed lognormal profile; the seed only decides
        # which media gets which volume, so page counts and resumes, and with
        # them the work of a round, are the same for every seed.
        profile = np.exp(0.9 * np.array(
            [NormalDist().inv_cdf((i + 0.5) / n_media) for i in range(n_media)]
        ))
        counts = self.rng.permutation(
            np.maximum(5, np.round(profile / profile.sum() * n_media * mean_events)).astype(int)
        )
        # media by volume, for ticks that touch small, middle and large feeds
        self._by_volume = [self.media_ids[i] for i in np.argsort(counts, kind="stable")]
        self.n_visitors = max(50, n_media * mean_events // 15)
        self.feeds: dict[str, list[dict]] = {}
        self.meta: dict[str, dict] = {}
        self._stamp = 0
        self._seq = 0
        self._ticks = 0
        self._now = _BASE + dt.timedelta(days=days)
        for i, m in enumerate(self.media_ids):
            times = np.sort(self.rng.uniform(0, days * 86400, int(counts[i])))
            rows = [self._event(m, _BASE + dt.timedelta(seconds=float(s))) for s in times]
            resent = self.rng.choice(len(rows), round(len(rows) * _RESEND_SHARE), replace=False)
            rows.extend(dict(rows[j]) for j in sorted(resent))
            self.feeds[m] = rows
            self.meta[m] = {
                "hashed_id": m,
                "name": f"Video {i}",
                "duration": round(float(self.rng.uniform(30, 1800)), 3),
                "created": _iso(_BASE - dt.timedelta(days=int(self.rng.integers(1, 400)))),
                "updated": self._next_stamp(),
                "section": f"Section {i % 5}",
                "project": {"name": f"Project {i % 3}"},
                "thumbnail": {"url": f"https://embed.example/thumb/{m}.jpg"},
            }
        self.transport_s = 0.0

    # -- generation ------------------------------------------------------

    def _hex(self, n: int) -> str:
        return "".join(f"{b:02x}" for b in self.rng.integers(0, 256, n))

    def _next_stamp(self) -> str:
        self._stamp += 1
        return _iso(_STAMP_BASE + dt.timedelta(seconds=self._stamp))

    def _event(self, media_id: str, at: dt.datetime) -> dict:
        r = self.rng
        self._seq += 1
        country, region, city, lat, lon = _PLACES[int(r.integers(len(_PLACES)))]
        viewed = 0.0 if r.random() < 0.25 else round(float(r.random()), 4)
        return {
            "event_key": f"{media_id}.{self._seq:08d}",
            "received_at": _iso(at),
            "percent_viewed": viewed,
            "embed_url": f"https://site{int(r.integers(8))}.example/watch",
            "email": None,
            "ip": f"10.{int(r.integers(256))}.{int(r.integers(256))}.{int(r.integers(1, 255))}",
            "user_agent_details": {
                "browser": _BROWSERS[int(r.integers(len(_BROWSERS)))],
                "browser_version": str(int(r.integers(90, 130))),
                "platform": _PLATFORMS[int(r.integers(len(_PLATFORMS)))],
                "mobile": bool(r.random() < 0.4),
            },
            "visitor_key": f"v{int(r.integers(self.n_visitors)):07d}",
            "country": country,
            "region": region,
            "city": city,
            "lat": lat,
            "lon": lon,
            "org": _ORGS[int(r.integers(len(_ORGS)))],
            "media_id": media_id,
            "media_name": None,
        }

    def append(self, n_media: int, per_media: int) -> int:
        """One scheduled tick's upstream change: ``per_media`` new events
        on ``n_media`` media, each bumping its metadata ``updated``. The
        media are one per volume band, cycling through each band by volume
        rank, so tick k does the same work for every seed. Returns the
        number of new distinct events."""
        bands = np.array_split(np.array(self._by_volume), n_media)
        picked = [str(band[self._ticks % len(band)]) for band in bands]
        self._ticks += 1
        self._now += dt.timedelta(minutes=20)
        for m in picked:
            offsets = np.sort(self.rng.uniform(0, 1200, per_media))
            self.feeds[m].extend(
                self._event(m, self._now + dt.timedelta(seconds=float(s))) for s in offsets
            )
            self.meta[m] = {**self.meta[m], "updated": self._next_stamp()}
        return n_media * per_media

    # -- the API surface -------------------------------------------------

    def events_url(self, media_id: str, page: int) -> str:
        return f"bench://events/{media_id}?page={page}"

    def transport(self, url: str) -> tuple[int, bytes]:
        t0 = time.perf_counter()
        path, _, query = url.partition("?")
        media_id = path.rsplit("/", 1)[1]
        page = int(query.split("=", 1)[1])
        rows = self.feeds[media_id]
        lo = (page - 1) * self.per_page
        body = json.dumps(
            {"data": rows[lo:lo + self.per_page], "total": len(rows), "per_page": self.per_page}
        ).encode()
        self.transport_s += time.perf_counter() - t0
        return 200, body

    def metadata(self, media_id: str) -> dict:
        return dict(self.meta[media_id])

    # -- facts about the feed ----------------------------------------------

    def max_pages(self) -> int:
        return max(math.ceil(len(rows) / self.per_page) for rows in self.feeds.values())

    def distinct_events(self) -> int:
        return sum(len({r["event_key"] for r in rows}) for rows in self.feeds.values())

    def reference_rows(self, withhold: int = 0) -> tuple[pa.Table, pa.Table]:
        """(events, durations) as Arrow tables for the reference rollup;
        ``withhold`` drops that many distinct events (the gate's own test)."""
        seen: dict[str, dict] = {}
        for rows in self.feeds.values():
            for r in rows:
                seen.setdefault(r["event_key"], r)
        kept = list(seen.values())[withhold:]
        events = pa.table({
            "media_id": [r["media_id"] for r in kept],
            "dt": [r["received_at"][:10] for r in kept],
            "percent_viewed": [r["percent_viewed"] for r in kept],
            "visitor_key": [r["visitor_key"] for r in kept],
        })
        durations = pa.table({
            "media_id": list(self.meta),
            "duration": [float(m["duration"]) for m in self.meta.values()],
        })
        return events, durations


_REFERENCE_SQL = """
SELECT e.media_id, CAST(e.dt AS DATE) AS dt,
       COUNT(*) AS load_count,
       COUNT(*) FILTER (WHERE percent_viewed > 0) AS play_count,
       (COUNT(*) FILTER (WHERE percent_viewed > 0))::DOUBLE / COUNT(*) AS play_rate,
       SUM(percent_viewed * d.duration) / 3600.0 AS hours_watched,
       AVG(percent_viewed) AS engagement,
       COUNT(DISTINCT visitor_key) AS visitors
FROM events e LEFT JOIN durations d USING (media_id)
GROUP BY 1, 2
"""

_INT_COLS = ("load_count", "play_count", "visitors")
_DOUBLE_COLS = ("play_rate", "hours_watched", "engagement")


def gold_mismatches(gold_path: str, feed: FakeWistia, withhold: int = 0) -> int:
    """Compare the engine's gold table with an independent DuckDB rollup of
    the feed's distinct events. Returns the number of media whose gold rows
    differ: a missing or extra (media_id, dt) row, an integer column that
    is not equal, or a double off by more than 1e-9 relative."""
    events, durations = feed.reference_rows(withhold)
    con = duckdb.connect()
    try:
        con.register("events", events)
        con.register("durations", durations)
        cols = ("media_id", "dt") + _INT_COLS + _DOUBLE_COLS
        sel = ", ".join(cols)
        want = {(r[0], r[1]): r for r in con.execute(f"SELECT {sel} FROM ({_REFERENCE_SQL})").fetchall()}
        got = {
            (r[0], r[1]): r
            for r in con.execute(
                f"SELECT {sel} FROM read_parquet('{gold_path}/*.parquet')"
            ).fetchall()
        }
    finally:
        con.close()
    bad = {k[0] for k in want.keys() ^ got.keys()}
    n_int = len(_INT_COLS)
    for key in want.keys() & got.keys():
        w, g = want[key], got[key]
        ints_ok = w[2:2 + n_int] == g[2:2 + n_int]
        doubles_ok = all(
            a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
            for a, b in zip(w[2 + n_int:], g[2 + n_int:])
        )
        if not (ints_ok and doubles_ok):
            bad.add(key[0])
    return len(bad)

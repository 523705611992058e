"""Synthetic Wistia-shaped fixtures per FIXTURES.md, plus an
independent plain-Python golden implementation of the fact semantics
(re-derived from the reference behavior described in SURVEY.md §2.6 —
used to validate BOTH Spark implementations).

Deterministic: seeded RNG, fixed base timestamp.
"""

from __future__ import annotations

import datetime as dt
import random

UTC = dt.timezone.utc
BASE = dt.datetime(2025, 5, 1, tzinfo=UTC)
RUN_TS = dt.datetime(2025, 5, 20, 12, 0, 0, tzinfo=UTC)


def round2(x: float) -> float:
    """HALF_UP like Spark's F.round (built-in round() is banker's)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(Decimal("0.01"), ROUND_HALF_UP))


def floor2(x: float) -> float:
    """Rounded DOWN to cents, in decimal over the shortest repr."""
    from decimal import ROUND_FLOOR, Decimal

    return float(Decimal(repr(float(x))).quantize(Decimal("0.01"), ROUND_FLOOR))


def make_media(n: int = 12, seed: int = 7) -> list[dict]:
    rng = random.Random(seed)
    rows = []
    names = [
        "Launch Video FB",
        "Tutorial Youtube",
        "Plain Demo",
        "Facebook Teaser",
        "YT Short",
        "Webinar Replay",
    ]
    for i in range(n):
        duration: float | None = round(rng.uniform(30, 600), 1)
        if i == n - 1:
            duration = None  # null duration (guard :409)
        elif i == n - 2:
            duration = 0.0  # zero duration
        rows.append(
            {
                "id": 1000 + i,
                "name": names[i % len(names)] + f" {i}",
                "type": "Video",
                "archived": False,
                "created": BASE - dt.timedelta(days=30 + i),
                "updated": BASE - dt.timedelta(days=i),
                "duration": duration,
                "hashed_id": f"med{i:03d}",
                "description": None if i % 3 == 0 else f"desc {i}",
                "progress": 1.0,
                "status": "ready",
                "section": None if i % 2 == 0 else f"sec{i}",
                "thumbnail": None,
                "project": {"id": 50 + i % 3, "name": f"proj{i % 3}", "hashed_id": f"ph{i % 3}"},
                "assets": [
                    {
                        "url": f"http://a/{i}/orig",
                        "width": 1920,
                        "height": 1080,
                        "fileSize": 1_000_000 + i,
                        "contentType": "video/mp4",
                        "type": "OriginalFile",
                    },
                    {
                        "url": f"http://a/{i}/mp4",
                        "width": 640,
                        "height": 360,
                        "fileSize": 200_000 + i,
                        "contentType": "video/mp4",
                        "type": "Mp4VideoFile",
                    },
                ],
            }
        )
    return rows


def make_events(media: list[dict], seed: int = 11) -> list[dict]:
    rng = random.Random(seed)
    rows: list[dict] = []
    eid = 0

    def emit(media_id, visitor, ts, pct, name=None, ip=None, country=None, key=None):
        nonlocal eid
        eid += 1
        rows.append(
            {
                "received_at": ts,
                "event_key": key or f"ev{eid:06d}",
                "ip": ip,
                "country": country,
                "region": None,
                "city": None,
                "lat": round(rng.uniform(-60, 60), 4),
                "lon": round(rng.uniform(-120, 120), 4),
                "org": None,
                "email": None,
                "percent_viewed": pct,
                "embed_url": "http://example.com/page",
                "conversion_type": "",
                "conversion_data": {},
                "iframe_heatmap_url": None,
                "visitor_key": visitor,
                "user_agent_details": {
                    "browser": rng.choice(["Chrome", "Safari", None]),
                    "browser_version": "1.0",
                    "platform": rng.choice(["MacOS", "Windows", "iOS"]),
                    "mobile": rng.choice([True, False]),
                },
                "media_id": media_id,
                "media_name": None,
                "media_url": None,
                "thumbnail": None,
                "name": name,
            }
        )

    media_ids = [m["hashed_id"] for m in media]
    visitors = [f"vis{v:03d}" for v in range(25)]

    # organic sessions: increasing / flat / decreasing percent paths
    for g in range(120):
        mid = rng.choice(media_ids)
        vis = rng.choice(visitors)
        day = rng.randrange(0, 10)
        t = BASE + dt.timedelta(days=day, hours=rng.randrange(0, 23))
        path = rng.choice(["increase", "flat_zero", "seek", "rewind", "mixed"])
        pct = 0.0
        ip = rng.choice([None, "", f"10.0.0.{rng.randrange(1, 250)}"])
        country = rng.choice([None, "US", "DE", "BR"])
        n_ev = rng.randrange(2, 7)
        for j in range(n_ev):
            t = t + dt.timedelta(seconds=rng.randrange(1, 120))
            if path == "increase":
                pct = min(1.0, pct + rng.uniform(0.01, 0.2))
            elif path == "flat_zero":
                pct = 0.0
            elif path == "seek":
                pct = min(1.0, pct + (0.5 if j == 1 else rng.uniform(0.005, 0.05)))
            elif path == "rewind":
                pct = max(0.0, pct + rng.uniform(-0.2, 0.2))
            else:
                pct = max(0.0, min(1.0, pct + rng.uniform(-0.1, 0.25)))
            name = rng.choice([None, None, None, None, "play", "pause", "end"])
            emit(mid, vis, t, round(pct, 4), name, ip, country)

    # duplicate event_key (re-ingest overlap, +1s HWM buffer)
    dup_src = rows[5].copy()
    rows.append(dup_src)

    # equal-timestamp pair within one group (pct jump > 0.01)
    t0 = BASE + dt.timedelta(days=3, hours=5)
    emit("med001", "vis001", t0, 0.1)
    emit("med001", "vis001", t0, 0.4)

    # null-key rows (must be dropped, P4)
    emit(None, "vis002", BASE, 0.5)
    emit("med002", None, BASE, 0.5)
    emit("med002", "vis002", None, 0.5)

    # unknown media (left-join null duration)
    emit("unknown_med", "vis003", BASE + dt.timedelta(days=1), 0.7)

    # null-pct (name-only) events: must not start tracking, join the
    # credit chain, or poison max_percent_viewed
    emit("med003", "vis005", BASE + dt.timedelta(days=4), None, "play")
    emit("med003", "vis005", BASE + dt.timedelta(days=4, seconds=30), 0.2)
    emit("med003", "vis005", BASE + dt.timedelta(days=4, seconds=60), None, "pause")
    emit("med003", "vis005", BASE + dt.timedelta(days=4, seconds=90), 0.5)
    # a group whose EVERY pct is null → max_percent_viewed NULL
    emit("med004", "vis006", BASE + dt.timedelta(days=5), None, "play")
    emit("med004", "vis006", BASE + dt.timedelta(days=5, seconds=10), None, "end")

    # zero/null-duration media activity
    emit(media_ids[-1], "vis004", BASE + dt.timedelta(days=2), 0.6)
    emit(media_ids[-2], "vis004", BASE + dt.timedelta(days=2), 0.6)
    return rows


def make_nested_events(media: list[dict], seed: int = 13) -> list[dict]:
    """v0 stats-API nested shape (SURVEY §1.3 alternate mapping):
    occurred_at ISO string, media.hashed_id, visitor.key, type."""
    rng = random.Random(seed)
    media_ids = [m["hashed_id"] for m in media]
    types = ["play", "percent:0", "percent:25", "percent:50", "percent:75", "percent:100"]
    rows: list[dict] = []
    for i in range(300):
        ts = BASE + dt.timedelta(days=rng.randrange(0, 10), seconds=rng.randrange(0, 86400))
        iso = ts.isoformat().replace("+00:00", "Z") if i % 2 else ts.isoformat()
        rows.append(
            {
                "occurred_at": iso,
                "type": rng.choice(types),
                "engagement": round(rng.uniform(0, 1), 4),
                "media": {
                    "id": 1000 + media_ids.index(rng.choice(media_ids)),
                    "hashed_id": rng.choice(media_ids + ["ghost_med"]),
                    "name": None,
                },
                "visitor": {"key": rng.choice([f"vis{v:03d}" for v in range(25)] + [None])},
                "ip": rng.choice([None, "10.1.2.3"]),
                "country": rng.choice([None, "US", "FR"]),
            }
        )
    # degenerate rows the reference skips/warns on
    rows.append({**rows[0], "occurred_at": None})
    rows.append({**rows[1], "occurred_at": "not-a-timestamp"})
    rows.append({**rows[2], "media": {"id": None, "hashed_id": None, "name": None}})
    rows.append({**rows[3], "media": None})
    rows.append({**rows[4], "visitor": None})
    # percent:100 on null- and zero-duration media (no watch-time credit
    # for the null one; 0.0 credit for the zero one)
    rows.append(
        {
            "occurred_at": (BASE + dt.timedelta(days=4)).isoformat(),
            "type": "percent:100",
            "engagement": 1.0,
            "media": {"id": None, "hashed_id": media_ids[-1], "name": None},
            "visitor": {"key": "vis001"},
            "ip": None,
            "country": None,
        }
    )
    rows.append({**rows[-1], "media": {"id": None, "hashed_id": media_ids[-2], "name": None}})
    return rows


def golden_fact_v0(events: list[dict], media: list[dict]) -> list[dict]:
    """Independent plain-Python v0 semantics (one fact row per event;
    percent:100 credits the full duration) re-derived from the
    behavior notes in SURVEY §2.6 / VERDICT r01 missing-item 2."""
    durations = {m["hashed_id"]: m["duration"] for m in media}
    out: list[dict] = []
    for ev in events:
        mid = (ev.get("media") or {}).get("hashed_id")
        vis = (ev.get("visitor") or {}).get("key")
        etype = ev.get("type")
        ts = None
        if ev.get("occurred_at"):
            try:
                ts = dt.datetime.fromisoformat(ev["occurred_at"].replace("Z", "+00:00"))
            except ValueError:
                ts = None
        if ts is None or mid is None:
            continue
        watch = None
        if etype == "percent:100" and mid in durations and durations[mid] is not None:
            watch = float(durations[mid])
        out.append(
            {
                "media_hashed_id": mid,
                "event_timestamp": ts,
                "visitor_id": vis,
                "play_count": 1 if etype == "play" else None,
                "play_rate": None,
                "total_watch_time": watch,
            }
        )
    return out


# ---------------------------------------------------------------------------
# Independent golden (plain dicts → fact rows), same semantics spec
# ---------------------------------------------------------------------------


def golden_fact(
    events: list[dict],
    media: list[dict],
    run_ts: dt.datetime,
    legacy: bool = False,
) -> dict[tuple, dict]:
    durations = {m["hashed_id"]: m["duration"] for m in media}
    groups: dict[tuple, list[dict]] = {}
    for e in events:
        if e["media_id"] and e["visitor_key"] and e["received_at"]:
            key = (e["media_id"], e["visitor_key"], e["received_at"].date())
            groups.setdefault(key, []).append(e)

    out: dict[tuple, dict] = {}
    for key, evs in groups.items():
        evs = sorted(evs, key=lambda x: (x["received_at"], x["event_key"]))
        duration = durations.get(key[0])
        n_play = sum(1 for e in evs if e["name"] == "play")
        any_prog = any(
            e["percent_viewed"] is not None and e["percent_viewed"] > 0
            for e in evs
        )
        play_count = n_play if n_play > 0 else (1 if any_prog else 0)

        total = 0.0
        last_t, last_p = None, 0.0
        if duration is not None and duration > 0:
            for e in evs:
                ts, pct, name = e["received_at"], e["percent_viewed"], e["name"]
                if ts is None or pct is None:
                    continue
                if last_t is None and (pct > 0 or name == "play"):
                    last_t, last_p = ts, pct
                elif last_t is not None:
                    elapsed = (ts - last_t).total_seconds()
                    if elapsed > 0 and pct > last_p:
                        if name not in ("pause", "end"):
                            change = pct - last_p
                            expected = (change / 100.0 if legacy else change) * duration
                            total += min(elapsed, expected)
                        last_p, last_t = pct, ts
                    elif pct > last_p + 0.01:
                        last_p, last_t = pct, ts
                    elif elapsed > 0 and pct <= last_p:
                        last_p, last_t = pct, ts
        if duration is not None:
            total = min(total, duration)
        rate = 0.0
        if duration is not None and duration > 0 and total > 0:
            rate = round2(total / duration)
        if play_count == 0:
            total, rate = 0.0, 0.0

        ip = country = None
        for e in evs:
            if ip is None and e["ip"]:
                ip = e["ip"]
            if country is None and e["country"]:
                country = e["country"]
            if ip and country:
                break

        watch = round2(total)
        if duration is not None and watch > duration:
            watch = floor2(duration)  # never above the duration
        out[key] = {
            "play_count": play_count,
            "total_watch_time": watch,
            "max_percent_viewed": max(
                (e["percent_viewed"] for e in evs if e["percent_viewed"] is not None),
                default=None,
            ),
            "play_rate": rate,
            "event_timestamp": evs[0]["received_at"],
            "ip": ip,
            "country": country,
        }
    return out


CAPPED_DURATION = 307.415


def capped_rewatch(media: list[dict], events: list[dict]) -> tuple[list[dict], list[dict]]:
    """One media of 307.415 s that visitor ``vcap`` watches twice to
    90 % on one day: the credited watch time (2 × 276.67 s) clamps to
    the duration, whose half-up cents (307.42) lie above it."""
    m = dict(media[0], id=9000, hashed_id="mcap", duration=CAPPED_DURATION)
    t0 = dt.datetime(2025, 5, 3, 10, tzinfo=UTC)
    evs = []
    for i, (sec, pct, name) in enumerate(
        [(0, 0.0, "play"), (300, 0.9, None), (400, 0.0, "play"), (700, 0.9, None)]
    ):
        evs.append(
            dict(
                events[0],
                received_at=t0 + dt.timedelta(seconds=sec),
                event_key=f"cap{i}",
                media_id="mcap",
                visitor_key="vcap",
                percent_viewed=pct,
                name=name,
            )
        )
    return [m], evs

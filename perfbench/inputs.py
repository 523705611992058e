"""Inputs of the benchmark workloads.

* ELT (``make_elt``): Wistia-shaped raw events, a pure function of the
  seed, cached under ``perfbench/.cache/elt-<seed>-x<scale>-<code hash>/``
  and staged the way the reference's ingest job leaves them: one
  JSON-array file per media per scheduled run, named
  ``events_<media>_<YYYYMMDD_HHMMSS>.json``, plus one
  ``all_media_metadata_<stamp>.json`` catalog file per run. Run 0 is
  the initial load (several days), every later run is one UTC day.
  The staged events plant exact redeliveries (inside a run, and the
  previous day's tail re-sent with the next run), rows with a null
  ``media_id`` or ``visitor_key``, and events for media missing from
  the catalog. Every run also holds one fixed rewatch that does not
  depend on the seed (``_rewatch``).
* Catalogs (``catalog_data``): the fixed driver tables shipped in
  ``perfbench/data/sf<sf>/``; they do not depend on the seed.

Nothing here imports the engine: the inputs are made apart from the
program they feed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
DATA = os.path.join(HERE, "data")

# ---------------------------------------------------------------- ELT sizes
ELT_MEDIA = 12  # media in the catalog
ELT_ORPHAN_MEDIA = 2  # media with events but no catalog row
ELT_VISITORS = 600
ELT_INITIAL_DAYS = 3
ELT_INCREMENTS = 1
ELT_SESSIONS_INITIAL = 1200  # viewing sessions over the initial days
ELT_SESSIONS_PER_DAY = 300
ELT_START = dt.datetime(2025, 6, 1)
# the fixed rewatch: a media whose duration has three decimals, watched
# twice in full by one visitor on every run's first day
REWATCH_MEDIA = "mfix"
REWATCH_DURATION = 307.415
REWATCH_VISITOR = "vfix"


def catalog_data(sf: str) -> str:
    """The shipped driver tables at scale factor ``sf``."""
    return os.path.join(DATA, f"sf{sf}")


def expected_path(workload: str, seed: int, scale: float, sf: str, names: list[str]) -> tuple[str, str]:
    """(inputs directory, expected-results file) of a run, whether made
    yet or not. A catalog's results are keyed by the entry list and the
    source of the engine's ``plans`` package, where the oracle SQL
    lives."""
    if workload == "elt_incremental":
        data = cache_dir("elt", seed, scale)
        return data, os.path.join(data, f"expected-{workload}.pkl")
    h = hashlib.sha256(repr(names).encode())
    plans = os.path.join(os.path.dirname(HERE), "wistia_data_pipeline_project_spark", "plans")
    for f in sorted(os.listdir(plans)):
        if f.endswith(".py"):
            with open(os.path.join(plans, f), "rb") as fh:
                h.update(fh.read())
    return catalog_data(sf), os.path.join(CACHE, f"expected-{workload}-sf{sf}-{h.hexdigest()[:12]}.pkl")


def code_tag() -> str:
    """Short hash of this file: a changed generator never reuses a
    cache made by an older one."""
    with open(os.path.abspath(__file__), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:10]


def cache_dir(kind: str, seed: int, scale: float = 1.0) -> str:
    tag = f"{kind}-{seed}-x{scale:g}-{code_tag()}"
    return os.path.join(CACHE, tag)


def _finish(tmp: str, final: str) -> str:
    if os.path.isdir(final):  # made meanwhile by another process
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)
    return final


# ====================================================================== ELT


def _iso(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z"


def _stamp(ts: dt.datetime) -> str:
    return ts.strftime("%Y%m%d_%H%M%S")


def elt_run_ts(run: int, n_runs: int) -> dt.datetime:
    """Scheduled time of pipeline run ``run`` (0 = initial load); the
    replay is scheduled one day after the last increment."""
    day = ELT_INITIAL_DAYS + min(run, n_runs)
    return ELT_START + dt.timedelta(days=day, hours=2)


def _media_records(rng: np.random.Generator) -> list[dict]:
    words = ["Launch", "Tutorial", "Demo", "Webinar", "Teaser", "Short"]
    tags = ["FB", "Youtube", "", "Facebook", "YT", ""]
    out = []
    for i in range(ELT_MEDIA):
        created = ELT_START - dt.timedelta(days=int(rng.integers(30, 400)))
        out.append(
            {
                "id": 5000 + i,
                "name": f"{words[i % 6]} {tags[(i // 2) % 6]} {i}".replace("  ", " "),
                "type": "Video",
                "archived": False,
                "created": _iso(created),
                "updated": _iso(created + dt.timedelta(days=7)),
                "duration": round(float(rng.uniform(30.0, 900.0)), 3),
                "hashed_id": f"m{i:02d}",
                "description": None if i % 3 == 0 else f"video {i}",
                "progress": 1.0,
                "status": "ready",
                "section": None,
                "thumbnail": {
                    "url": f"https://cdn.example/{i}.jpg",
                    "width": 200,
                    "height": 120,
                    "fileSize": 9000 + i,
                    "contentType": "image/jpeg",
                    "type": "StillImageFile",
                },
                "project": {"id": 70 + i % 3, "name": f"project {i % 3}", "hashed_id": f"p{i % 3}"},
                "assets": [
                    {
                        "url": f"https://cdn.example/{i}.mp4",
                        "width": 1280,
                        "height": 720,
                        "fileSize": 4_000_000 + i,
                        "contentType": "video/mp4",
                        "type": "OriginalFile",
                    }
                ],
            }
        )
    out.append(dict(out[-1], id=5000 + ELT_MEDIA, name="Rewatch", hashed_id=REWATCH_MEDIA, duration=REWATCH_DURATION))
    return out


_COUNTRIES = ["US", "DE", "IN", "BR", "GB", "FR"]
_BROWSERS = [("Chrome", "Windows"), ("Safari", "Mac"), ("Firefox", "Linux"), ("Chrome", "Android")]


def _event(t: dt.datetime, key: str, v: int, visitor: str, media: str, pct: float, name, ip_octet: int) -> dict:
    """One raw event in the shape the Wistia stats API returns."""
    browser, platform = _BROWSERS[v % len(_BROWSERS)]
    return {
        "received_at": _iso(t),
        "event_key": key,
        "ip": f"10.{v // 250}.{v % 250}.{ip_octet}",
        "country": None if v % 17 == 0 else _COUNTRIES[v % len(_COUNTRIES)],
        "region": None,
        "city": None,
        "lat": None,
        "lon": None,
        "org": None,
        "email": None,
        "percent_viewed": round(pct, 4),
        "embed_url": f"https://site.example/page/{v % 40}",
        "conversion_type": "",
        "conversion_data": {},
        "iframe_heatmap_url": None,
        "visitor_key": visitor,
        "user_agent_details": {
            "browser": browser,
            "browser_version": "120",
            "platform": platform,
            "mobile": platform == "Android",
        },
        "media_id": media,
        "media_name": f"video {media}",
        "media_url": f"https://site.example/medias/{media}",
        "thumbnail": None,
        "name": name,
    }


def _sessions(rng, day: dt.datetime, n: int, first_key: int, media_ids, visitors) -> list[dict]:
    """``n`` viewing sessions on one UTC day; every event of a session
    shares (media, visitor) and carries rising percent_viewed."""
    events = []
    key = first_key
    # heavy-tailed media popularity and visitor activity
    m_p = 1.0 / np.arange(1, len(media_ids) + 1) ** 0.8
    m_p /= m_p.sum()
    v_p = 1.0 / np.arange(1, len(visitors) + 1) ** 0.6
    v_p /= v_p.sum()
    for _ in range(n):
        media = media_ids[int(rng.choice(len(media_ids), p=m_p))]
        v = int(rng.choice(len(visitors), p=v_p))
        n_ev = int(rng.integers(1, 7))
        t = day + dt.timedelta(seconds=float(rng.uniform(0, 86400 - 3700)))
        pct = 0.0 if rng.random() < 0.1 else float(rng.uniform(0.0, 0.2))
        for j in range(n_ev):
            if j:
                t += dt.timedelta(seconds=float(rng.uniform(2.0, 600.0)))
                pct = min(1.0, pct + float(rng.uniform(0.0, 0.35)))
            name = None
            r = rng.random()
            if j == 0 and r < 0.4:
                name = "play"
            elif r < 0.05:
                name = "pause"
            t = t.replace(microsecond=(t.microsecond // 1000) * 1000)
            events.append(_event(t, f"ek{key:07d}", v, visitors[v], media, pct, name, int(rng.integers(1, 255))))
            key += 1
    return events


def _rewatch(run: int, day: dt.datetime) -> list[dict]:
    """The fixed rewatch of run ``run``: one visitor plays the
    three-decimal-duration media twice on ``day``, each time from near 0
    to 90 %, 400 s apart. The credited watch time (2 x 0.9 x duration)
    exceeds the duration, so the fact clamps it to the duration."""
    events = []
    for j, (hour, start, end) in enumerate([(10, 0.0, 0.9), (14, 0.05, 0.95)]):
        t = day + dt.timedelta(hours=hour)
        events.append(_event(t, f"kfix-{run}-{2 * j}", 0, REWATCH_VISITOR, REWATCH_MEDIA, start, "play", 1))
        events.append(_event(t + dt.timedelta(seconds=400), f"kfix-{run}-{2 * j + 1}", 0, REWATCH_VISITOR, REWATCH_MEDIA, end, None, 1))
    return events


def make_elt(seed: int, scale: float = 1.0) -> str:
    """Stage the ELT inputs for ``seed`` (cached); returns the directory.

    Layout: ``run_<k>/`` holds run k's event files and media catalog;
    ``meta.json`` lists the runs and their scheduled timestamps."""
    final = cache_dir("elt", seed, scale)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, 17])
    media = _media_records(rng)
    media_ids = [m["hashed_id"] for m in media if m["hashed_id"] != REWATCH_MEDIA] + [f"x{i:02d}" for i in range(ELT_ORPHAN_MEDIA)]
    visitors = [f"v{seed % 1000:03d}-{i:05d}" for i in range(ELT_VISITORS)]
    n_runs = 1 + ELT_INCREMENTS
    key = 0
    prev_tail: list[dict] = []
    runs = []
    for run in range(n_runs):
        if run == 0:
            days = [ELT_START + dt.timedelta(days=d) for d in range(ELT_INITIAL_DAYS)]
            per_day = ELT_SESSIONS_INITIAL // ELT_INITIAL_DAYS
        else:
            days = [ELT_START + dt.timedelta(days=ELT_INITIAL_DAYS + run - 1)]
            per_day = ELT_SESSIONS_PER_DAY
        per_day = max(1, int(per_day * scale))
        events: list[dict] = []
        for day in days:
            new = _sessions(rng, day, per_day, key, media_ids, visitors)
            key += len(new)
            events.extend(new)
        # null keys: ~1% of rows lose media_id or visitor_key
        for e in events:
            r = rng.random()
            if r < 0.005:
                e["media_id"] = None
            elif r < 0.01:
                e["visitor_key"] = None
        valid = [e for e in events if e["media_id"] and e["visitor_key"]]
        # exact redeliveries inside the run (~2%)
        dups = [dict(valid[int(i)]) for i in rng.choice(len(valid), size=max(1, len(valid) // 50), replace=False)]
        # overlap: the previous run's last valid events are re-sent
        staged = events + dups + [dict(e) for e in prev_tail] + _rewatch(run, days[0])
        prev_tail = sorted(valid, key=lambda e: e["received_at"])[-5:]
        run_ts = elt_run_ts(run, n_runs)
        rdir = os.path.join(tmp, f"run_{run}")
        os.makedirs(rdir)
        by_media: dict[str, list[dict]] = {}
        for e in staged:
            # a null-media row rides in some media's file, as a feed
            # would deliver it
            by_media.setdefault(e["media_id"] or media_ids[len(by_media) % len(media_ids)], []).append(e)
        for m, rows in sorted(by_media.items()):
            order = rng.permutation(len(rows))
            with open(os.path.join(rdir, f"events_{m}_{_stamp(run_ts)}.json"), "w") as fh:
                json.dump([rows[int(i)] for i in order], fh)
        with open(os.path.join(rdir, f"all_media_metadata_{_stamp(run_ts)}.json"), "w") as fh:
            json.dump(media, fh)
        runs.append({"dir": f"run_{run}", "run_ts": run_ts.isoformat(), "staged_rows": len(staged)})
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump({"seed": seed, "scale": scale, "runs": runs, "media": len(media)}, fh)
    return _finish(tmp, final)

#!/usr/bin/env python3
"""Seeded raw Last.fm chart generator for the pipeline benchmark.

Writes one pretty-printed `geo.getTopTracks` document per (country, date)
under `<out>/<date>/<country>_<date>.json`, the layout `Pipeline.runDaily`
ingests. Numbers are JSON strings, as Last.fm sends them.

Usage: gen_charts.py --seed N --days D --countries C --out DIR

Properties, and why each is there (perfbench/README.md has the long form):
  - each country's chart keeps ~90% of yesterday's songs with reshuffled
    ranks, so dims grow slowly day over day as real charts do;
  - songs come from one shared catalogue, so the same (song, artist)
    charts in several countries on one date;
  - some catalogue songs have duration "0" (the imputation path);
  - some song names exist with two durations (composite dim_song key);
  - country 0's file repeats one rank every day (first-wins ODS dedup);
  - every day carries MALFORMED_DOCS undecodable documents,
    ERROR_DOCS error payloads without a track array and BAD_TRACKS
    unparseable tracks, so the quarantine path always has work and the
    expected quarantine count is known exactly.

The output is a pure function of the arguments.
"""
import argparse
import datetime
import json
import os
import random

COUNTRIES = [
    "United States", "Russian Federation", "Kazakhstan", "Germany",
    "United Kingdom", "France", "Brazil", "Japan", "Canada", "Australia",
    "Spain", "Italy", "Mexico", "Poland", "Netherlands", "Sweden",
    "Norway", "Finland", "Denmark", "Belgium", "Austria", "Switzerland",
    "Czech Republic", "Ukraine", "Turkey", "Argentina", "Chile",
    "Colombia", "Peru", "India", "Indonesia", "Philippines", "Thailand",
    "Vietnam", "Korea, Republic of", "New Zealand", "Ireland", "Portugal",
    "Greece", "Hungary", "Romania", "Bulgaria", "Serbia", "Croatia",
    "Slovakia", "Slovenia", "Lithuania", "Latvia", "Estonia", "Iceland",
]
START = datetime.date(2024, 1, 1)
MALFORMED_DOCS = 1
ERROR_DOCS = 1
BAD_TRACKS = 3
QUARANTINE_ROWS_PER_DAY = MALFORMED_DOCS + ERROR_DOCS + BAD_TRACKS
CATALOGUE = 4000
ARTISTS = 600
TRACKS = 100


def dates(days):
    return [(START + datetime.timedelta(days=i)).isoformat()
            for i in range(days)]


def catalogue(rng):
    """(name, artist, duration) per catalogue id."""
    out = []
    for i in range(CATALOGUE):
        if i % 40 == 39:
            # same name as the previous song, another duration
            name, artist, dur = out[-1]
            out.append((name, artist, dur + 17 + rng.randrange(60)))
            continue
        dur = 0 if i % 53 == 7 else 120 + rng.randrange(240)
        out.append((f"Song {i}", f"Artist {rng.randrange(ARTISTS)}", dur))
    return out


def charts(seed, days, countries):
    """Yield (date, country, [catalogue id by rank]) in date order."""
    rng = random.Random(seed)
    prev = {}
    for date in dates(days):
        for c in COUNTRIES[:countries]:
            if c not in prev:
                chart = rng.sample(range(CATALOGUE), TRACKS)
            else:
                kept = [s for s in prev[c] if rng.random() < 0.9]
                taken = set(kept)
                while len(kept) < TRACKS:
                    s = rng.randrange(CATALOGUE)
                    if s not in taken:
                        taken.add(s)
                        kept.append(s)
                rng.shuffle(kept)
                chart = kept
            prev[c] = chart
            yield date, c, chart


def track(cat, sid, rank, listeners):
    name, artist, dur = cat[sid]
    return {"name": name, "duration": str(dur), "listeners": str(listeners),
            "mbid": "", "url": "https://www.last.fm/music/x",
            "streamable": {"#text": "0", "fulltrack": "0"},
            "artist": {"name": artist, "mbid": "", "url": ""},
            "@attr": {"rank": str(rank)}}


def generate(seed, days, countries, out):
    rng = random.Random(seed * 7919 + 1)
    cat = catalogue(random.Random(seed))
    for date, c, chart in charts(seed, days, countries):
        rows = []
        for rank, sid in enumerate(chart, start=1):
            listeners = 2_000_000 // rank + rng.randrange(50_000)
            rows.append(track(cat, sid, rank, listeners))
        if c == COUNTRIES[0]:
            # a second entry for an existing rank: first wins in ODS
            rows.append(track(cat, chart[-1], 5, 12345))
        if c == COUNTRIES[1]:
            bad = [track(cat, chart[0], TRACKS + 1, 1000),
                   track(cat, chart[1], TRACKS + 2, 1000),
                   track(cat, chart[2], TRACKS + 3, 1000)]
            bad[0]["duration"] = "3:45"
            bad[1]["listeners"] = "1.2M"
            del bad[2]["@attr"]
            rows.extend(bad[:BAD_TRACKS])
        doc = {"tracks": {"track": rows,
                          "@attr": {"country": c, "page": "1",
                                    "perPage": str(TRACKS), "totalPages": "1",
                                    "total": str(len(rows))}}}
        d = os.path.join(out, date)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{c}_{date}.json"), "w") as f:
            json.dump(doc, f, indent=4)
    for date in dates(days):
        d = os.path.join(out, date)
        for i in range(MALFORMED_DOCS):
            with open(os.path.join(d, f"Atlantis{i}_{date}.json"), "w") as f:
                f.write('{\n    "tracks": {\n        "track": [\n'
                        '            {"name": "cut off')
        for i in range(ERROR_DOCS):
            with open(os.path.join(d, f"Lemuria{i}_{date}.json"), "w") as f:
                json.dump({"error": 29, "message": "Rate Limit Exceeded"},
                          f, indent=4)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--days", type=int, required=True)
    ap.add_argument("--countries", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    if not 1 <= a.countries <= len(COUNTRIES):
        ap.error(f"--countries must be 1..{len(COUNTRIES)}")
    generate(a.seed, a.days, a.countries, a.out)


if __name__ == "__main__":
    main()

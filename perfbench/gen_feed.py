#!/usr/bin/env python3
"""Seeded generator of Forem-shaped article pages for the `ingest` workload.

Layout written under <out>/<name>/ for the set-up probe (`probe`, three
history pages), each warm-up pass (`warm0`, ...) and each measured pass
(`pass0`, `pass1`, ...):

    history/page=<n>/chunk-0.json       backfill feed (pages 1..N)
    stage/c<k>/page=<n>/chunk-0.json    pages the harness appends to live/
                                        before incremental cycle k
    manifest.json                       what must land, per phase

Each page file is a pretty-printed JSON array, as the Forem API returns it.
About 30 articles per page; about 1.5% of articles have a missing, null or
garbage `published_at`; some timestamps are out of order (older than the
page's neighbours, so they land in an earlier date partition); about 1% of
pages are empty. The manifest lists the `(id, published_at)` pairs whose
timestamp parses, which are exactly the records the pipeline must land.

Usage: gen_feed.py <out> --seed S --passes P --pages N --cycles K
                   --pages-per-cycle M [--warm W]
"""
import argparse
import json
import os
import random
from datetime import datetime, timedelta, timezone

BASE = datetime(2024, 1, 1, tzinfo=timezone.utc)
PAGE_SPAN_S = 3 * 3600          # each page covers about three hours
PER_PAGE = 30                   # articles per page, on average
GARBAGE = ["not-a-date", "", "n/a", "TBD"]
WORDS = ("spark stream delta lake watermark python rust kotlin scala azure "
         "function blob storage partition query plan shuffle sort join "
         "window state cache token index vector embedding search dev api "
         "release guide tutorial deep dive notes career remote team").split()
TAGS = ["python", "javascript", "webdev", "devops", "azure", "spark",
        "rust", "go", "beginners", "tutorial", "career", "data"]


def iso(ts, rng):
    s = ts.strftime("%Y-%m-%dT%H:%M:%S")
    # Mostly the API's trailing Z; some explicit offsets exercise the
    # normalization the reference does by hand.
    return s + ("+00:00" if rng.random() < 0.2 else "Z")


def words(rng, n):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def article(rng, aid, ts):
    user = rng.randrange(1, 5000)
    title = words(rng, rng.randint(3, 9)).title()
    slug = title.lower().replace(" ", "-") + f"-{aid:x}"
    a = {
        "type_of": "article",
        "id": aid,
        "title": title,
        "description": words(rng, rng.randint(10, 24)),
        "published": True,
        "slug": slug,
        "url": f"https://dev.to/u{user}/{slug}",
        "comments_count": rng.randrange(0, 60),
        "public_reactions_count": rng.randrange(0, 400),
        "reading_time_minutes": rng.randint(1, 15),
        "tag_list": rng.sample(TAGS, 4),
        "user": {"name": f"User {user}", "username": f"u{user}",
                 "user_id": user,
                 "profile_image": f"https://media.dev.to/u{user}.png"},
        "organization": None if rng.random() < 0.7 else
        {"name": f"Org {user % 97}", "username": f"org{user % 97}"},
    }
    r = rng.random()
    if r < 0.005:
        pass                                  # published_at missing
    elif r < 0.010:
        a["published_at"] = None
    elif r < 0.015:
        a["published_at"] = rng.choice(GARBAGE)
    else:
        a["published_at"] = iso(ts, rng)
    return a


def valid(a):
    return isinstance(a.get("published_at"), str) and a["published_at"] not in GARBAGE


def page(rng, next_id, t_hi, allow_empty):
    """One page, newest first, covering (t_hi - PAGE_SPAN_S, t_hi]."""
    if allow_empty and rng.random() < 0.01:
        return [], next_id
    n = rng.randint(PER_PAGE - 5, PER_PAGE + 5)
    offs = sorted((rng.randrange(0, PAGE_SPAN_S) for _ in range(n)))
    arts = []
    for off in offs:
        ts = t_hi - timedelta(seconds=off)
        if rng.random() < 0.03:               # late / out-of-order record
            ts -= timedelta(seconds=rng.randrange(PAGE_SPAN_S, 3 * PAGE_SPAN_S))
        arts.append(article(rng, next_id, ts))
        next_id += 1
    return arts, next_id


def write_page(path, arts):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "chunk-0.json"), "w") as f:
        json.dump(arts, f, indent=2)


def landed(arts):
    return [[a["id"], a["published_at"]] for a in arts if valid(a)]


def size(arts):
    return sum(len(json.dumps(a, indent=2)) for a in arts if valid(a))


def gen_pass(root, rng, p, pages, cycles, per_cycle):
    next_id = (p + 100) * 10_000_000
    # history: page 1 is the newest, later pages go back in time
    hist, hist_bytes = [], 0
    top = BASE + timedelta(days=30 * p)
    for n in range(1, pages + 1):
        arts, next_id = page(rng, next_id, top - timedelta(seconds=PAGE_SPAN_S * n),
                             allow_empty=True)
        write_page(f"{root}/history/page={n}", arts)
        hist += landed(arts)
        hist_bytes += size(arts)
    # live feed: page numbers and times grow with each appended page
    cyc, cyc_bytes, n = [], 0, 0
    for k in range(cycles):
        got = []
        for j in range(per_cycle):
            n += 1
            arts, next_id = page(rng, next_id, top + timedelta(seconds=PAGE_SPAN_S * n),
                                 allow_empty=j > 0)
            write_page(f"{root}/stage/c{k}/page={n}", arts)
            got += landed(arts)
            cyc_bytes += size(arts)
        cyc.append({"pages": n, "articles": got})
    manifest = {"backfill": hist, "cycles": cyc,
                "valid_bytes": hist_bytes + cyc_bytes}
    with open(f"{root}/manifest.json", "w") as f:
        json.dump(manifest, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--passes", type=int, required=True)
    ap.add_argument("--warm", type=int, default=1)
    ap.add_argument("--pages", type=int, required=True)
    ap.add_argument("--cycles", type=int, required=True)
    ap.add_argument("--pages-per-cycle", type=int, required=True)
    a = ap.parse_args()
    runs = [("probe", -1, 3, 0)] + \
        [(f"warm{p}", -2 - p, a.pages, a.cycles) for p in range(a.warm)] + \
        [(f"pass{p}", p, a.pages, a.cycles) for p in range(a.passes)]
    for name, p, pages, cycles in runs:
        rng = random.Random(a.seed * 1_000_003 + p)
        gen_pass(f"{a.out}/{name}", rng, p, pages, cycles, a.pages_per_cycle)


if __name__ == "__main__":
    main()

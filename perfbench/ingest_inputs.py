"""Seeded inputs for the `ingest` workload.

Writes, under one directory:
  catalog/initial.jsonl    yt-dlp info documents (nested comments with reply
                           chains, tags, some null titles)
  catalog/rearchive.jsonl  a re-fetch of some of those videos (updates, some
                           with a lost title the never-downgrade guard
                           rejects) beside videos seen for the first time
  history/part-NNN.jsonl   Takeout watch-history events, one file per drop:
                           missing titleUrl, exact duplicates, late events
                           within the 7-day watermark, and a replayed
                           overlapping export
  unarchive.txt            ids of the videos the unarchive phase deletes

The same seed gives byte-identical files. `generate` returns the shares it
realised, which run.py prints.

What the sizes and shares rest on. A history file holds 5000 events, the
file size of the history prototype the benchmark was specified from
(120k events in 24 files), so micro-batches are that prototype's size; there
are 4 files, not 24, to fit the run budget. FIXTURES.md (A2) names the edge
rows each input must hold (null titles, the default description, reply
chains at least 3 deep, missing titleUrl, exact duplicates) but not how
often they occur, and neither yark nor the repository records real shares.
The catalog size and every share below are therefore illustrative: small
enough that each edge case occurs many times in every run, and not a model
of any real archive.
"""
import json
import os
import random
from datetime import datetime, timedelta, timezone

ALPHABET = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz_-"
DEFAULT_DESC = ("Enjoy the videos and music you love, upload original content, "
                "and share it all with friends, family, and the world on YouTube.")
WORDS = ("live cover remix tutorial review vlog music rock jazz piano guitar "
         "drum lesson howto unboxing travel food science history news "
         "gaming speedrun retro chill lofi study focus nature city").split()

VIDEOS = 240          # first archive
REFETCHED = 80        # of those, fetched again in the re-archive pass
NEW = 40              # first seen in the re-archive pass
CHANNELS = 40
USERS = 300
HISTORY_FILES = 4
EVENTS_PER_FILE = 5000  # the prototype's 120k events / 24 files
UNARCHIVE = 24
EPOCH = datetime(2024, 3, 1, tzinfo=timezone.utc)


def _id(rng, n=11):
    return "".join(rng.choice(ALPHABET) for _ in range(n))


def _title(rng):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 6))).title()


def _comments(rng, vid, n_roots, deep):
    """Reply trees: every root may get replies; `deep` videos get one chain
    at least four comments long. Returns (comments, max depth)."""
    out, depth_of = [], {}

    def add(parent):
        cid = f"{vid}.{len(out):03d}"
        author = rng.randrange(USERS)
        out.append({
            "id": cid, "author_id": f"user{author:04d}",
            "author": f"User {author}", "text": _title(rng).lower(),
            "like_count": rng.randint(0, 500),
            "is_favorited": rng.random() < 0.05,
            "author_is_uploader": rng.random() < 0.05,
            "parent": parent or "root",
            "timestamp": int((EPOCH - timedelta(days=rng.randint(0, 900))).timestamp()),
        })
        depth_of[cid] = 1 + (depth_of[parent] if parent else 0)
        return cid

    for _ in range(n_roots):
        root = add(None)
        for _ in range(rng.randint(0, 2)):
            add(root)
    if deep:
        node = add(None)
        for _ in range(rng.randint(3, 6)):
            node = add(node)
    return out, max(depth_of.values(), default=0)


def _video(rng, vid, channel):
    ch_user = f"chuser{channel:03d}"
    n_tags = rng.randint(0, 5)
    return {
        "id": vid,
        "fulltitle": _title(rng),
        "description": DEFAULT_DESC if rng.random() < 0.2 else _title(rng),
        "channel_id": f"UC{channel:022d}", "channel": f"Channel {channel}",
        "channel_url": f"https://www.youtube.com/channel/UC{channel:022d}",
        "uploader": f"Uploader {channel}", "uploader_id": ch_user,
        "channel_follower_count": 1000 * channel,
        "thumbnail": f"https://i.ytimg.com/vi/{vid}/maxres.webp?v={rng.randint(1, 9)}",
        "duration": rng.randint(30, 7200),
        "view_count": rng.randint(0, 10 ** 7),
        "like_count": rng.randint(0, 10 ** 5),
        "age_limit": rng.choice([0, 0, 0, 18]),
        "live_status": rng.choice(["not_live", "not_live", "was_live"]),
        "upload_date": (EPOCH - timedelta(days=rng.randint(0, 3000))).strftime("%Y%m%d"),
        "availability": rng.choice(["public", "public", "unlisted"]),
        "width": 1920, "height": 1080, "fps": rng.choice([24.0, 30.0, 60.0]),
        "audio_channels": 2,
        "categories": [rng.choice(["Music", "Education", "Gaming", "Travel"])],
        "filesize_approx": rng.randint(10 ** 6, 10 ** 9),
        "tags": sorted({rng.choice(WORDS) for _ in range(n_tags)}),
    }


def _ts(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _event(vid, t):
    return {"titleUrl": f"https://www.youtube.com/watch?v={vid}", "time": _ts(t)}


def _write_jsonl(path, docs):
    with open(path, "w", encoding="utf-8") as f:
        for d in docs:
            f.write(json.dumps(d, sort_keys=True) + "\n")


def generate(seed, out):
    rng = random.Random(seed)
    for d in ("catalog", "history"):
        os.makedirs(os.path.join(out, d), exist_ok=True)

    # catalog: first archive
    ids = []
    while len(ids) < VIDEOS + NEW:
        v = _id(rng)
        if v not in ids:
            ids.append(v)
    channel_of = {v: rng.randrange(CHANNELS) for v in ids}
    first, comments_of, max_depth = [], {}, 0
    for i, v in enumerate(ids[:VIDEOS]):
        doc = _video(rng, v, channel_of[v])
        if rng.random() < 0.08:
            doc["fulltitle"] = None
        doc["comments"], depth = _comments(rng, v, rng.randint(0, 4), i % 4 == 0)
        comments_of[v] = doc["comments"]
        max_depth = max(max_depth, depth)
        first.append(doc)

    # re-archive: refreshed counters and comment likes, some titles lost,
    # plus first-seen videos
    again, rejected = [], 0
    for v in rng.sample(ids[:VIDEOS], REFETCHED):
        doc = _video(rng, v, channel_of[v])
        if rng.random() < 0.2:
            doc["fulltitle"] = None
            rejected += 1
        doc["comments"] = [dict(c, like_count=c["like_count"] + rng.randint(0, 50))
                           for c in comments_of[v]]
        again.append(doc)
    for v in ids[VIDEOS:]:
        doc = _video(rng, v, channel_of[v])
        doc["comments"], depth = _comments(rng, v, rng.randint(0, 4), rng.random() < 0.25)
        max_depth = max(max_depth, depth)
        again.append(doc)
    rng.shuffle(again)
    _write_jsonl(os.path.join(out, "catalog", "initial.jsonl"), first)
    _write_jsonl(os.path.join(out, "catalog", "rearchive.jsonl"), again)

    # history: one file per day; watched ids mostly from the catalog
    pool = ids + [_id(rng) for _ in range(200)]
    files, counts = [], dict(events=0, missing=0, dup=0, late=0, replayed=0)
    for f in range(HISTORY_FILES):
        day = EPOCH + timedelta(days=30 + f)
        evs = []
        while len(evs) < EVENTS_PER_FILE:
            r = rng.random()
            if r < 0.03:
                evs.append({"time": _ts(day + timedelta(seconds=rng.randrange(86400)))})
                counts["missing"] += 1
            elif r < 0.08 and evs:
                evs.append(dict(rng.choice(evs)))
                counts["dup"] += 1
            elif r < 0.13:
                late = day - timedelta(days=rng.uniform(0.5, 2.5))
                evs.append(_event(rng.choice(pool), late.replace(microsecond=0)))
                counts["late"] += 1
            else:
                t = day + timedelta(seconds=rng.randrange(86400))
                evs.append(_event(rng.choice(pool), t))
        files.append(evs)
    # the last export overlaps the one two days before it
    replay = rng.sample(files[-3], len(files[-3]) // 4)
    files[-1] = files[-1] + replay
    counts["replayed"] = len(replay)
    for f, evs in enumerate(files):
        _write_jsonl(os.path.join(out, "history", f"part-{f:03d}.jsonl"), evs)
        counts["events"] += len(evs)

    # unarchive: half with deep reply chains
    deep = [v for v in ids[:VIDEOS] if len(comments_of[v]) >= 5]
    pick = rng.sample(deep, min(len(deep), UNARCHIVE // 2))
    rest = [v for v in ids[:VIDEOS] if v not in pick]
    pick += rng.sample(rest, UNARCHIVE - len(pick))
    with open(os.path.join(out, "unarchive.txt"), "w") as f:
        f.write("\n".join(sorted(pick)) + "\n")

    n = counts["events"]
    return {
        "history_events": n,
        "missing_titleUrl_share": round(counts["missing"] / n, 4),
        "duplicate_share": round(counts["dup"] / n, 4),
        "late_share": round(counts["late"] / n, 4),
        "replayed_share": round(counts["replayed"] / n, 4),
        "rearchive_updates": REFETCHED,
        "rearchive_inserts": NEW,
        "update_share": round(REFETCHED / (REFETCHED + NEW), 4),
        "guard_rejected_share": round(rejected / REFETCHED, 4),
        "null_title_share_initial": round(
            sum(d["fulltitle"] is None for d in first) / VIDEOS, 4),
        "max_reply_depth": max_depth,
        "unarchive_videos": len(pick),
    }

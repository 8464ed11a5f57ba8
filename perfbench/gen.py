"""Seeded generator of yark-shaped inputs and of the expected catalog.

Every input the benchmark feeds the engine is made here from one seed, so
the same seed gives byte-identical files. The query tables are the
engine's own test fixture with the rows in a seeded order (gen_tables).
For the write path, the expected final state (the manifest) is computed
in plain Python from the same records, following yark's write rules, and
never by the engine under test:

  - W1 insert-or-ignore for users, channels, tags, video_tags, comments,
    history, playlists and playlist_videos (first batch wins);
  - W2 never-downgrade for videos: an upgrade row replaces the stored one
    only when title, channel, filesize and duration are all non-null;
  - unarchive deletes a video, its comments with their reply chains, and
    its video_tags.

The FIXTURES.md section A2 edge rows are all planted: null title and
filesize, the default-description blurb, parent="root", reply chains at
least three deep, missing categories, thumbnails with a ?query suffix,
history entries without titleUrl, exact duplicates, ids wrapped in
whitespace, blank and malformed CSV rows.
"""
import hashlib
import json
import os
import random
from datetime import datetime, timedelta, timezone

DEFAULT_DESC = ("Enjoy the videos and music you love, upload original "
                "content, and share it all with friends, family, and the "
                "world on YouTube.")
ID_ALPHABET = ("0123456789abcdefghijklmnopqrstuvwxyz"
               "ABCDEFGHIJKLMNOPQRSTUVWXYZ_-")
WORDS = ("row the query stream key agg scan slow table part a merge window "
         "order column join vector fast spark line small customer group "
         "value hash batch sort data big filter dup").split()
CATEGORIES = ["Music", "Gaming", "Education", "Comedy", "News", "Sports"]
EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)

# Workload sizes. They are fixed here, not per seed, so every seed does the
# same amount of work.
BATCH = dict(videos=200, comments_per_video=6, channels=30, users=180,
             history=600, playlists=3, playlist_rows=40,
             upgrade_share=0.3, new_share=0.25, unarchive_ops=10,
             unarchive_videos=1)
STREAM = dict(rate=20.0, rows_per_file=10, warmup_s=6.0, trigger_s=1.5)
# query_mix input: a copy of the engine's sf0.01 test fixture (the tables
# its queries read), made with the fixture generator's seed 42
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                       "sf0.01")
QUERY_TABLES = ("orders", "lineitem")


# ---------------------------------------------------------------- helpers

class Ids:
    """Unique random ids of a fixed length from the video-id alphabet."""

    def __init__(self, rng):
        self.rng, self.seen = rng, set()

    def new(self, n=11, prefix=""):
        while True:
            s = prefix + "".join(self.rng.choice(ID_ALPHABET)
                                 for _ in range(n - len(prefix)))
            if s not in self.seen:
                self.seen.add(s)
                return s


def words(rng, lo, hi):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def iso(dt):
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


def micros(dt):
    return (dt - EPOCH) // timedelta(microseconds=1)


def canon(v):
    """One value in the form the JVM dump writes it."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "%.6f" % v
    return str(v)


def table_digest(rows):
    """(count, sha256) of a table, insensitive to row order. Row tuples
    follow the column order of BenchMain.DumpCols, which writes the dump
    check.py digests the same way; video_tags.id, a hash the engine picks,
    is left out of both."""
    lines = sorted("\x1f".join(canon(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(lines), h.hexdigest()


def write_jsonl(path, records):
    with open(path, "w", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps(r, sort_keys=True) + "\n")


# ------------------------------------------------------------ yark inputs

def _video_doc(rng, vid, ch, users, user_ids, tag_vocab, ids, day0):
    """One yt-dlp info document with its nested comment tree."""
    comments, roots = [], []
    n = rng.randint(0, 2 * BATCH["comments_per_video"])
    # every 10th video carries a reply chain at least 3 deep
    chain = 4 if rng.random() < 0.1 else 0
    parent = "root"
    for j in range(chain):
        cid = ids.new(20, "Ug")
        comments.append((cid, parent))
        parent = cid
    for _ in range(n):
        if roots and rng.random() < 0.35:
            par = rng.choice(roots)
        else:
            par = "root"
        cid = ids.new(20, "Ug")
        comments.append((cid, par))
        if par == "root":
            roots.append(cid)
    cdocs = []
    for cid, par in comments:
        uid = rng.choice(user_ids)
        cdocs.append({
            "id": cid, "author_id": uid, "author": users[uid],
            "text": words(rng, 3, 25), "like_count": rng.randint(0, 500),
            "is_favorited": rng.random() < 0.05,
            "author_is_uploader": uid == ch["uploader_id"],
            "parent": par,
            "timestamp": 1700000000 + rng.randint(0, 10_000_000)})
    upload = day0 + timedelta(days=rng.randint(0, 700))
    doc = {
        "id": vid, "fulltitle": words(rng, 2, 8).title(),
        "description": (DEFAULT_DESC if rng.random() < 0.05
                        else words(rng, 5, 40)),
        "channel_id": ch["channel_id"], "channel": ch["name"],
        "channel_url": ch["url"], "uploader": users[ch["uploader_id"]],
        "uploader_id": ch["uploader_id"],
        "channel_follower_count": ch["followers"],
        "thumbnail": (f"https://i.ytimg.com/vi/{vid}/hq720.jpg"
                      + (f"?sqp={rng.randint(0, 10**9)}"
                         if rng.random() < 0.5 else "")),
        "duration": rng.randint(10, 7200),
        "view_count": rng.randint(0, 10**7),
        "like_count": rng.randint(0, 10**5),
        "age_limit": 0, "live_status": "not_live",
        "upload_date": upload.strftime("%Y%m%d"),
        "availability": "public", "width": 1920, "height": 1080,
        "fps": rng.choice([24.0, 30.0, 60.0]), "audio_channels": 2,
        "filesize_approx": (None if rng.random() < 0.05
                            else rng.randint(10**6, 10**9)),
        "tags": rng.sample(tag_vocab, rng.randint(0, 5)),
        "comments": cdocs,
    }
    if rng.random() < 0.9:  # the rest have no categories key at all
        doc["categories"] = [rng.choice(CATEGORIES)]
    if rng.random() < 0.01:  # an upload_date the F7 parse rejects
        doc["upload_date"] = "20231345"
    return doc


def _ryd(rng, vid):
    if rng.random() < 0.1:  # empty record: coalesce falls back to yt-dlp
        return {"id": vid}
    return {"id": vid, "likes": rng.randint(0, 10**5),
            "dislikes": rng.randint(0, 10**4),
            "rating": round(rng.uniform(1, 5), 2),
            "viewCount": rng.randint(0, 10**7)}


def _refine(doc, ryd):
    """yark's __refine_metadata (F2, F4, F5, F6, F7, F8) on one document."""
    ryd = ryd or {}

    def pref(a, b):
        return a if a is not None else b
    up = doc.get("upload_date")
    try:
        up_ts = micros(datetime.strptime(up, "%Y%m%d")
                       .replace(tzinfo=timezone.utc)) if up else None
    except ValueError:
        up_ts = None
    cats = doc.get("categories")
    thumb = doc.get("thumbnail")
    desc = doc.get("description")
    return (doc["id"], doc.get("fulltitle"),
            "" if desc == DEFAULT_DESC else desc, doc.get("channel_id"),
            None, thumb.split("?")[0] if thumb is not None else None,
            doc.get("duration"), pref(ryd.get("viewCount"),
                                      doc.get("view_count")),
            doc.get("age_limit"), doc.get("live_status"),
            pref(ryd.get("likes"), doc.get("like_count")),
            ryd.get("dislikes"), ryd.get("rating"), up_ts,
            doc.get("availability"), doc.get("width"), doc.get("height"),
            doc.get("fps"), doc.get("audio_channels"),
            cats[0] if cats else None, doc.get("filesize_approx"), None)


def _guard(row):
    """W2 never-downgrade: title, channel, duration, filesize non-null."""
    return all(row[i] is not None for i in (1, 3, 6, 20))


def _derive(docs):
    """The per-relation rows one batch of documents yields."""
    out = {t: [] for t in ("users", "channels", "tags", "video_tags",
                           "comments")}
    for d in docs:
        out["users"].append((d["uploader_id"], d["uploader"]))
        out["channels"].append((d["channel_id"], d["uploader_id"],
                                d["channel"], d["channel_follower_count"],
                                d["channel_url"]))
        for t in d["tags"]:
            out["tags"].append((t,))
            out["video_tags"].append((d["id"], t))
        for c in d["comments"]:
            out["users"].append((c["author_id"], c["author"]))
            out["comments"].append((
                c["id"], d["id"], c["author_id"], c["text"],
                c["like_count"], c["is_favorited"], c["author_is_uploader"],
                None if c["parent"] == "root" else c["parent"],
                c["timestamp"] * 1_000_000))
    return out


def _history_entries(rng, pool, n, t0):
    """A Takeout watch-history array plus the (video, watched) pairs the
    D2 dedup keeps."""
    entries, kept = [], set()
    for i in range(n):
        r = rng.random()
        t = t0 + timedelta(seconds=rng.randint(0, 30 * 86400))
        if r < 0.05:  # removed video: no titleUrl
            entries.append({"title": "Watched a video that has been removed",
                            "time": iso(t)})
            continue
        if r < 0.08:  # malformed id, rejected by F1
            entries.append({"titleUrl":
                            "https://www.youtube.com/watch?v=short",
                            "time": iso(t)})
            continue
        if r < 0.13 and entries:  # exact duplicate: its key is kept already
            entries.append(dict(rng.choice(entries)))
            continue
        vid = rng.choice(pool)
        entries.append({"header": "YouTube", "title": "Watched a video",
                        "titleUrl": f"https://www.youtube.com/watch?v={vid}",
                        "time": iso(t), "products": ["YouTube"]})
        kept.add((vid, micros(t)))
    return entries, kept


def _playlist_csv(rng, path, pool, n, t0):
    """A Takeout playlist CSV and the membership rows yark keeps."""
    lines, rows = ["Video ID,Time Created"], []
    for vid in rng.sample(pool, n):
        r = rng.random()
        t = t0 + timedelta(seconds=rng.randint(0, 90 * 86400))
        if r < 0.05:  # blank timestamp: kept, added = NULL
            lines.append(f"{vid},")
            rows.append((vid, None))
        elif r < 0.10:  # id wrapped in whitespace, scrubbed (F11)
            lines.append(f"  {vid} ,{iso(t)}")
            rows.append((vid, micros(t)))
        else:
            lines.append(f"{vid},{iso(t)}")
            rows.append((vid, micros(t)))
        if rng.random() < 0.03:
            lines.append("")  # blank line
        if rng.random() < 0.03:  # malformed: bad id and an extra field
            lines.append("??bad id??,2024-01-01T00:00:00Z,extra")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return rows


def gen_batch(seed, out):
    """Inputs of the ingest_batch workload and the catalog they must
    leave behind. Writes load/, upgrade/, unarchive.json, manifest.json."""
    rng = random.Random(seed)
    ids = Ids(rng)
    day0 = datetime(2021, 1, 1, tzinfo=timezone.utc)
    users = {ids.new(24, "UC"): f"user {i} {words(rng, 1, 2)}"
             for i in range(BATCH["users"])}
    user_ids = sorted(users)
    chans = []
    for i in range(BATCH["channels"]):
        cid = ids.new(24, "UC")
        chans.append({"channel_id": cid, "uploader_id": rng.choice(user_ids),
                      "name": f"channel {i}", "followers":
                      rng.randint(0, 10**6),
                      "url": f"https://www.youtube.com/channel/{cid}"})
    tag_vocab = [f"tag{i}" for i in range(300)]

    load_docs = [_video_doc(rng, ids.new(), rng.choice(chans), users,
                            user_ids, tag_vocab, ids, day0)
                 for _ in range(BATCH["videos"])]
    load_ryd = {d["id"]: _ryd(rng, d["id"]) for d in load_docs
                if rng.random() < 0.5}
    # upgrade batch: re-sent videos (improved, null title, null filesize)
    # plus new ones
    resent = rng.sample(load_docs,
                        int(BATCH["videos"] * BATCH["upgrade_share"]))
    up_docs = []
    for d in resent:
        u = json.loads(json.dumps(d))
        r = rng.random()
        if r < 0.2:
            u["fulltitle"] = None  # must not downgrade the stored row
        elif r < 0.4:
            u["filesize_approx"] = None
        else:
            u["fulltitle"] = d["fulltitle"] or "untitled"
            u["fulltitle"] += " (remastered)"
            u["view_count"] = d["view_count"] + rng.randint(1, 1000)
            u["filesize_approx"] = rng.randint(10**6, 10**9)
        for c in u["comments"]:  # W1: changed likes must be ignored
            c["like_count"] += 1
        if u["comments"]:
            par = rng.choice(u["comments"])["id"]
            for _ in range(rng.randint(1, 3)):
                cid = ids.new(20, "Ug")
                uid = rng.choice(user_ids)
                u["comments"].append({
                    "id": cid, "author_id": uid, "author": users[uid],
                    "text": words(rng, 3, 25), "like_count": 0,
                    "is_favorited": False,
                    "author_is_uploader": uid == u["uploader_id"],
                    "parent": par, "timestamp": 1710000000})
                par = cid
        up_docs.append(u)
    up_docs += [_video_doc(rng, ids.new(), rng.choice(chans), users,
                           user_ids, tag_vocab, ids, day0)
                for _ in range(int(BATCH["videos"] * BATCH["new_share"]))]
    up_ryd = {d["id"]: _ryd(rng, d["id"]) for d in up_docs
              if rng.random() < 0.5}

    pool = [d["id"] for d in load_docs]
    hist_t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    load_hist, load_kept = _history_entries(rng, pool, BATCH["history"],
                                            hist_t0)
    # the upgrade history re-sends a slice of the load history (W1 keeps
    # one copy) and adds new watches
    up_hist, up_kept = _history_entries(
        rng, pool + [d["id"] for d in up_docs], BATCH["history"] // 2,
        hist_t0 + timedelta(days=31))
    resend = rng.sample([e for e in load_hist if "titleUrl" in e],
                        BATCH["history"] // 10)
    up_hist += resend

    for sub in ("load", "upgrade", "load/playlists"):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
    # one exact duplicate video line in the load feed (in-batch dedup)
    feed = load_docs + [load_docs[0]]
    write_jsonl(os.path.join(out, "load", "info.jsonl"), feed)
    write_jsonl(os.path.join(out, "load", "ryd.jsonl"), load_ryd.values())
    write_jsonl(os.path.join(out, "upgrade", "info.jsonl"), up_docs)
    write_jsonl(os.path.join(out, "upgrade", "ryd.jsonl"), up_ryd.values())
    for sub, entries in (("load", load_hist), ("upgrade", up_hist)):
        with open(os.path.join(out, sub, "history.json"), "w") as f:
            json.dump(entries, f, indent=1)

    members, playlists = [], []
    for i in range(BATCH["playlists"]):
        title = f"Mix {i} {rng.choice(WORDS)}"
        rows = _playlist_csv(
            rng, os.path.join(out, "load", "playlists",
                              f"{title} videos.csv"),
            pool, BATCH["playlist_rows"], hist_t0)
        pid = "PLLOCAL_" + title.replace(" ", "_")
        playlists.append((pid, None, None, None, title, None, "private"))
        order = sorted(rows, key=lambda r: (r[1] is None, r[1] or 0, r[0]))
        members += [(k + 1, pid, v, a) for k, (v, a) in enumerate(order)]

    # unarchive sets: load videos outside any playlist that carry comments
    listed = {m[2] for m in members}
    candidates = [d["id"] for d in load_docs
                  if d["id"] not in listed and d["comments"]]
    cand = rng.sample(candidates,
                      BATCH["unarchive_ops"] * BATCH["unarchive_videos"])
    k = BATCH["unarchive_videos"]
    unarchive = [cand[i:i + k] for i in range(0, len(cand), k)]
    with open(os.path.join(out, "unarchive.json"), "w") as f:
        json.dump(unarchive, f)

    # ---- expected catalog, by yark's rules
    def first_wins(rows, nkey):
        seen = {}
        for r in rows:
            seen.setdefault(r[:nkey], r)
        return seen

    dl, du = _derive(load_docs), _derive(up_docs)
    cat = {}
    for t, nkey in (("users", 1), ("channels", 1), ("tags", 1),
                    ("video_tags", 2), ("comments", 1)):
        cat[t] = first_wins(dl[t] + du[t], nkey)
    videos = {d["id"]: _refine(d, load_ryd.get(d["id"])) for d in load_docs}
    for d in up_docs:
        row = _refine(d, up_ryd.get(d["id"]))
        if d["id"] not in videos or _guard(row):
            videos[d["id"]] = row
    gone = {v for s in unarchive for v in s}
    gone_comments = {c[0] for c in cat["comments"].values() if c[1] in gone}
    # replies cascade through parent, whatever video they sit under
    changed = True
    while changed:
        more = {c[0] for c in cat["comments"].values()
                if c[7] in gone_comments and c[0] not in gone_comments}
        gone_comments |= more
        changed = bool(more)
    expected = {
        "users": list(cat["users"].values()),
        "channels": list(cat["channels"].values()),
        "tags": list(cat["tags"].values()),
        "video_tags": [r for r in cat["video_tags"].values()
                       if r[0] not in gone],
        "comments": [r for r in cat["comments"].values()
                     if r[0] not in gone_comments],
        "videos": [r for v, r in videos.items() if v not in gone],
        "history": sorted(load_kept | up_kept),
        "playlists": playlists,
        "playlist_videos": members,
    }
    # W2 audit: ids whose upgrade the guard must have refused
    refused = sorted(d["id"] for d in up_docs
                     if d["id"] in {x["id"] for x in load_docs}
                     and not _guard(_refine(d, up_ryd.get(d["id"])))
                     and d["id"] not in gone)
    n_records = (len(feed) + len(up_docs)
                 + sum(len(d["comments"]) for d in feed + up_docs)
                 + len(load_hist) + len(up_hist) + len(members))
    manifest = {
        "tables": {t: table_digest(rows) for t, rows in expected.items()},
        "guard_refused": refused,
        "unarchived_comments": len(gone_comments),
        "input_records": n_records,
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


# ---------------------------------------------------------- stream inputs

def gen_stream(seed, out, seconds):
    """Takeout history JSONL files for the open loop, their drop schedule
    and the history table they must leave behind. Every row's event time
    lies within the pipeline's 7-day watermark of the newest one, so what
    the watermark keeps does not depend on how files group into epochs."""
    rng = random.Random(seed)
    ids = Ids(rng)
    rate, per_file = STREAM["rate"], STREAM["rows_per_file"]
    n_files = int(round(rate * (STREAM["warmup_s"] + seconds)))
    pool = [ids.new() for _ in range(2000)]
    t0 = datetime(2024, 3, 1, tzinfo=timezone.utc)
    src = os.path.join(out, "stream_src")
    os.makedirs(src, exist_ok=True)
    sent, kept, schedule = [], set(), []
    for i in range(n_files):
        lines = []
        for j in range(per_file):
            r = rng.random()
            if r < 0.03:
                lines.append({"title": "removed video",
                              "time": iso(t0 + timedelta(minutes=i))})
                continue
            if r < 0.10 and sent:  # replay of an earlier row (duplicate)
                lines.append(rng.choice(sent))
                continue
            if r < 0.15:  # late row: hours to days behind the newest
                t = t0 + timedelta(minutes=i) - timedelta(
                    seconds=rng.randint(3600, 4 * 86400))
            else:
                t = t0 + timedelta(minutes=i, seconds=rng.randint(0, 59))
            vid = rng.choice(pool)
            row = {"titleUrl": f"https://www.youtube.com/watch?v={vid}",
                   "time": iso(t)}
            lines.append(row)
            sent.append(row)
            kept.add((vid, micros(t)))
        name = f"history-{i:05d}.json"
        write_jsonl(os.path.join(src, name), lines)
        schedule.append({"file": name, "due_s": i / rate,
                         "warmup": i < rate * STREAM["warmup_s"]})
    with open(os.path.join(out, "schedule.json"), "w") as f:
        json.dump({"rate_files_per_s": rate, "rows_per_file": per_file,
                   "trigger_s": STREAM["trigger_s"], "files": schedule}, f)
    manifest = {"tables": {"history": table_digest(sorted(kept))},
                "input_records": n_files * per_file}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


# ----------------------------------------------------------- query tables

def gen_tables(seed, out):
    """The tables query_mix reads: the engine's sf0.01 test fixture (a copy
    in data/sf0.01), each table's rows in a seeded order. The rows are the
    fixture's, so the DuckDB oracles see the data the registry queries were
    written for; only the order of rows in the files varies with the seed."""
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    for t in QUERY_TABLES:
        table = pq.read_table(os.path.join(FIXTURE, f"{t}.parquet"))
        order = list(range(table.num_rows))
        rng.shuffle(order)
        pq.write_table(table.take(order), os.path.join(out, f"{t}.parquet"))


def generate(workload, seed, out, seconds):
    """All inputs of one workload run, written under `out`."""
    os.makedirs(out, exist_ok=True)
    if workload == "ingest_batch":
        return gen_batch(seed, out)
    if workload == "ingest_stream":
        return gen_stream(seed, out, seconds)
    if workload == "query_mix":
        gen_tables(seed, os.path.join(out, "tables"))
        return {}
    raise ValueError(f"unknown workload {workload}")

"""Seeded inputs for the three workloads. The same seed gives the same bytes.

  posts/          wod_posts: WordPress-style posts as JSON lines.
  documents.parquet, embeddings.parquet
                  corpus_build: a synthetic text corpus (30-word vocabulary,
                  near duplicates marked ' dup', a few exact duplicates) and
                  clustered 64-d embeddings, shaped like graft's sf0.1 tables.
  pages/          stream_ingest: post pages as JSON-lines files, one file per
                  page, modification times in page order; later pages
                  re-fetch earlier posts unchanged or carry edited posts
                  with a higher version.
  events.parquet  stream_ingest: the event table the stateful lanes read.
"""
import datetime
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Sizes: large enough that each timed pass outweighs its noise, small enough
# that 22 runs of every workload fit in one comparison (see README.md).
N_POSTS = 200
N_DOCS = 600
N_VECS = 400
N_EVENTS = 10000
N_PAGES = 3
PAGE_ROWS = 200

WEEKDAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday"]
ORDINALS = ["One", "Two", "Three", "Four", "Five", "Six", "Seven"]
MONTHS = ["january", "february", "march", "april", "may", "june", "july", "august",
          "september", "october", "november", "december"]
MOVES = ["Snatch", "Power Snatch", "Clean &amp; Jerk", "Clean & Jerk", "Back Squat",
         "Front Squat", "Snatch Balance", "Push Press", "Romanian Deadlift",
         "Hang Power Clean", "Jerk from Blocks", "Overhead Squat"]
SCHEMES = ["Every minute, on the minute, for {n} minutes ({n} sets):",
           "Every 90 seconds, for {n} minutes:", "Three sets of:",
           "Every 2:30, for 15 minutes (6 sets):", "In {n} minutes, establish a 1-RM"]
NOTES = ["*Keep this under {p}% of your 1-RM", "*Sets 1&#8211;2 = @ {p}% of 1-RM",
         "Rest 60 seconds", "Followed by&#8230;.", "the athlete&#8217;s choice of load",
         "&#8220;Touch and go&#8221; reps", "&lt;RPE {n}&gt;", "Build over the sets."]
WORDS = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
LANGS = ["en", "en", "zh", "es", "fr", "de", "en", "es", "fr", "de", "zh", "en"]
EVENT_TYPES = ["view", "view", "view", "click", "click", "purchase", "signup", "error"]


def _tag(rng, text):
    r = rng.random()
    if r < 0.15:
        return f"<strong>{text}</strong>"
    if r < 0.25:
        return f'<span style="color: #333">{text}</span>'
    return text


def _segment_lines(rng, n):
    lines = [rng.choice(SCHEMES).format(n=rng.randint(3, 20))]
    for _ in range(n):
        lines.append(f"{rng.choice(MOVES)} x {rng.randint(1, 5)} reps @ {rng.randint(60, 90)}%")
        if rng.random() < 0.4:
            lines.append(rng.choice(NOTES).format(p=rng.randint(55, 90), n=rng.randint(6, 9)))
    return lines


def _session(rng, day, ordinal):
    if rng.random() < 0.15:  # a rest day: fewer than two segment markers
        return [day, "Rest Day", "Active recovery: walk 20 minutes"]
    lines = [f"{day} (Session {ordinal})"]
    if rng.random() < 0.8:
        lines += ["Suggested Warm-Up"] + _segment_lines(rng, rng.randint(1, 3))
    letters = ["A.", "B.", "C.", "D.", "E."][:rng.randint(2, 5)]
    if rng.random() < 0.15:  # a duplicate segment key: the last one wins
        letters.append(rng.choice(letters))
    if rng.random() < 0.05:  # a marker with no cleaned column
        letters.append(rng.choice(["F.", "c."]))
    for letter in letters:
        lines += [letter] + _segment_lines(rng, rng.randint(1, 4))
    return lines


def _post(rng, post_id):
    start = datetime.date(2019, 1, 7) + datetime.timedelta(days=rng.randint(0, 900))
    end = start + datetime.timedelta(days=4)
    month = MONTHS[start.month - 1]
    kind = rng.random()
    title = f"5-Day Weightlifting Program &#8211; Week {rng.randint(1, 52)}"
    if kind < 0.5:  # date in the slug
        slug = f"{month}-{start.day}-{end.day}-{start.year}-5-day-weightlifting-program"
    elif kind < 0.55:  # an impossible slug date falls through to the title
        slug = f"february-30-31-{start.year}-program"
        title = f"{month.title()} {start.day}&#8211;{end.day}, {start.year} Program"
    elif kind < 0.8:  # date only in the title
        slug = None
        title = f"{month.title()} {start.day}&#8211;{end.day}, {start.year} Program"
    else:  # date only in the post date
        slug = title = None
    posted = start - datetime.timedelta(days=rng.randint(0, 2))
    lines = [_tag(rng, "Welcome back, everyone!"), "Here is this week&#8217;s plan."]
    n_days = rng.choice([1, 4, 5, 5, 5, 6])
    for i in range(n_days):
        lines += [_tag(rng, line) for line in _session(rng, WEEKDAYS[i], ORDINALS[i])]
    return {"post_id": post_id, "content_html": "<p>" + "\n".join(lines) + "</p>",
            "slug": slug, "title": title, "post_date": f"{posted.isoformat()}T06:00:00"}


def posts(seed):
    rng = random.Random(f"posts:{seed}")
    return [_post(rng, i) for i in range(N_POSTS)]


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")


def _documents(rng):
    ids, texts = [], []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 10 and r < 0.05:
            text = texts[rng.randrange(len(texts))] + " dup"
        elif i > 10 and r < 0.052:
            text = texts[rng.randrange(len(texts))]
        else:
            text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 96)))
        ids.append(i)
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in ids], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng):
    centres = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(N_VECS):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 0.6) for c in centres[label]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
        labels.append(label)
    return pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def _events(rng):
    t0 = datetime.datetime(2024, 1, 1)
    ts, t = [], t0
    for _ in range(N_EVENTS):
        t += datetime.timedelta(microseconds=rng.randint(1, 30_000_000))
        ts.append(t)
    return pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(1500) for _ in ts], pa.int64()),
        "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in ts], pa.string()),
        "value": pa.array([round(rng.uniform(0, 200), 2) for _ in ts], pa.float64()),
        "props": pa.array([json.dumps({"k": rng.randrange(100)}) for _ in ts], pa.string())})


def pages(seed):
    """[page][row] dicts; post ids are unique within a page."""
    rng = random.Random(f"pages:{seed}")
    latest, out, next_id = {}, [], 0
    for page in range(N_PAGES):
        rows, seen = [], set()
        for _ in range(PAGE_ROWS):
            r = rng.random()
            if latest and r < 0.2:  # re-fetched, unchanged
                pid = rng.choice(sorted(latest))
                version, body = latest[pid]
            elif latest and r < 0.35:  # edited: a higher version
                pid = rng.choice(sorted(latest))
                version, body = latest[pid][0] + 1, f"edit {rng.getrandbits(32)}"
            else:
                pid, version, body = next_id, 1, f"post {rng.getrandbits(32)}"
                next_id += 1
            if pid in seen:
                continue
            seen.add(pid)
            latest[pid] = (version, body)
            rows.append({"post_id": pid, "version": version, "title": f"Post {pid}",
                         "body": body, "page": page})
        out.append(rows)
    return out


def make(workload, seed, root):
    """Writes the workload's inputs under `root` (a fresh directory)."""
    if workload == "wod_posts":
        os.makedirs(f"{root}/posts")
        _write_jsonl(f"{root}/posts/posts.json", posts(seed))
    elif workload == "corpus_build":
        rng = random.Random(f"corpus:{seed}")
        pq.write_table(_documents(rng), f"{root}/documents.parquet")
        pq.write_table(_embeddings(rng), f"{root}/embeddings.parquet")
    elif workload == "stream_ingest":
        os.makedirs(f"{root}/pages")
        base = 1_700_000_000
        for i, rows in enumerate(pages(seed)):
            path = f"{root}/pages/page_{i:03d}.json"
            _write_jsonl(path, rows)
            os.utime(path, (base + 10 * i, base + 10 * i))
        pq.write_table(_events(random.Random(f"events:{seed}")), f"{root}/events.parquet")
    else:
        raise ValueError(f"unknown workload {workload}")

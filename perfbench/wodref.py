"""The reference WOD transforms, written out in plain Python.

This is the yardstick for the wod_posts workload: it uses neither graft nor
Spark, and it must reproduce src/test/resources/golden_december.json (the
reference pipeline's own output) before its answers are trusted.

  strip    HTML parser text nodes joined with no separator, character
           references decoded (BeautifulSoup html.parser get_text).
  days     a line containing a weekday opens a session; text before the
           first one is dropped; fewer than two weekday lines -> no sessions.
  segments per session the same walk with `Session`, `Suggested Warm-Up`
           or a one-letter `A.`..`F.` line; the first segment's first line
           names the session and the rest of it is dropped; fewer than two
           markers -> {'session': 'rest day'}.
  records  value = ' '.join(tail lines); duplicate keys, last wins; session
           i dated (start - isoweekday(start)) + i, start from the slug,
           else the title, else the post date.
  cleaned  fixed columns; a missing segment is ''.
"""
import calendar
import datetime
import re
from html.parser import HTMLParser

DAY = re.compile(r"(Monday)|(Tuesday)|(Wednesday)|(Thursday)|(Friday)|(Saturday)|(Sunday)", re.I)
SEG = re.compile(r"(Session)|(Suggested Warm-Up)|^[A-F].$", re.I)
SLUG = re.compile(r"(\w+)-(\d+)-(\d+)-(\d{4})", re.A)
TITLE = re.compile(r"(\w+)\s+(\d+)-(\d+)[,\s]\s*(\d{4})", re.A)
MONTHS = {m.lower(): i for i, m in enumerate(calendar.month_name) if m}
CLEANED_SEGMENTS = [("warm_up", "Suggested Warm-Up"), ("segment_a", "A."), ("segment_b", "B."),
                    ("segment_c", "C."), ("segment_d", "D."), ("segment_e", "E.")]


class _Text(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.parts = []

    def handle_data(self, data):
        self.parts.append(data)


def strip_html(html):
    p = _Text()
    p.feed(html)
    p.close()
    return "".join(p.parts)


def _groups(lines, marker):
    starts = [i for i, line in enumerate(lines) if marker.search(line)]
    if len(starts) < 2:
        return []
    ends = starts[1:] + [len(lines)]
    return [lines[a:b] for a, b in zip(starts, ends)]


def _date_from(text, pattern):
    m = pattern.search(text) if text is not None else None
    if not m or m.group(1).lower() not in MONTHS:
        return None
    year, month, day = int(m.group(4)), MONTHS[m.group(1).lower()], int(m.group(2))
    if not 1 <= day <= calendar.monthrange(year, month)[1]:
        return None
    return datetime.date(year, month, day)


def start_date(slug, title, post_date):
    if title is not None:
        title = re.sub("&#8211;|&ndash;", "-", title)
    start = _date_from(slug, SLUG) or _date_from(title, TITLE)
    if start is None and post_date is not None:
        start = datetime.date.fromisoformat(post_date[:10])
    return start


def records(text, slug, title, post_date):
    """[(session_idx, date 'yyyy-mm-dd', entries dict)] for one stripped post."""
    start = start_date(slug, title, post_date)
    anchor = start - datetime.timedelta(days=start.isoweekday()) if start else None
    out = []
    for idx, session in enumerate(_groups(text.split("\n"), DAY), start=1):
        segs = _groups(session, SEG)
        if segs:
            entries = {"session": segs[0][0]}
            for seg in segs[1:]:
                entries[seg[0]] = " ".join(seg[1:])
        else:
            entries = {"session": "rest day"}
        date = (anchor + datetime.timedelta(days=idx)).isoformat() if anchor else None
        out.append((idx, date, entries))
    return out


def cleaned(entries):
    row = {"session": entries.get("session", "Rest Day")}
    for column, key in CLEANED_SEGMENTS:
        row[column] = entries.get(key, "")
    return row


def cleaned_posts(posts):
    """Cleaned rows, as the tuples the checks compare, for raw HTML posts."""
    out = []
    for p in posts:
        text = strip_html(p["content_html"])
        for idx, date, entries in records(text, p["slug"], p["title"], p["post_date"]):
            c = cleaned(entries)
            out.append(cleaned_key(dict(c, post_id=p["post_id"], session_idx=idx, date=date)))
    return out


CLEANED_COLUMNS = ["post_id", "session_idx", "date", "session"] + [c for c, _ in CLEANED_SEGMENTS]


def cleaned_key(row):
    return tuple(row[c] for c in CLEANED_COLUMNS)


def golden_mismatches(golden):
    """Replays the reference golden: its stripped text in, its records and
    cleaned rows out. Returns a list of differences (empty when equal)."""
    slug = golden["source"][len("_raw_"):-len(".json")]
    recs = records(golden["stripped_text"], slug, None, None)
    got_records = [dict(entries, date=date) for _, date, entries in recs]
    got_cleaned = [dict(cleaned(entries), date=date) for _, date, entries in recs]
    bad = []
    if got_records != golden["records"]:
        bad.append("records differ from the golden")
    if got_cleaned != golden["cleaned"]:
        bad.append("cleaned rows differ from the golden")
    return bad

#!/usr/bin/env python3
"""Capture a golden end-to-end fixture from the reference pipeline.

Runs the reference's own transform chain (transforms.py: group_post_
content_by_day -> segment_days -> sessions_to_json_records_by_day ->
clean_sessions_df_records) over its captured raw post
test_events/_raw_december-21-27-2020-5-day-weightlifting-program.json
and writes the stripped text + records + cleaned records to
src/test/resources/golden_december.json, which WodRealTextGoldenSpec
replays through the Spark pipeline record-for-record.

The reference's shipped weekly/2021-01-03__... golden belongs to a
DIFFERENT post (its January program: content differs from the December
raw post) and predates the reference's current date logic (its dates
are run-day-anchored, impossible to reproduce deterministically), so
the parity oracle for the raw post is the reference's CURRENT code —
the same code its own tests/test_transforms.py pins.

Only stdlib is used besides the reference sources; the reference's
third-party imports (dateutil.parser.parse on ISO dates,
more_itertools.pairwise, its logger wrapper) are shimmed below.
html-stripping mirrors BeautifulSoup(html,'html.parser').get_text():
concatenated text nodes with character references decoded
(html.parser's convert_charrefs default).
"""
import datetime
import json
import logging
import os
import re
import sys
import types
from html.parser import HTMLParser

REF = "/root/reference"
OUT = os.path.join(os.path.dirname(__file__), "..",
                   "src/test/resources/golden_december.json")
RAW = os.path.join(
    REF, "test_events",
    "_raw_december-21-27-2020-5-day-weightlifting-program.json")


def _install_shims():
    dateutil = types.ModuleType("dateutil")
    parser = types.ModuleType("dateutil.parser")

    def parse(s):
        return datetime.datetime.fromisoformat(str(s).strip().rstrip("Z"))

    parser.parse = parse
    dateutil.parser = parser
    sys.modules["dateutil"] = dateutil
    sys.modules["dateutil.parser"] = parser

    mi = types.ModuleType("more_itertools")
    from itertools import pairwise
    mi.pairwise = pairwise
    sys.modules["more_itertools"] = mi

    lc = types.ModuleType("logger_config")
    lc.get_logger = logging.getLogger
    sys.modules["logger_config"] = lc


class _TextExtract(HTMLParser):
    def __init__(self):
        super().__init__()
        self.parts = []

    def handle_data(self, data):
        self.parts.append(data)


def get_text(html):
    p = _TextExtract()
    p.feed(html)
    return "".join(p.parts)


def main():
    _install_shims()
    sys.path.insert(0, REF)
    from transforms import (group_post_content_by_day, segment_days,
                            sessions_to_json_records_by_day,
                            clean_sessions_df_records)

    post = json.load(open(RAW))
    # WodRealTextGoldenSpec rebuilds the slug from `source`; keep the two equal.
    assert os.path.basename(RAW) == f"_raw_{post['slug']}.json", (
        f"{os.path.basename(RAW)} does not carry slug {post['slug']!r}")
    text = get_text(post["content"]["rendered"])
    stripped = {
        "text": text,
        "post_date": post["date"],
        "slug": post["slug"],
        "title": post["title"]["rendered"],
    }
    grouped = group_post_content_by_day(stripped, None)
    segmented = segment_days(grouped, None)
    records = sessions_to_json_records_by_day(segmented, None)
    cleaned = clean_sessions_df_records(records, None)
    out = {
        "source": os.path.basename(RAW),
        "stripped_text": text,
        "records": records,
        "cleaned": cleaned,
    }
    json.dump(out, open(OUT, "w"), indent=1, ensure_ascii=False)
    print(f"wrote {OUT}: {len(records)} records, "
          f"dates {[r['date'] for r in records]}")


if __name__ == "__main__":
    main()

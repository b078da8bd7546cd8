"""The reference fold against the repo's golden Bulkrax fixture, and the
sink's whitespace behaviour it models."""

import csv
import json
import os
from collections import Counter

import reference as ref

FIX = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "tests", "fixtures")


def test_fold_reproduces_golden_bulkrax_csv():
    with open(os.path.join(FIX, "eprints.json"), encoding="utf-8") as f:
        recs = json.load(f)
    with open(os.path.join(FIX, "subject_map.csv"), newline="", encoding="utf-8") as f:
        smap = dict(list(csv.reader(f))[1:])
    with open(os.path.join(FIX, "bulkrax_expected.csv"), newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    assert rows[0] == ref.BULKRAX_COLUMNS
    assert ref.expected_csv_rows(recs, smap) == Counter(tuple(r) for r in rows[1:])


def test_writer_strips_every_char_up_to_space_but_trim_only_spaces():
    # What write_bulkrax_csv does to values (Spark's CSV writer defaults).
    assert ref.writer_strip("  lead") == "lead"
    assert ref.writer_strip("\tTab") == "Tab"
    assert ref.writer_strip("trail \t\n") == "trail"
    assert ref.writer_strip("\r\x0b\x0c\x01x") == "x"
    assert ref.writer_strip("a\n b") == "a\n b"
    assert ref.writer_strip("\xa0nbsp") == "\xa0nbsp"
    assert ref.writer_strip("\u2003em") == "\u2003em"
    # F.trim in the ETL removes U+0020 only.
    assert ref.spark_trim(" \tx\t ") == "\tx\t"


def test_title_and_keywords_follow_the_etl_rules():
    row = ref.bulkrax_row(
        {
            "eprintid": 1, "title": "  A\t\tB  c ", "keywords": " k1 ;; k2 ;",
            "abstract": "\n  padded\n", "date": " 2019-05 ", "type": "x",
            "creators": [{"family": "F", "given": None}],
            "subjects": ["S00", "XX1"],
            "documents": [{"main": None}, {"main": "a.pdf"}],
        },
        {"S00": "Zero"},
    )
    assert row["title"] == "A B c"
    assert row["keyword"] == "k1|k2"
    assert row["date_created"] == "2019-05-01"
    assert row["creator"] == "F" and row["subject"] == "Zero" and row["file"] == "a.pdf"
    assert row["resource_type"] == "Other"
    assert row["abstract"] == "\n  padded\n"  # the ETL keeps it ...
    assert ref.as_written(row)[7] == "padded"  # ... the writer strips it


def test_ledger_replay_reports_only_changed_rows():
    base = [{"eprintid": 1, "v": 0}, {"eprintid": 2, "v": 0}]
    r = ref.LedgerReplay(base)
    changed = r.apply([{"eprintid": 1, "v": 0}, {"eprintid": 2, "v": 1}, {"eprintid": 3, "v": 0}])
    assert [c["eprintid"] for c in changed] == [2, 3]
    assert len(r.versions) == 2 and r.versions[0][2]["v"] == 0 and r.versions[1][2]["v"] == 1

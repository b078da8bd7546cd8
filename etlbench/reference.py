"""Independent Python reference for the outputs the benchmark checks.

``bulkrax_row`` restates ``etl.eprints_to_bulkrax`` record by record in
plain Python, then ``as_written`` applies what ``io.write_bulkrax_csv``
does to every value on its way to disk. The two steps are kept apart on
purpose, because they strip different whitespace:

- ``F.trim`` inside the ETL removes only the space character U+0020
  (titles, dates and keyword terms go through it);
- Spark's CSV writer defaults ``ignoreLeadingWhiteSpace`` and
  ``ignoreTrailingWhiteSpace`` to true, and its parser treats every
  character at or below U+0020 as whitespace. So ``"  lead"`` is written
  as ``lead``, ``"\\tTab"`` as ``Tab`` and a trailing ``"\\n"`` vanishes,
  while U+00A0 and U+2003 survive. Abstracts are never trimmed by the
  ETL, so their padding is removed only by the writer.

Whether the sink should strip values (an abstract's leading newline is
arguably content) is an open question for the program, written up in
``etlbench/NOTES.md``; the reference models what the program does today.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import os
import re
from collections import Counter

BULKRAX_COLUMNS = [
    "source_identifier", "title", "creator", "keyword", "subject",
    "resource_type", "date_created", "abstract", "official_url", "file",
]
RESOURCE_TYPE_MAP = {
    "article": "Article",
    "book_section": "Book chapter",
    "monograph": "Monograph",
    "conference_item": "Conference proceeding",
    "thesis": "Thesis",
}
# Java's \s: the class regexp_replace(title, '\s+', ' ') collapses.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def spark_trim(s: str | None) -> str | None:
    """``F.trim``: strips U+0020 only."""
    return None if s is None else s.strip(" ")


def writer_strip(s: str) -> str:
    """The CSV writer's leading/trailing strip: every char <= U+0020."""
    i, j = 0, len(s)
    while i < j and s[i] <= " ":
        i += 1
    while j > i and s[j - 1] <= " ":
        j -= 1
    return s[i:j]


def source_identifier(eprintid: int) -> str:
    return hashlib.md5(f"eprints:{eprintid}".encode()).hexdigest()


def normalize_date(d: str | None) -> str | None:
    d = spark_trim(d)
    if d is None:
        return None
    if len(d) == 4:
        return d + "-01-01"
    if len(d) == 7:
        return d + "-01"
    return d


def bulkrax_row(rec: dict, subject_map: dict[str, str]) -> dict:
    """One record through the ETL's semantics, before the writer."""
    title = rec.get("title")
    title = None if title is None else _JAVA_WS.sub(" ", spark_trim(title))
    creators = rec.get("creators") or []
    keywords = [
        t
        for t in (spark_trim(k) for k in (rec.get("keywords") or "").split(";"))
        if t
    ]
    docs = rec.get("documents") or []
    return {
        "source_identifier": source_identifier(rec["eprintid"]),
        "title": title,
        "creator": "|".join(
            ", ".join(x for x in (c.get("family"), c.get("given")) if x is not None)
            for c in creators
        ),
        "keyword": "|".join(keywords),
        "subject": "|".join(
            subject_map[c] for c in (rec.get("subjects") or []) if c in subject_map
        ),
        "resource_type": RESOURCE_TYPE_MAP.get(rec.get("type"), "Other"),
        "date_created": normalize_date(rec.get("date")),
        "abstract": rec.get("abstract") or "",
        "official_url": rec.get("official_url") or "",
        "file": "|".join(d["main"] for d in docs if d.get("main") is not None),
    }


def as_written(row: dict) -> tuple:
    """A row as a CSV reader gets it back: nulls and empties both read
    as '', every value writer-stripped, in Bulkrax column order."""
    return tuple(writer_strip(row[c] or "") for c in BULKRAX_COLUMNS)


def expected_csv_rows(records, subject_map) -> Counter:
    return Counter(as_written(bulkrax_row(r, subject_map)) for r in records)


def expected_unmapped(records, subject_map) -> Counter:
    return Counter(
        (r["eprintid"], c)
        for r in records
        for c in (r.get("subjects") or [])
        if c not in subject_map
    )


def expected_null_main(records) -> Counter:
    return Counter(
        (r["eprintid"], pos)
        for r in records
        for pos, d in enumerate(r.get("documents") or [])
        if d.get("main") is None
    )


def read_csv_dir(path: str) -> tuple[list[str], Counter]:
    """Header and row multiset of a Spark CSV output directory."""
    header, rows = None, Counter()
    for f in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(f, newline="", encoding="utf-8") as fh:
            reader = csv.reader(fh)
            h = next(reader, None)
            if h is None:
                continue
            header = header or h
            rows.update(tuple(r) for r in reader)
    return header or [], rows


def diff_sample(got: Counter, want: Counter, n: int = 3) -> str:
    extra = list((got - want).elements())[:n]
    missing = list((want - got).elements())[:n]
    return f"unexpected={extra!r} missing={missing!r}"


class LedgerReplay:
    """Python model of the resync workload's ledger table: the state
    after every committed version, and each version's Bulkrax delta
    (the rows whose record is new or changed)."""

    def __init__(self, base: list[dict]):
        self.state = {r["eprintid"]: r for r in base}
        self.versions = [dict(self.state)]

    def apply(self, batch: list[dict]) -> list[dict]:
        changed = [r for r in batch if self.state.get(r["eprintid"]) != r]
        for r in batch:
            self.state[r["eprintid"]] = r
        self.versions.append(dict(self.state))
        return changed

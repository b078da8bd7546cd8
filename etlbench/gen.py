"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical files (``tests/test_gen.py`` pins this). Records follow
the EPrints JSON export shape that ``etl.EPRINTS_SCHEMA`` declares, with
the properties the ETL has to get right planted on purpose:

- long-tailed creator lists (most records have one or two creators, a
  few have hundreds);
- ~5% of subject codes missing from the vocabulary (the unmapped report);
- ~10% of documents with ``main = null`` (the null-main report);
- all three EPrints date forms (``2019``, ``2019-05``, ``2019-05-07``);
- abstracts with embedded newlines, quotes, commas and leading/trailing
  whitespace padding (spaces, tabs, newlines).
"""

from __future__ import annotations

import csv
import json
import os
import random

# The vocabulary: 40 mapped codes. Unmapped codes come from a disjoint
# pool so a planted unmapped code can never collide with a mapped one.
SUBJECT_MAP = [(f"S{i:02d}", f"Subject {i:02d} Studies") for i in range(40)]
UNMAPPED_CODES = [f"XX{i}" for i in range(12)]
UNMAPPED_SHARE = 0.05
NULL_MAIN_SHARE = 0.10

TYPES = [
    "article", "article", "book_section", "monograph",
    "conference_item", "thesis", "dataset", "patent",
]
STATUSES = ["archive", "archive", "archive", "buffer"]
PUBLISHED = ["pub", "pub", "inpress", "unpub"]
FAMILIES = [
    "Alpha", "Beta", "Gamma", "Delta", "Müller", "Øster", "O'Neil",
    "Nguyen", "Smith", "García", "Kowalski", "Tanaka", "Okafor", "Lee",
]
GIVEN = ["Ann", "Bob", "Chen", "Dana", "Émile", "Femi", "Gus", "Hana", None]
WORDS = (
    "metadata migration repository archive record schema field value "
    "creator subject vocabulary export import batch delta ledger spark "
    "partition shuffle join window query index digital library thesis"
).split()
PADS = ["", "", "", " ", "  ", "\t", "\n", " \t", "\n  ", "\t\n "]
FORMATS = ["application/pdf", "text/csv", "image/png", "text/plain"]


def _sentence(rng: random.Random) -> str:
    words = rng.choices(WORDS, k=rng.randint(4, 12))
    if rng.random() < 0.3:
        i = rng.randrange(len(words))
        words[i] = f'"{words[i]}"'
    if rng.random() < 0.5:
        i = rng.randrange(len(words))
        words[i] = words[i] + ","
    return " ".join(words).capitalize() + "."


def _abstract(rng: random.Random) -> str | None:
    if rng.random() < 0.05:
        return None
    parts = [_sentence(rng) for _ in range(rng.randint(1, 4))]
    body = ""
    for p in parts:
        if body:
            body += "\n" if rng.random() < 0.3 else " "
        body += p
    return rng.choice(PADS) + body + rng.choice(PADS)


def _title(rng: random.Random) -> str:
    words = rng.choices(WORDS, k=rng.randint(2, 7))
    sep = [" ", " ", "  ", "\t"]
    out = words[0].capitalize()
    for w in words[1:]:
        out += rng.choice(sep) + w
    return rng.choice(["", "", " ", "  "]) + out + rng.choice(["", "", "  "])


def _date(rng: random.Random) -> str:
    y, m, d = rng.randint(1990, 2024), rng.randint(1, 12), rng.randint(1, 28)
    form = rng.randrange(3)
    s = [f"{y}", f"{y}-{m:02d}", f"{y}-{m:02d}-{d:02d}"][form]
    return s if rng.random() < 0.9 else f" {s} "


def _creators(rng: random.Random) -> list[dict]:
    # Pareto tail: ~60% single-author, a few lists in the hundreds.
    n = min(300, int(rng.paretovariate(1.2)))
    return [
        {
            "family": rng.choice(FAMILIES),
            "given": rng.choice(GIVEN),
            "id": f"c{rng.randrange(10_000)}" if rng.random() < 0.6 else None,
        }
        for _ in range(n)
    ]


def _subjects(rng: random.Random) -> list[str]:
    k = rng.choice([0, 1, 1, 2, 2, 3, 4])
    mapped = rng.sample(SUBJECT_MAP, k)
    out = []
    unmapped = rng.sample(UNMAPPED_CODES, len(UNMAPPED_CODES))
    for code, _ in mapped:
        out.append(unmapped.pop() if rng.random() < UNMAPPED_SHARE else code)
    return out


def _keywords(rng: random.Random) -> str | None:
    if rng.random() < 0.15:
        return None
    kws = rng.sample(WORDS, rng.randint(1, 4))
    out = ""
    for i, k in enumerate(kws):
        if i:
            out += rng.choice([";", "; ", " ;", " ; ", ";;"])
        out += k
    return out + rng.choice(["", "", ";", " ; "])


def _documents(rng: random.Random, eprintid: int) -> list[dict]:
    docs = []
    for j in range(rng.choice([0, 1, 1, 1, 2, 2, 3])):
        fmt = rng.choice(FORMATS)
        docs.append(
            {
                "main": None
                if rng.random() < NULL_MAIN_SHARE
                else f"file_{eprintid}_{j}.{fmt.split('/')[1]}",
                "format": fmt,
                "filesize": rng.randrange(1, 50_000_000),
                "security": rng.choice(["public", "public", "campus"]),
            }
        )
    return docs


def make_record(rng: random.Random, eprintid: int) -> dict:
    return {
        "eprintid": eprintid,
        "eprint_status": rng.choice(STATUSES),
        "type": rng.choice(TYPES),
        "title": _title(rng),
        "abstract": _abstract(rng),
        "date": _date(rng),
        "ispublished": rng.choice(PUBLISHED),
        "creators": _creators(rng),
        "subjects": _subjects(rng),
        "keywords": _keywords(rng),
        "official_url": f"https://doi.org/10.{rng.randrange(1000, 9999)}/"
        f"r{eprintid}"
        if rng.random() < 0.7
        else None,
        "documents": _documents(rng, eprintid),
    }


def make_records(seed: int, n: int) -> list[dict]:
    rng = random.Random(f"export:{seed}")
    return [make_record(rng, i) for i in range(1, n + 1)]


def make_batches(
    seed: int, n_base: int, n_batches: int, batch_rows: int
) -> list[list[dict]]:
    """Key-unique change batches against ``make_records(seed, n_base)``:
    each batch is half "recent" traffic (new records past the current
    max id, plus edits to the newest 2% of ids) and half scattered
    edits to old records. Every edit regenerates the record under its
    id, so every edited row really changes."""
    rng = random.Random(f"batches:{seed}")
    top = n_base
    batches = []
    for _ in range(n_batches):
        ids: set[int] = set()
        inserts = batch_rows // 4
        new_ids = list(range(top + 1, top + 1 + inserts))
        top += inserts
        ids.update(new_ids)
        recent_lo = max(1, top - max(50, top // 50))
        while len(ids) < batch_rows // 2:
            ids.add(rng.randint(recent_lo, top))
        while len(ids) < batch_rows:
            ids.add(rng.randint(1, top))
        batches.append([make_record(rng, i) for i in sorted(ids)])
    return batches


def dump_jsonl(records: list[dict], path: str) -> int:
    data = "".join(
        json.dumps(r, ensure_ascii=False) + "\n" for r in records
    ).encode("utf-8")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def dump_subject_map(path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["code", "label"])
        w.writerows(SUBJECT_MAP)

"""Generator determinism and the planted input properties."""

import json
import re
from collections import Counter

import gen


def _dump(tmp_path, name, recs):
    p = tmp_path / name
    gen.dump_jsonl(recs, str(p))
    return p.read_bytes()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _dump(tmp_path, "a.jsonl", gen.make_records(7, 500))
    b = _dump(tmp_path, "b.jsonl", gen.make_records(7, 500))
    assert a == b
    assert a != _dump(tmp_path, "c.jsonl", gen.make_records(8, 500))
    ba = [_dump(tmp_path, f"x{i}.jsonl", bt) for i, bt in enumerate(gen.make_batches(7, 500, 3, 40))]
    bb = [_dump(tmp_path, f"y{i}.jsonl", bt) for i, bt in enumerate(gen.make_batches(7, 500, 3, 40))]
    assert ba == bb


def test_planted_properties():
    recs = gen.make_records(3, 4000)
    codes = [c for r in recs for c in r["subjects"]]
    unmapped = sum(c in gen.UNMAPPED_CODES for c in codes) / len(codes)
    assert 0.035 < unmapped < 0.065
    docs = [d for r in recs for d in r["documents"]]
    null_main = sum(d["main"] is None for d in docs) / len(docs)
    assert 0.08 < null_main < 0.12
    forms = Counter(len(r["date"].strip()) for r in recs)
    assert set(forms) == {4, 7, 10}
    creators = sorted(len(r["creators"]) for r in recs)
    assert creators[len(creators) // 2] <= 2 and creators[-1] >= 50  # long tail
    abstracts = [r["abstract"] for r in recs if r["abstract"]]
    assert any("\n" in a.strip() for a in abstracts)
    assert any('"' in a for a in abstracts) and any("," in a for a in abstracts)
    assert any(a != a.strip() and a[0] in " \t\n" for a in abstracts)
    assert any(re.search(r"[\t\n]$", a) for a in abstracts)


def test_batches_are_key_unique_and_mix_recent_and_old():
    base = 2000
    for batch in gen.make_batches(5, base, 4, 100):
        ids = [r["eprintid"] for r in batch]
        assert len(ids) == len(set(ids)) == 100
        assert any(i > base for i in ids)  # inserts past the max id
        assert any(i < base // 2 for i in ids)  # scattered old edits


def test_records_round_trip_as_json_lines(tmp_path):
    recs = gen.make_records(1, 50)
    _dump(tmp_path, "r.jsonl", recs)
    lines = (tmp_path / "r.jsonl").read_text(encoding="utf-8").splitlines()
    assert [json.loads(x) for x in lines] == recs

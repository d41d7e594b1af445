"""Generators: same seed, same bytes; planted properties hold."""

import json

import gen


def test_ais_same_seed_same_bytes(tmp_path):
    a = gen.generate_ais(5, 3000, str(tmp_path / "a"))
    b = gen.generate_ais(5, 3000, str(tmp_path / "b"))
    c = gen.generate_ais(6, 3000, str(tmp_path / "c"))
    assert gen.digest(a.files) == gen.digest(b.files)
    assert gen.digest(a.files) != gen.digest(c.files)


def test_ais_planted_shares(tmp_path):
    m = gen.generate_ais(5, 6000, str(tmp_path))
    assert m.raw_rows > 5000
    # ~1% junk, two thirds of which has no id or time stamp
    assert 0.98 < m.valid_share < 1.0
    assert m.gold_rows < m.valid_rows
    assert len(m.planted_pairs) == gen.PLANTED_PAIRS
    assert all(a < b for a, b in m.planted_pairs)


def test_docs_same_seed_same_bytes(tmp_path):
    a = gen.generate_docs(5, 300, str(tmp_path / "a"))
    b = gen.generate_docs(5, 300, str(tmp_path / "b"))
    c = gen.generate_docs(6, 300, str(tmp_path / "c"))
    assert gen.digest(a.files) == gen.digest(b.files)
    assert gen.digest(a.files) != gen.digest(c.files)


def test_docs_planted_shares(tmp_path):
    m = gen.generate_docs(5, 2000, str(tmp_path))
    texts = [json.loads(line)["text"] for line in open(m.files[0])]
    assert len(texts) == 2000
    assert 0.6 < m.kept_share < 0.9
    assert 0.08 < m.duplicates / m.docs <= 0.1
    assert len(texts) - len(set(texts)) == m.duplicates
    assert any("@example.org" in t for t in texts)


def test_cache_reuses_entry(tmp_path):
    first = gen.cached("docs", 3, 100, str(tmp_path))
    mtime = (tmp_path / "docs-s3-n100" / "raw" / "docs.jsonl").stat().st_mtime_ns
    again = gen.cached("docs", 3, 100, str(tmp_path))
    assert again == first
    assert (tmp_path / "docs-s3-n100" / "raw" / "docs.jsonl").stat().st_mtime_ns == mtime

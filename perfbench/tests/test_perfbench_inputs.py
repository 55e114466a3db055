"""The same seed gives byte-identical inputs; another seed does not."""

import hashlib
import os

import gen


def _digest_dir(d: str) -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(d):
        for name in sorted(files):
            p = os.path.join(root, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _write_all(seed: int, out: str) -> dict[str, str]:
    gen.write_tables(gen.fixture_tables(seed, 0.001), os.path.join(out, "t"))
    gen.write_corpus(gen.corpus_files(seed, 64 << 10, 2000, 3), os.path.join(out, "w"))
    return _digest_dir(out)


def test_same_seed_gives_identical_bytes(tmp_path):
    a = _write_all(11, str(tmp_path / "a"))
    b = _write_all(11, str(tmp_path / "b"))
    assert a and a == b


def test_other_seed_gives_other_inputs(tmp_path):
    a = _write_all(11, str(tmp_path / "a"))
    b = _write_all(12, str(tmp_path / "b"))
    changed = {k for k in a if a[k] != b.get(k)}
    # region/nation are fixed by the schema; everything else moves
    assert changed >= {"t/lineitem.parquet", "t/events.parquet", "w/part-000.txt"}


def test_corpus_files_hold_whole_lines():
    files = gen.corpus_files(3, 32 << 10, 500, 4)
    assert len(files) == 4
    assert all(f.endswith(b"\n") for f in files)
    text = b"".join(files).decode("utf-8")
    assert any(ord(c) > 127 for c in text) and any(c.isupper() for c in text)

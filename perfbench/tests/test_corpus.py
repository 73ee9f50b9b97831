from __future__ import annotations

import os

import corpus
from flinkproj_spark.sources.tables import TABLES


def _bytes(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_corpus_is_a_function_of_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    assert corpus.write_corpus(a, 3) == corpus.write_corpus(b, 3)
    corpus.write_corpus(c, 4)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a)["lineitem.parquet"] != _bytes(c)["lineitem.parquet"]
    assert sorted(_bytes(a)) == sorted(f"{t}.parquet" for t in TABLES)


def test_backlog_is_a_function_of_seed(tmp_path):
    a = corpus.audit_backlog(str(tmp_path / "a"), 6, 40, 9)
    b = corpus.audit_backlog(str(tmp_path / "b"), 6, 40, 9)
    c = corpus.audit_backlog(str(tmp_path / "c"), 6, 40, 10)
    assert _bytes(str(tmp_path / "a")) == _bytes(str(tmp_path / "b"))
    assert a.on_time == b.on_time and a.late_per_file == b.late_per_file
    assert a.on_time != c.on_time


def test_backlog_shape(tmp_path):
    b = corpus.audit_backlog(str(tmp_path), 5, 100, 1)
    assert b.late_per_file == [0, 0, 5, 5, 5]
    assert b.rows == 500 and len(b.on_time) == 500 - b.late
    mtimes = [os.path.getmtime(f) for f in b.files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)

"""Self-tests of the benchmark itself: generator determinism and the
output check. Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import corpus  # noqa: E402
from check import check_rows, check_texts, read_output  # noqa: E402


def test_same_seed_same_bytes():
    a = corpus.generate(5)
    b = corpus.generate(5)
    assert a.byte_hash() == b.byte_hash()
    assert a.url_hash() == b.url_hash()
    assert a.golden == b.golden


def test_two_seeds_same_mix_different_urls():
    a = corpus.generate(1)
    b = corpus.generate(2)
    assert a.classes == b.classes == {1: 4562, 8: 381, 2000: 51, 8000: 6}
    assert len(set(a.urls)) == a.docs and len(set(b.urls)) == b.docs
    # rows are drawn with replacement, so about half the urls differ
    assert len(set(a.urls) - set(b.urls)) > a.docs // 3
    assert abs(a.html_bytes - b.html_bytes) / a.html_bytes < 0.02


def test_bands_cover_the_table_once_within_one_class():
    from html_parser_spark.sources.pages import rep_factor
    pages = corpus._pages()
    bands = corpus.bands(pages)
    assert sorted(d for b in bands for d in b) == sorted(pages)
    for b in bands:
        assert len({rep_factor(d) for d in b}) == 1
        assert len(b) <= corpus.BAND_ROWS


def test_golden_text_matches_the_engine():
    from engine_layers import kernel_pass
    c = corpus.generate(4)
    texts, _doc_s, _cpu = kernel_pass(c.html[:300])
    res = check_texts(c.urls[:300], texts,
                      {u: c.golden[u] for u in c.urls[:300]})
    assert res.failed == 0 and res.attempted == 300


def test_check_counts_planted_failures():
    golden = {"u1": "a", "u2": "b", "u3": "c", "u4": "d"}
    rows = [("u1", "a", "utf-8"),
            ("u2", "B", "utf-8"),      # wrong text
            ("u3", "", "error"),       # failure arm
            ("u4", "d", "utf-8")]
    res = check_rows(rows, golden)
    assert (res.attempted, res.failed) == (4, 2)
    assert (res.mismatched, res.failure_arm) == (1, 1)


def test_check_counts_missing_and_extra_rows():
    golden = {"u1": "a", "u2": "b"}
    res = check_rows([("u1", "a", "utf-8"), ("u1", "a", "utf-8"),
                      ("zz", "x", "utf-8")], golden)
    assert (res.missing, res.extra, res.failed) == (1, 2, 3)


def test_check_reads_a_written_output(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        "url": ["u1", "u2", "u3"], "text": ["a", "wrong", ""],
        "encoding": ["utf-8", "utf-8", "error"],
        "part_id": [0, 0, 1], "batch_seq": [0, 1, 0]}),
        str(tmp_path / "part-0.parquet"))
    rows, batches = read_output(str(tmp_path))
    res = check_rows(rows, {"u1": "a", "u2": "b", "u3": "c"})
    assert batches == 3
    assert (res.failed, res.mismatched, res.failure_arm) == (2, 1, 1)


def test_stage_writes_every_row_once(tmp_path):
    import pyarrow.parquet as pq
    c = corpus.generate(6)
    corpus.stage(c, str(tmp_path), 4, 6)
    t = pq.read_table(str(tmp_path))
    assert len(os.listdir(tmp_path)) == 4
    assert sorted(t.column("url").to_pylist()) == sorted(c.urls)

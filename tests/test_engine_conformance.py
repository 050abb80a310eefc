"""Conformance suites in the html5lib public formats (tests/fixtures/).

The pass criterion mirrors the reference's runners
(/root/reference/tests/cases/TestTokenizer.php:125-154 merges adjacent
character tokens; TestTreeConstructor.php:179-214 compares pipe-format
trees; TestCharset.php:70-73 compares sniffed encodings)."""

import pytest

from html_parser_spark.conformance import (
    iter_fixture_files, load_encoding_cases, load_serializer_cases,
    load_tokenizer_cases, load_tree_cases, run_serializer_case,
    run_tokenizer_case, run_tree_case,
)
from html_parser_spark.engine import charset

_TOKENIZER_CASES = [
    c for path in iter_fixture_files("tokenizer", ".test")
    for c in load_tokenizer_cases(path)
]
_TREE_CASES = [
    c for path in iter_fixture_files("tree-construction", ".dat")
    for c in load_tree_cases(path)
]
_ENCODING_CASES = [
    c for path in iter_fixture_files("encoding", ".dat")
    for c in load_encoding_cases(path)
]
_SERIALIZER_CASES = [
    c for path in iter_fixture_files("serializer", ".dat")
    for c in load_serializer_cases(path)
]


@pytest.mark.parametrize("cid,case,state", _TOKENIZER_CASES,
                         ids=[c[0] for c in _TOKENIZER_CASES])
def test_tokenizer_conformance(cid, case, state):
    actual, expected = run_tokenizer_case(case, state)
    assert actual == expected, f"{case['description']}: {actual!r} != {expected!r}"


_TOKENIZER_ERROR_CASES = [c for c in _TOKENIZER_CASES if "errors" in c[1]]


@pytest.mark.parametrize("cid,case,state", _TOKENIZER_ERROR_CASES,
                         ids=[c[0] for c in _TOKENIZER_ERROR_CASES])
def test_tokenizer_error_codes(cid, case, state):
    from html_parser_spark.conformance import run_tokenizer_errors
    actual, expected = run_tokenizer_errors(case, state)
    assert actual == expected, case["description"]


@pytest.mark.parametrize("case", _TREE_CASES, ids=[c["case_id"] for c in _TREE_CASES])
def test_tree_conformance(case):
    actual, expected = run_tree_case(case)
    assert actual == expected, f"\ninput: {case['input']!r}\ngot:\n{actual}\nexpected:\n{expected}"


@pytest.mark.parametrize("case", _ENCODING_CASES,
                         ids=[c["case_id"] for c in _ENCODING_CASES])
def test_encoding_conformance(case):
    enc, _certain = charset.sniff(case["input"])
    assert enc == case["expected"]


@pytest.mark.parametrize("case", _SERIALIZER_CASES,
                         ids=[c["case_id"] for c in _SERIALIZER_CASES])
def test_serializer_conformance(case):
    actual, expected = run_serializer_case(case)
    assert actual == expected, f"\ngot:      {actual!r}\nexpected: {expected!r}"


def test_suites_are_nonempty():
    assert len(_TOKENIZER_CASES) >= 60
    assert len(_TREE_CASES) >= 50
    assert len(_ENCODING_CASES) >= 10
    assert len(_SERIALIZER_CASES) >= 10

"""Parity against the reference's OWN bundled test cases.

The files under /root/reference/tests/cases/{tokenizer,tree-construction,
encoding,serializer} are the reference's local supplementary suites in
the public html5lib formats. They are read in place (never vendored —
this repo copies no reference content) and every case must pass: this is
the literal "matches the reference's results on its own test queries"
criterion. Skipped cleanly if the reference checkout is absent.

Reference-parity notes honored by the engine:
- the non-standard PI-preservation option (Config::processingInstructions,
  enabled by the reference's own tree-test runner) — auto-enabled per
  case when the golden tree contains a PI node;
- the xml:id foreign-attribute deviation (TreeConstructor.php:212);
- the bad-xmlns/xmlns:xlink drop rule (TreeConstructor.php:4040-4046).
"""

import glob
import os

import pytest

from html_parser_spark import conformance as conf
from html_parser_spark.engine import charset

REF = "/root/reference/tests/cases"

pytestmark = pytest.mark.skipif(not os.path.isdir(REF),
                                reason="reference checkout not present")


def _files(sub, suffix):
    return sorted(glob.glob(f"{REF}/{sub}/*{suffix}"))


_TOK = [c for p in _files("tokenizer", ".test")
        for c in conf.load_tokenizer_cases(p)]
_TREE = [c for p in _files("tree-construction", ".dat")
         for c in conf.load_tree_cases(p, pi=True)]
_ENC = [c for p in _files("encoding", ".dat")
        for c in conf.load_encoding_cases(p)]
_SER = [c for p in _files("serializer", ".dat")
        for c in conf.load_serializer_cases(p)]


@pytest.mark.parametrize("cid,case,state", _TOK, ids=[c[0] for c in _TOK])
def test_reference_tokenizer(cid, case, state):
    actual, expected = conf.run_tokenizer_case(case, state)
    assert actual == expected


_TOK_ERR = [c for c in _TOK if "errors" in c[1]]


@pytest.mark.parametrize("cid,case,state", _TOK_ERR,
                         ids=[c[0] for c in _TOK_ERR])
def test_reference_tokenizer_error_tuples(cid, case, state):
    """The reference's bundled cases assert full {code, line, col}
    error tuples (ParseErrorEmitter.php:62-69); the runner upgrades to
    position comparison when the fixture carries positions."""
    actual, expected = conf.run_tokenizer_errors(case, state)
    assert actual == expected


@pytest.mark.parametrize("case", _TREE, ids=[c["case_id"] for c in _TREE])
def test_reference_tree(case):
    actual, expected = conf.run_tree_case(case)
    assert actual == expected, f"\n{case['input']!r}\ngot:\n{actual}\nwant:\n{expected}"


@pytest.mark.parametrize("case", _ENC, ids=[c["case_id"] for c in _ENC])
def test_reference_encoding(case):
    assert charset.sniff(case["input"])[0] == case["expected"]


@pytest.mark.parametrize("case", _SER, ids=[c["case_id"] for c in _SER])
def test_reference_serializer(case):
    actual, expected = conf.run_serializer_case(case)
    assert actual == expected


def test_reference_suites_nonempty():
    assert len(_TOK) >= 3 and len(_TREE) >= 25
    assert len(_ENC) >= 5 and len(_SER) >= 100

"""Distributed conformance runner: html5lib-format suites through the
same engine code paths the production UDF uses.

The reference runs its conformance corpus single-process under PHPUnit
(/root/reference/tests/cases/TestTokenizer.php:99-216,
TestTreeConstructor.php:65-136); here the cases become a DataFrame and
the pass/fail evaluation fans out across executors — at full
html5lib-tests scale (thousands of cases × fragment contexts) that's a
few seconds instead of minutes, and the *same* kernel binary (the
engine package shipped via --py-files) is what gets certified, on the
same row driver (``operators/extract.py``) as the production UDF.
"""

from __future__ import annotations

import json

from .. import conformance as conf
from .extract import _map_rows

CASE_SCHEMA = "case_id string, kind string, payload string"
RESULT_SCHEMA = "case_id string, kind string, passed boolean"


def load_all_cases() -> list[tuple[str, str, str]]:
    """Flatten every fixture suite into (case_id, kind, payload-json)."""
    rows: list[tuple[str, str, str]] = []
    for path in conf.iter_fixture_files("tokenizer", ".test"):
        for case_id, case, state in conf.load_tokenizer_cases(path):
            rows.append((case_id, "tokenizer",
                         json.dumps({"case": case, "state": state})))
    for path in conf.iter_fixture_files("tree-construction", ".dat"):
        for case in conf.load_tree_cases(path):
            rows.append((case["case_id"], "tree", json.dumps(case)))
    for path in conf.iter_fixture_files("encoding", ".dat"):
        for case in conf.load_encoding_cases(path):
            rows.append((case["case_id"], "encoding", json.dumps(
                {"input_hex": case["input"].hex(),
                 "expected": case["expected"]})))
    for path in conf.iter_fixture_files("serializer", ".dat"):
        for case in conf.load_serializer_cases(path):
            rows.append((case["case_id"], "serializer", json.dumps(case)))
    return rows


def _run_case(kind: str, payload: str) -> bool:
    p = json.loads(payload)
    if kind == "tokenizer":
        actual, expected = conf.run_tokenizer_case(p["case"], p["state"])
        return actual == expected
    if kind == "tree":
        actual, expected = conf.run_tree_case(p)
        return actual == expected
    if kind == "encoding":
        from ..engine import charset
        enc, _ = charset.sniff(bytes.fromhex(p["input_hex"]))
        return enc == p["expected"]
    if kind == "serializer":
        actual, expected = conf.run_serializer_case(p)
        return actual == expected
    return False


def conformance_results(spark):
    """DataFrame of (case_id, kind, passed) for every fixture case."""
    df = spark.createDataFrame(load_all_cases(), schema=CASE_SCHEMA)

    def per_row(row):
        return [(bool(_run_case(row[1], row[2])),)]

    return _map_rows(df, RESULT_SCHEMA, per_row, (False,))

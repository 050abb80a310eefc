"""Output check: every extracted text against the golden text, by url.

A document fails if its row is in the failure arm
(``encoding == 'error'``), its text differs from the golden text by a
single byte, or its url is missing from (or repeated in) the output.
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import dataclass


@dataclass
class CheckResult:
    attempted: int = 0
    failure_arm: int = 0
    mismatched: int = 0
    missing: int = 0
    extra: int = 0

    @property
    def failed(self) -> int:
        return self.failure_arm + self.mismatched + self.missing + self.extra

    def add(self, other: "CheckResult") -> None:
        for k in ("attempted", "failure_arm", "mismatched", "missing",
                  "extra"):
            setattr(self, k, getattr(self, k) + getattr(other, k))


def check_rows(rows: Iterable[tuple[str, str, str]],
               golden: dict[str, str]) -> CheckResult:
    """``rows`` are ``(url, text, encoding)`` output rows."""
    res = CheckResult(attempted=len(golden))
    seen: set[str] = set()
    for url, text, encoding in rows:
        if url in seen or url not in golden:
            res.extra += 1  # a row the input does not explain
            continue
        seen.add(url)
        if encoding == "error":
            res.failure_arm += 1
        elif text != golden[url]:
            res.mismatched += 1
    res.missing = len(golden) - len(seen)
    return res


def check_texts(urls: list[str], texts: list[str],
                golden: dict[str, str]) -> CheckResult:
    """In-process kernel output: texts aligned with ``urls``."""
    return check_rows(((u, t, "") for u, t in zip(urls, texts)), golden)


def read_output(path: str) -> tuple[list[tuple[str, str, str]], int]:
    """``(url, text, encoding)`` rows of a written extraction output and
    its number of Arrow batches (distinct ``(part_id, batch_seq)``)."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["url", "text", "encoding", "part_id",
                                     "batch_seq"])
    rows = list(zip(t.column("url").to_pylist(),
                    t.column("text").to_pylist(),
                    t.column("encoding").to_pylist()))
    batches = len(set(zip(t.column("part_id").to_pylist(),
                          t.column("batch_seq").to_pylist())))
    return rows, batches

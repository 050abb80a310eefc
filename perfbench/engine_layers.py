"""In-process engine passes: the ``kernel_inproc`` workload and the
engine layer split of the traced run.

Both passes keep the GC policy of ``operators.extract.extract_pages``:
the cyclic collector is off while documents parse and runs once per
Arrow-batch-sized group of documents. The objects alive before a pass
(the benchmark's own, and Spark's in a traced Spark run) are frozen
out of those collections, so they free the engine's trees without
scanning the harness.
"""

from __future__ import annotations

import gc
import os
import statistics
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

BATCH_DOCS = 64  # plans.pipeline.configure's arrow_batch
PROBE_LOOPS = 100_000  # about 6.5 ms on a quiet core of the README's host


@contextmanager
def _engine_gc() -> Iterator[None]:
    was_enabled = gc.isenabled()
    gc.collect()
    gc.freeze()
    gc.disable()
    try:
        yield
    finally:
        gc.unfreeze()
        if was_enabled:
            gc.enable()


def probe() -> tuple[float, float]:
    """Wall and CPU seconds of a fixed pure-Python loop that touches
    nothing of the program: how fast this core runs interpreter code
    right now, and how much of the time the host lets it run."""
    w0, c0 = time.perf_counter(), time.thread_time()
    acc = 0
    for i in range(PROBE_LOOPS):
        acc += i * i % 7
    return time.perf_counter() - w0, time.thread_time() - c0


def kernel_pass(pages: list[bytes], cpus: list[int] | None = None,
                first: int = 0
                ) -> tuple[list[str], list[float], list[tuple[float, ...]]]:
    """``parse`` + ``extract_body_text`` over ``pages`` on this thread.
    Returns the texts, the per-document CPU seconds, and for each batch
    of documents its wall and CPU seconds, its collection included.

    With ``cpus`` the pass is measured against the host: batch ``k``
    runs pinned to ``cpus[(first + k) % n]`` and each batch's entry
    also holds a ``probe`` taken on that core just before it. On a
    shared host one core can run a third slower than the others for
    many seconds while other tenants load it; a caller that steps ``first``
    from pass to pass sees each batch on every core, and the probes
    tell how slow the core was when it ran (see ``per_batch``)."""
    from html_parser_spark.engine import parse
    from html_parser_spark.engine.extractor import extract_body_text
    clock, wall = time.thread_time, time.perf_counter
    texts, doc_s, batches = [], [], []
    home = os.sched_getaffinity(0)
    try:
        with _engine_gc():
            for k, start in enumerate(range(0, len(pages), BATCH_DOCS)):
                probed = ()
                if cpus:
                    os.sched_setaffinity(0, {cpus[(first + k) % len(cpus)]})
                    probed = probe()
                w0, c0 = wall(), clock()
                for raw in pages[start:start + BATCH_DOCS]:
                    t0 = clock()
                    texts.append(extract_body_text(parse(raw).document))
                    doc_s.append(clock() - t0)
                gc.collect()
                batches.append((wall() - w0, clock() - c0) + probed)
    finally:
        os.sched_setaffinity(0, home)
    return texts, doc_s, batches


@dataclass
class LayerSplit:
    """CPU seconds per engine layer plus work counts for one pass."""
    sniff_s: float = 0.0
    decode_s: float = 0.0
    tokenizer_s: float = 0.0
    parse_s: float = 0.0
    extractor_s: float = 0.0
    gc_s: float = 0.0
    tokens: int = 0
    elements: int = 0
    errors: int = 0
    texts: list[str] = field(default_factory=list)

    @property
    def treebuilder_s(self) -> float:
        # parse runs sniff, decode and the tokenizer itself; the rest
        # of its time is tree construction
        return self.parse_s - self.sniff_s - self.decode_s - self.tokenizer_s

    @property
    def layer_sum_s(self) -> float:
        return self.parse_s + self.extractor_s + self.gc_s


def layered_pass(pages: list[bytes]) -> LayerSplit:
    """Time each layer's public entry point separately per document:
    ``charset.sniff``, ``charset.decode_count``, a drained
    ``Tokenizer(text).tokenize()``, then ``parse`` and ``extract_body_text``;
    plus the per-batch collections, which free the documents' trees
    (the DOM holds parent/child cycles)."""
    from html_parser_spark.engine import charset, parse
    from html_parser_spark.engine.extractor import extract_body_text
    from html_parser_spark.engine.tokenizer import Tokenizer
    clock = time.thread_time
    split = LayerSplit()
    with _engine_gc():
        for i, raw in enumerate(pages):
            t0 = clock()
            enc, _certain = charset.sniff(raw)
            t1 = clock()
            text, _n_bad = charset.decode_count(raw, enc)
            t2 = clock()
            for _tok in Tokenizer(text).tokenize():
                pass
            t3 = clock()
            out = parse(raw)
            t4 = clock()
            split.texts.append(extract_body_text(out.document))
            t5 = clock()
            split.sniff_s += t1 - t0
            split.decode_s += t2 - t1
            split.tokenizer_s += t3 - t2
            split.parse_s += t4 - t3
            split.extractor_s += t5 - t4
            split.tokens += out.n_tokens
            split.elements += out.n_elements
            split.errors += len(out.errors)
            del out
            if i % BATCH_DOCS == BATCH_DOCS - 1 or i == len(pages) - 1:
                t6 = clock()
                gc.collect()
                split.gc_s += clock() - t6
    return split


def per_batch(passes: list[list[tuple[float, ...]]],
              quiet: tuple[float, float] | None = None
              ) -> tuple[float, float]:
    """Wall and CPU seconds of one pass: each batch counts with its
    median over the passes. With ``quiet``, the run's fastest probe
    wall and CPU, each batch's wall and CPU are first scaled by
    ``quiet / probe``, to the host's speed at its quietest moment in
    the run: other tenants slow every core and steal time from it for
    minutes at a time, and the engine slows with the probe."""
    def scaled(b):
        if quiet is None:
            return b[0], b[1]
        return b[0] * quiet[0] / b[2], b[1] * quiet[1] / b[3]

    per = [[scaled(b) for b in batch] for batch in zip(*passes)]
    return (sum(statistics.median(w for w, _c in b) for b in per),
            sum(statistics.median(c for _w, c in b) for b in per))


def quantile_ms(doc_s: list[float], q: float) -> float:
    """Per-document time quantile in ms (``statistics.quantiles``)."""
    cuts = statistics.quantiles(doc_s, n=100, method="inclusive")
    return 1000 * cuts[round(q * 100) - 1]

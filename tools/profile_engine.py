"""Single-core engine throughput probe + cProfile breakdown.

Samples the benchmark corpus (``perfbench.corpus.generate(seed)``, the
pages the ``kernel_inproc`` workload parses), then measures
parse+extract wall on ONE core, interleaved A/B-able, and optionally
prints the cProfile top sites.

Usage: python tools/profile_engine.py [n_docs] [reps] [seed] [--profile]

``n_docs`` 0 (the default) takes the whole corpus (5,000 pages,
~58 MB); otherwise a seeded sample of that many pages.
"""
from __future__ import annotations

import random
import sys
import time

sys.path.insert(0, ".")


def sample(n_docs: int = 0, seed: int = 7) -> list[bytes]:
    from perfbench.corpus import generate
    pages = generate(seed).html
    if 0 < n_docs < len(pages):
        pick = sorted(random.Random(seed).sample(range(len(pages)), n_docs))
        pages = [pages[i] for i in pick]
    return pages


def one_pass(pages) -> float:
    from html_parser_spark.engine import parse
    from html_parser_spark.engine.extractor import extract_body_text
    t0 = time.perf_counter()
    for raw in pages:
        o = parse(raw)
        extract_body_text(o.document)
    return time.perf_counter() - t0


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_docs = int(args[0]) if args else 0
    reps = int(args[1]) if len(args) > 1 else 3
    seed = int(args[2]) if len(args) > 2 else 7
    pages = sample(n_docs, seed)
    mb = sum(len(p) for p in pages) / 1e6
    one_pass(pages[:40])  # warm imports/regex caches
    walls = [one_pass(pages) for _ in range(reps)]
    best = min(walls)
    mid = sorted(walls)[len(walls) // 2]
    print(f"docs={len(pages)} seed={seed} mb={mb:.2f} best={best:.3f}s "
          f"({mb/best:.2f} MB/s) mid={mid:.3f}s ({mb/mid:.2f} MB/s) "
          f"walls={[round(w,3) for w in walls]}")
    if "--profile" in sys.argv:
        import cProfile
        import pstats
        pr = cProfile.Profile()
        pr.enable()
        one_pass(pages)
        pr.disable()
        pstats.Stats(pr).sort_stats("tottime").print_stats(22)


if __name__ == "__main__":
    main()

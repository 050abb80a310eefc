"""Paired in-process A/B: OLD engine (a renamed copy of the package
snapshot, relative imports only, at ``<old_pkg_dir>/old_engine``) vs the
working-tree engine, in ONE process so co-tenant load hits both sides
alike. Pages come from ``tools.profile_engine.sample`` (the benchmark
corpus; ``n_docs`` 0 takes all of it).

Each block runs one pass of each side, and the side that runs first
alternates from block to block. A pass is timed in process CPU seconds
under the kernel's GC policy: the collector is off and one collection
runs per ``BATCH_DOCS`` documents, its time included. The report reads
like the benchmark's rule for a claimed gain: how many blocks the new
side won, both medians, and the old side's quartiles; a gain needs at
least nine tenths of the blocks and a median difference larger than the
old side's quartile spread. For finding candidates only; claims come
from perfbench.
Usage: python tools/ab_engine.py [old_pkg_dir] [n_docs] [blocks] [seed]
"""
from __future__ import annotations

import gc
import importlib
import statistics
import sys
import time

sys.path.insert(0, ".")


def main():
    old_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/abpkg"
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    blocks = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    seed = int(sys.argv[4]) if len(sys.argv) > 4 else 7
    sys.path.insert(0, old_dir)

    from perfbench.engine_layers import BATCH_DOCS
    from tools.profile_engine import sample
    pages = sample(n_docs, seed)
    mb = sum(len(p) for p in pages) / 1e6

    old = importlib.import_module("old_engine")
    import html_parser_spark.engine as new
    from html_parser_spark.engine.extractor import extract_body_text as nx
    ox = importlib.import_module("old_engine.extractor").extract_body_text
    sides = ((old.parse, ox), (new.parse, nx))

    def one(parse, extract):
        gc.collect()
        gc.freeze()
        gc.disable()
        try:
            c0 = time.process_time()
            for start in range(0, len(pages), BATCH_DOCS):
                for raw in pages[start:start + BATCH_DOCS]:
                    extract(parse(raw).document)
                gc.collect()
            return time.process_time() - c0
        finally:
            gc.unfreeze()
            gc.enable()

    for side in sides:
        one(*side)  # warm both
    cpu = ([], [])
    for b in range(blocks):
        for i in ((0, 1) if b % 2 == 0 else (1, 0)):
            cpu[i].append(one(*sides[i]))
    olds, news = cpu
    wins = sum(n < o for o, n in zip(olds, news))
    mo, mn = statistics.median(olds), statistics.median(news)
    q1, _, q3 = statistics.quantiles(olds, n=4)
    print(f"docs={len(pages)} seed={seed} mb={mb:.2f} blocks={blocks}")
    print(f"OLD median={mo:.3f}s q1={q1:.3f}s q3={q3:.3f}s "
          f"cpu_s={[round(c, 3) for c in olds]}")
    print(f"NEW median={mn:.3f}s cpu_s={[round(c, 3) for c in news]}")
    print(f"NEW won {wins}/{blocks} blocks; median {mn / mo - 1:+.1%}, "
          f"OLD IQR {(q3 - q1) / mo:.1%} of its median; gain by the "
          f"rule: {'yes' if wins >= 0.9 * blocks and mo - mn > q3 - q1 else 'no'}")


if __name__ == "__main__":
    main()

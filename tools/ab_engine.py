"""Paired in-process A/B: OLD engine (a renamed copy of the package
snapshot, relative imports only) vs the working-tree engine, alternated
pass-by-pass in ONE process so co-tenant steal hits both sides equally.
Pages come from ``tools.profile_engine.sample`` (the benchmark corpus;
``n_docs`` 0 takes all of it).
Usage: python tools/ab_engine.py [old_pkg_dir] [n_docs] [blocks] [seed]
"""
from __future__ import annotations

import importlib
import sys
import time

sys.path.insert(0, ".")


def main():
    old_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/abpkg"
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    blocks = int(sys.argv[3]) if len(sys.argv) > 3 else 6
    seed = int(sys.argv[4]) if len(sys.argv) > 4 else 7
    sys.path.insert(0, old_dir)

    from tools.profile_engine import sample
    pages = sample(n_docs, seed)
    mb = sum(len(p) for p in pages) / 1e6

    old = importlib.import_module("old_engine")
    import html_parser_spark.engine as new
    from html_parser_spark.engine.extractor import extract_body_text as nx
    ox = importlib.import_module("old_engine.extractor").extract_body_text

    def one(parse, extract):
        t0 = time.perf_counter()
        for raw in pages:
            extract(parse(raw).document)
        return time.perf_counter() - t0

    one(old.parse, ox)
    one(new.parse, nx)  # warm both
    olds, news = [], []
    for _ in range(blocks):
        olds.append(one(old.parse, ox))
        news.append(one(new.parse, nx))
    bo, bn = min(olds), min(news)
    print(f"docs={len(pages)} seed={seed} mb={mb:.2f} blocks={blocks}")
    print(f"OLD best={bo:.3f}s {mb/bo:.2f} MB/s walls={[round(w,3) for w in olds]}")
    print(f"NEW best={bn:.3f}s {mb/bn:.2f} MB/s walls={[round(w,3) for w in news]}")
    print(f"speedup best/best = {bo/bn:.3f}x")


if __name__ == "__main__":
    main()

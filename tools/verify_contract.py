"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the given sf, compare row count + column names + order-insensitive
values, AND the Arrow result types on both sides (the driver's value
hash is type-sensitive: a DuckDB HUGEINT window-sum surfacing as
decimal128 vs Spark's int64 hash-mismatches even when every value is
identical — exactly the round-2 ``crawl_sessions`` failure mode).
Usage: python tools/verify_contract.py [sf_dir] [query ...]
Spark runs on ``SPARK_GRAFT_CPUS`` cores, else on every core this
process may use (``configure``'s default).
Exits non-zero on any failure or unknown query name; the last line is
``PASS n/m`` (queries passed / queries run)."""

from __future__ import annotations

import sys
import time

import duckdb

sys.path.insert(0, ".")

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def arrow_class(t) -> str:
    """Collapse an Arrow type to the equivalence class the driver's
    type-sensitive hash distinguishes. int32 vs int64 vs decimal128 are
    distinct (the repo convention is to cast every int output to bigint
    on BOTH sides); string/large_string are one class (DuckDB picks
    either depending on version); timestamps compare by unit only."""
    import pyarrow as pa
    if pa.types.is_integer(t):
        return f"int{t.bit_width}" if pa.types.is_signed_integer(t) \
            else f"uint{t.bit_width}"
    if pa.types.is_floating(t):
        return f"float{t.bit_width}"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit}]"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_class(t.value_type)}>"
    return str(t)


def spark_arrow_classes(sdf) -> dict:
    """Arrow type class per column of a Spark DataFrame, via the same
    Spark->Arrow conversion path the driver uses (schema-only: convert
    an empty slice so no data moves)."""
    tbl = sdf.limit(0).toArrow()
    return {f.name: arrow_class(f.type) for f in tbl.schema}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    if "/" not in sf_dir:  # accept bare "sf0.01"
        sf_dir = f"/root/testdata/{sf_dir}"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from html_parser_spark.plans.pipeline import configure

    qs, oracles = e.queries(), e.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown queries: {', '.join(unknown)}")
        return 2

    spark = configure()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sf_dir}/{t}.parquet'")
        except Exception:
            pass

    failures = passed = run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        run += 1
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            cols = sorted(sdf.columns)
            stypes = spark_arrow_classes(sdf)
            srows = sorted(tuple(norm(r[c]) for c in cols)
                           for r in sdf.collect())
        except Exception as ex:
            print(f"FAIL {name}: spark error {ex!r:.300}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, no oracle) "
                  f"[{time.monotonic() - t0:.1f}s]")
            continue
        try:
            otbl = con.execute(oracles[name]).arrow()
            otypes = {f.name: arrow_class(f.type) for f in otbl.schema}
            ocols = sorted(otbl.schema.names)
            raw = [tuple(c[i].as_py() for c in otbl.columns)
                   for i in range(otbl.num_rows)]
            idx = [otbl.schema.names.index(c) for c in ocols]
            orows = sorted(tuple(norm(r[i]) for i in idx) for r in raw)
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {ex!r:.300}")
            failures += 1
            continue
        status = []
        if cols != ocols:
            status.append(f"cols {cols} != {ocols}")
        tdiff = {c: (stypes.get(c), otypes.get(c)) for c in cols
                 if c in otypes and stypes.get(c) != otypes.get(c)}
        if tdiff:
            status.append(f"arrow types differ (spark, oracle): {tdiff}")
        if len(srows) != len(orows):
            status.append(f"rows {len(srows)} != {len(orows)}")
        if not status and srows != orows:
            diff = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
            status.append(f"values differ, e.g. {diff}")
        if status:
            print(f"FAIL {name}: {'; '.join(status)}"[:2000])
            failures += 1
        else:
            passed += 1
            print(f"PASS {name} ({len(srows)} rows) "
                  f"[{time.monotonic() - t0:.1f}s]")
    spark.stop()
    print(f"PASS {passed}/{run}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

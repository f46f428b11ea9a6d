"""Run EVERY queries()/oracle_sql() pair against DuckDB at an arbitrary
scale directory — the same three checks the driver records in
CORRECTNESS_r{N}.json (row count, schema, order-insensitive value
hash), pointed at any sf dir.

Usage:
    python scripts/validate_pairs.py [sf_dir] [name ...]

Defaults to /root/testdata/sf0.1 (10x the driver's correctness scale).
Positional names restrict the run to those pairs. Exit code 0 iff every
selected pair passes all three checks with non-zero rows.
"""

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))

from oracle_compare import compare, duck_connection  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from tilemaker_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    pairs = set(q) & set(o)
    # args[0] is the sf_dir when it names a directory (and not a pair),
    # or looks like a path — a typoed path must fail here, not be
    # reinterpreted as an unknown pair name
    if args and args[0] not in pairs and (
            os.path.isdir(args[0]) or os.sep in args[0]
            or args[0].startswith(".")):
        if not os.path.isdir(args[0]):
            print(f"error: sf_dir {args[0]!r} is not a directory")
            return 2
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", args
    unknown = sorted(set(names) - pairs)
    if unknown:
        print(f"error: unknown pair name(s) {unknown}; choose from {sorted(pairs)}")
        return 2
    spark = get_spark()
    con = duck_connection(sf_dir)
    selected = sorted(names) if names else sorted(pairs)
    n_fail = 0
    t_all = time.time()
    for name in selected:
        t = time.time()
        rep = compare(spark, con, q[name], o[name], sf_dir)
        ok = (rep["rows_match"] and rep["schema_match"] and rep["hash_match"]
              and rep["spark_rows"] > 0)
        n_fail += not ok
        print(f"{'PASS' if ok else 'FAIL'} {name}: rows={rep['spark_rows']}"
              f" hash={rep['hash_match']} schema={rep['schema_match']}"
              f" ({time.time() - t:.1f}s)", flush=True)
        if not ok:
            print("  detail:", {k: v for k, v in rep.items()
                                if not k.startswith("sample")})
    print(f"{len(selected) - n_fail}/{len(selected)} pass at {sf_dir}"
          f" in {time.time() - t_all:.0f}s")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

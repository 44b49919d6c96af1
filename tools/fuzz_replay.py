"""Replay explicit (quads, query) pairs through both the engine and
the naive evaluator — for diagnosing sparql_fuzz divergences whose
generator-seed mapping has since changed (the generator evolves; the
logged query/quads text is the stable repro).

Usage: python tools/fuzz_replay.py CASES.py
where CASES.py assigns ``CASES = [(name, quads, query), ...]``.
Compares UNORDERED multisets (strip ORDER BY/LIMIT or eyeball ordered
cases).
"""
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))
sys.path.insert(0, os.path.dirname(__file__))

from collections import Counter


def main():
    ns: dict = {}
    with open(sys.argv[1]) as f:
        exec(f.read(), ns)

    from rdflib_jsonld_spark.plans.pipeline import build_session
    from sparql_fuzz import decode_engine, quads_df, row_key

    spark = build_session("local[4]", "fuzz-replay", shuffle_partitions=1,
                          driver_memory="4g")
    spark.sparkContext.setLogLevel("ERROR")

    from rdflib_jsonld_spark.operators.sparql import sparql

    for name, quads, query in ns["CASES"]:
        print(f"=== {name}")
        df = quads_df(spark, quads)
        try:
            engine = decode_engine(sparql(df, query, keep_types=True))
        except Exception as e:
            print(f"  ENGINE ERROR: {type(e).__name__}: {str(e)[:400]}")
            continue
        ce = Counter(map(row_key, engine))
        for r, n in sorted(ce.items()):
            print(f"  engine {n}x {r}")


if __name__ == "__main__":
    main()

"""Cold single-run lane timing (r14, VERDICT r13 #2).

Fresh process, bench.py session shape + warm-up, then ONE
build + noop-sink action per named lane — the driver's cold-JVM
condition, not a warm median.  Prints one JSON line.

Usage: python scripts/cold_lane.py SF_DIR q_lane [q_lane ...]
"""
import json
import sys
import time
from pathlib import Path


def main() -> None:
    sf_dir, names = sys.argv[1], sys.argv[2:]
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as E
    import bench
    from evm_archive_spark.session import get_spark
    from evm_archive_spark.tables import register_testdata

    queries = E.queries()
    unknown = [
        n for n in names
        if n not in queries and not callable(getattr(bench, n.removeprefix("q_"), None))
    ]
    if unknown:
        # before the Spark warm-up, which costs tens of seconds
        sys.exit(f"cold_lane: unknown lane(s): {', '.join(unknown)}")

    spark = get_spark("cold-lane")
    spark.sparkContext.setLogLevel("ERROR")
    # the bench's session warm-up (JVM/codegen spin-up, parquet footers)
    spark.range(1_000_000).selectExpr("sum(id) s").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    register_testdata(spark, sf_dir)

    out = {}
    for name in names:
        t0 = time.perf_counter()
        if name in queries:
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        else:
            # bench.py custom entry (q_cdc_fastcdc / q_ingest_* / ...):
            # runs its own terminal action
            getattr(bench, name.removeprefix("q_"))(spark, sf_dir)
        out[name] = round(time.perf_counter() - t0, 4)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

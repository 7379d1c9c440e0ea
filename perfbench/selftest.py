"""Self-test of the measurement helpers; run from the repository root:

    python3 perfbench/selftest.py

Checks that the event-log reducer sees shuffle bytes for a groupBy and
none for a narrow projection, and that the percentile guard refuses a
tail with fewer than ten samples beyond it. Exits non-zero on failure.
"""

from __future__ import annotations

import os
import shutil
import sys

import probes
import run


def main() -> int:
    assert probes.percentile(list(range(100)), 90) == 89
    try:
        probes.percentile(list(range(50)), 90)
    except ValueError:
        pass
    else:
        raise AssertionError("p90 of 50 samples must be refused")

    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"selftest-{os.getpid()}")
    conf = run.spark_env(root, work, event_log=True)
    from pyspark.sql import functions as F

    from indra_db_spark.session import get_spark

    try:
        spark = get_spark(app_name="perfbench-selftest", extra_conf=conf)
        sc = spark.sparkContext
        sc.setJobGroup("wide", "groupBy")
        spark.range(100_000).groupBy((F.col("id") % 10).alias("k")).count().collect()
        sc.setJobGroup("narrow", "projection")
        spark.range(100_000).select((F.col("id") * 2).alias("x")).write.format(
            "noop"
        ).mode("overwrite").save()
        run.stop_spark(spark)
        groups = probes.reduce_event_log(probes.find_event_log(f"{work}/eventlog"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wide, narrow = groups["wide"], groups["narrow"]
    print({"wide": wide, "narrow": narrow})
    assert wide["jobs"] >= 1 and wide["tasks"] >= 1 and wide["shuffle_bytes"] > 0, wide
    assert narrow["jobs"] >= 1 and narrow["tasks"] >= 1 and narrow["shuffle_bytes"] == 0, narrow
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The ``curation_queries`` workload: the 29 headline curation queries.

Set up: generate the seeded inputs with ``tools/make_measure_data.gen``
(five times; the run uses the last copy). Then build the 29 DataFrames —
``__spark_entry__.queries()`` plus the production xxhash64 overrides the
frozen ``bench.py`` times — once, timed as ``plans_s``. Each query is
forced twice, untimed, to the noop sink with its digest (row count and an
order-insensitive content hash) observed on the way; the two digests
must agree. Then one timed pass forces all 29 plainly, one after the
other, as ``bench.py`` does.

The untimed work — building the DataFrames, whose eager jobs (IVF
centroids, cluster labels, ...) cost ~26 s serially in a cold session,
and the 58 digest forces — is submitted from ``THREADS`` threads at once,
which halves its wall time; only the timed pass runs alone.
"""

from __future__ import annotations

import contextlib
import sys
import time
from concurrent.futures import ThreadPoolExecutor

SF = 0.01  # make_measure_data scale factor: 500 docs, 10k events, 60k lineitem
SETUP_REPEATS = 5
THREADS = 4  # threads submitting the untimed jobs


def _prod_overrides() -> dict:
    """bench.py's production-hash variants of three headline queries."""
    from indra_db_spark.operators.dedup_docs import minhash_lsh_candidates, simhash
    from indra_db_spark.operators.textops import winnow_fingerprints

    def minhash(spark, d):
        return minhash_lsh_candidates(spark.read.parquet(f"{d}/documents.parquet"),
                                      hash_fn="xxhash64")

    def sim(spark, d):
        return simhash(spark.read.parquet(f"{d}/documents.parquet"), bits=64,
                       hash_fn="xxhash64")

    def winnow(spark, d):
        docs = spark.read.parquet(f"{d}/documents.parquet")
        return winnow_fingerprints(docs, k=8, w=4, hash_fn="xxhash64").select(
            "doc_id", "n_fps", "min_fp", "max_fp"
        )

    return {"docs_minhash_lsh": minhash, "docs_simhash": sim, "docs_winnow_prod": winnow}


def _canonical(df):
    """Columns made hashable and stable: maps as sorted entry arrays,
    floating point rounded to 6 decimals (aggregation order may move the
    last bits)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType, MapType

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, MapType):
            c = F.array_sort(F.map_entries(c))
        elif isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.round(c, 6)
        cols.append(c)
    return cols


def observed(df, name: str):
    """``df`` with its digest — (rows, order-insensitive content hash) —
    observed as it streams to the sink; the plan above the sink is
    untouched, so the final sort still runs."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    return obs, df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        # decimal: a long sum of 64-bit hashes overflows under ANSI mode
        F.sum(F.xxhash64(*_canonical(df)).cast("decimal(38,0)")).alias("h"),
    )


def run(b) -> None:
    import __spark_entry__ as entry
    import bench
    import make_measure_data  # tools/, on sys.path via run.py

    spark = b.spark
    qs = entry.queries() | _prod_overrides()
    b.meta["input"] = {"make_measure_data_sf": SF, "seed": b.seed,
                       "queries": len(bench.HEADLINE)}
    for k in range(SETUP_REPEATS):
        data = f"{b.work}/sf{k}"
        with b.spans.span("setup.inputs", group=False):
            with contextlib.redirect_stdout(sys.stderr):  # gen prints table sizes
                make_measure_data.gen(SF, data, seed=b.seed)
    b.setup_s = b.spans.times["setup.inputs"]

    def untimed(fn, items, group: str) -> list:
        """fn over items from THREADS threads, each running its Spark jobs
        under job group ``group``."""
        def call(item):
            b.spans.set_group(group)
            return fn(item)

        with ThreadPoolExecutor(THREADS) as pool:
            return list(pool.map(call, items))

    with b.spans.span("plans", group=False):
        built = untimed(lambda name: qs[name](spark, data), bench.HEADLINE, "bench.plans")
    dfs = dict(zip(bench.HEADLINE, built))

    def sink(df):
        df.write.format("noop").mode("overwrite").save()

    def digest(item):
        """One noop force of a query with its digest observed; None if it
        raised (one broken query must not hide the rest)."""
        k, name = item
        obs, observed_df = observed(dfs[name], f"{name}_{k}")
        try:
            sink(observed_df)
        except Exception as e:
            print(f"curation.{name} failed: {type(e).__name__}: {e}", file=sys.stderr)
            return None
        return obs.get["n"], int(obs.get["h"] or 0)

    # Two digests per query; the forces also warm the session up for the
    # timed pass.
    got = untimed(digest, [(k, name) for k in range(2) for name in dfs], "bench.check")
    digests = {name: (got[i], got[i + len(dfs)]) for i, name in enumerate(dfs)}

    forces: dict[str, float] = {}
    for name, df in dfs.items():
        if None in digests[name]:
            continue
        b.spans.set_group(f"curation.{name}")
        t0 = time.perf_counter()
        try:
            sink(df)
        except Exception as e:
            print(f"curation.{name} failed: {type(e).__name__}: {e}", file=sys.stderr)
            continue
        forces[name] = time.perf_counter() - t0
    b.spans.times["pass"].append(sum(forces.values()))
    b.peak_rss_at_measure_end()
    b.spans.set_group("bench.idle")

    for name, (d0, d1) in digests.items():
        b.attempted += 1
        b.check(name in forces and d0 == d1, f"curation.{name}: digests {d0}, {d1}")
    b.meta["digests"] = {name: d[0] for name, d in digests.items()}
    b.meta["query_s"] = forces
    b.extra["curation_total_s"] = (b.spans.times["pass"][0], "s")
    b.extra["plans_s"] = (b.spans.times["plans"][0], "s")

    for name in dfs:
        b.layers[f"curation.{name}.s"] = forces.get(name, 0.0)

    def shuffle_layers(groups: dict) -> None:
        for name in dfs:
            rec = groups.get(f"curation.{name}", {})
            b.layers[f"curation.{name}.shuffle_bytes"] = rec.get("shuffle_bytes", 0)

    b.finishers.append(shuffle_layers)

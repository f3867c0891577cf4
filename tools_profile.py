"""Query profiler: per-query plan dump + timed noop reps.

Usage::

    python tools_profile.py plan <suffix> [query ...]
    python tools_profile.py time <reps>   [query ...]

``plan`` writes each query's explain("formatted") to
plans/profile/<q>_<suffix>.txt; ``time`` prints the best of N noop-sink reps.

Bench-identical session: local[$SPARK_GRAFT_CPUS], shuffle.partitions=cpus,
AQE on, UTC, 16g driver — so numbers here are comparable to bench.py.
"""

from __future__ import annotations

import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def _session():
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("query-profile")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    mode = sys.argv[1]
    arg = sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from iot_data_pipeline_spark.cache_tracker import evict_tracked
    from iot_data_pipeline_spark.operators.llm import (
        clear_bpe_rules_memo,
        clear_kmeans_codebook_memo,
    )

    spark = _session()
    qs = entrymod.queries()

    if mode == "plan":
        out_dir = os.path.join(_REPO_ROOT, "plans", "profile")
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            evict_tracked()
            clear_bpe_rules_memo()
            clear_kmeans_codebook_memo()
            df = qs[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(out_dir, f"{name}_{arg}.txt")
            with open(path, "w") as fh:
                fh.write(txt)
            print(f"wrote {path} ({len(txt.splitlines())} lines)")
        evict_tracked()
    elif mode == "time":
        reps = int(arg)
        # warmup at smallest SF, mirroring bench.py
        warm_dir = "/root/testdata/sf0.001"
        for name in names:
            try:
                qs[name](spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass
        for name in names:
            walls = []
            for _ in range(reps):
                evict_tracked()
                clear_bpe_rules_memo()
                clear_kmeans_codebook_memo()
                t0 = time.time()
                df = qs[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                walls.append(time.time() - t0)
            walls_s = " ".join(f"{w:.3f}" for w in walls)
            print(f"{name}: best={min(walls):.3f}  runs=[{walls_s}]")
        evict_tracked()
    else:
        raise SystemExit(f"unknown mode {mode}")
    spark.stop()


if __name__ == "__main__":
    main()

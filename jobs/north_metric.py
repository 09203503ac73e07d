"""North-metric job as a real spark-submit driver — multi-executor
scaling evidence (the north rule's own words: "run via spark-submit
--py-files on a multi-executor cluster at two cluster sizes (N and 4N
executors)").  ``local[N]`` threads share one JVM; this driver runs
under ``local-cluster[N, C, M]`` — N genuinely separate executor JVMs
with their own memory, python workers, and a real shuffle across
process boundaries — the closest a single sandbox VM gets to a
cluster:

    bash scripts/make_pyfiles_zip.sh
    spark-submit --master 'local-cluster[4,2,2048]' \
        --py-files dist/edk_spark.zip \
        jobs/north_metric.py /tmp/edk_bench_pages_sf0.1_4096 16 2

argv: pages_parquet_path [scan_mult=16] [runs=2]

Prints ONE JSON line: executors observed, pip_join wall (best of
runs), docs/sec, and a same-window single-thread CPU-calibration
stamp (the BENCH/BASELINE.md normalization input).  The session is
the engine's ``get_spark``, which leaves the master to spark-submit;
scripts/cluster_scaling_run.sh drives the (N, 4N) = (1, 4)-executor
pair and appends the section to BENCH/BASELINE.md.
"""

import json
import os
import sys
import time
from functools import reduce


def _cpu_calib(seconds: float = 1.0) -> int:
    t0 = time.time()
    x = 0
    while time.time() - t0 < seconds:
        x += 1
    return int(x / seconds)


def main() -> None:
    pages_path = sys.argv[1]
    scan_mult = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from earth_data_kit_spark.operators import spatial_join as sj
    from earth_data_kit_spark.session import get_spark

    # under spark-submit, --master decides (local-cluster[...])
    spark = get_spark(app_name="edk-north-metric")

    # driver + N executors; block-until-registered via a tiny job
    spark.range(1).count()
    n_exec = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1

    pages = spark.read.parquet(pages_path)
    n_pages = pages.count()
    pages_big = reduce(lambda a, b: a.union(b), [pages] * scan_mult)
    n_big = n_pages * scan_mult
    polys = [
        sj.Polygon(code=c, name=n, bbox=(a, b, x, y))
        for c, n, a, b, x, y in entrymod.COUNTRIES
    ]

    def _pass() -> float:
        t0 = time.time()
        sj.pip_join(pages_big, polys, res=entrymod.CELL_RES).groupBy(
            "code"
        ).count().collect()
        return time.time() - t0

    _pass()  # warm-up (JIT, file listing, broadcast build)
    wall = min(_pass() for _ in range(runs))
    print(
        json.dumps(
            {
                "metric": "north_metric_spark_submit",
                "master": spark.sparkContext.master,
                "executors": n_exec,
                "pages_rows": n_pages,
                "pip_join_docs": n_big,
                "pip_join_s": round(wall, 3),
                "pip_join_docs_per_sec": round(n_big / wall, 1),
                "cpu_calib_iters_per_sec": _cpu_calib(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

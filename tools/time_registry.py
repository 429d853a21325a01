"""Time registry queries at $SPARK_GRAFT_SF_DIR with the bench
methodology (one warm pass + N timed noop runs, min and median reported):
the named ones, or EVERY query when no name is given. Error- and
slow-tolerant: a query that raises is recorded as ERR and the sweep
continues. Output: one line per query to stdout + a sorted summary.

    python tools/time_registry.py [-n RUNS] [names...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hpcc_platform_spark.operators.numbering import release_numbering_caches  # noqa: E402
from hpcc_platform_spark.queries import REGISTRY  # noqa: E402
from hpcc_platform_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    n = 2
    if args and args[0] == "-n":
        n = int(args[1])
        args = args[2:]
    names = args or sorted(REGISTRY)
    spark = get_spark("hpcc_platform_spark_time_registry")
    REGISTRY["global_agg"].fn(spark, SF_DIR).collect()  # JVM/footer warm
    results = []
    for name in names:
        fn = REGISTRY[name].fn
        try:
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            runs = []
            for _ in range(n):
                t0 = time.perf_counter()
                fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
                runs.append(time.perf_counter() - t0)
            srt = sorted(runs)
            best = srt[0]
            results.append((best, name))
            print(
                f"TIMER {name}: min={best:.3f} med={srt[len(srt) // 2]:.3f} "
                f"runs={[round(r, 3) for r in runs]}",
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001 - sweep must survive one bad query
            results.append((float("nan"), name))
            print(f"ERR {name}: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}", flush=True)
            traceback.print_exc(file=sys.stderr)
        release_numbering_caches()
        spark.catalog.clearCache()
    print("==== slowest ====", flush=True)
    for best, name in sorted(results, reverse=True)[:40]:
        print(f"{best:8.3f}  {name}", flush=True)


if __name__ == "__main__":
    main()

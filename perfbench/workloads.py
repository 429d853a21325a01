"""The benchmark's workloads: which registry queries run, over which input.

Each workload is a closed loop with one client on one thread. Why each one
exists, and why ``interactive`` is not in ``BENCHMARK.json``, is in README.md.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    replicate: int  # fact-table replication over the sf0.1 base; 1 = none


def workloads() -> dict[str, Workload]:
    from bench import HEADLINE
    from hpcc_platform_spark.queries import REGISTRY

    return {
        w.name: w
        for w in (
            # bench.py's headline set, imported so the two stay the same.
            Workload("interactive", tuple(HEADLINE), 1),
            # The only queries that run the ECL front end.
            Workload("ecl", tuple(n for n in REGISTRY if n.startswith("ecl_front_")), 1),
            # Headline queries whose cost grows with the fact tables and whose
            # results stay small enough to compare row by row at x16.
            Workload(
                "batch_x16",
                ("groupagg_q1", "topn", "dedup_keep_first", "join_left_only"),
                16,
            ),
        )
    }

"""Driver-side build cost of registry queries: for each query, the
median warm time of calling its registry function (building the
DataFrame, no action), the number of py4j round trips one warm build
makes and the number of Spark jobs it launches, then the registry-wide
sums with the host's cpus and loadavg.

Usage: python tools/build_probe.py [--sf DIR] [--reps N] [QUERY ...]

With no QUERY it probes the whole registry.  Every query is built once
cold (not reported), then ``--reps`` times warm.  Some builds run
jobs (sizing counts, driver-side collects); those count as build time,
as they do for any caller, and the ``jobs`` column counts them by job
group.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import statistics
import sys
import time

# import the package of the checkout this file lives in
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from plan_audit import SF  # noqa: E402  (the sf0.01 registry inputs)


@contextlib.contextmanager
def py4j_calls(spark):
    """Count the driver's py4j ``send_command`` round trips inside the
    block; yields a one-element list that holds the running count."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = [0]

    def counted(*a, **kw):
        n[0] += 1
        return send(*a, **kw)

    client.send_command = counted
    try:
        yield n
    finally:
        del client.send_command


def build_cost(spark, build, reps: int):
    """(median warm ms, py4j calls, Spark jobs) of ``build()``, the
    counts of the last warm build, after one cold build."""
    build()
    sc = spark.sparkContext
    times = []
    for i in range(reps):
        group = f"build_probe-{time.monotonic_ns()}-{i}"
        sc.setJobGroup(group, "build_probe")
        with py4j_calls(spark) as n:
            t0 = time.perf_counter()
            build()
            times.append((time.perf_counter() - t0) * 1e3)
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return statistics.median(times), n[0], jobs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=SF, help="scale-factor data dir")
    ap.add_argument("--reps", type=int, default=3,
                    help="warm builds per query")
    ap.add_argument("query", nargs="*", help="registry keys (default all)")
    args = ap.parse_args()

    from raster_tools_spark.queries import queries
    from raster_tools_spark.session import get_spark

    spark = get_spark(app_name="build_probe")
    qs = queries()
    names = args.query or list(qs)
    total_ms = total_calls = total_jobs = 0
    print(f"{'query':32s} {'build_ms':>9s} {'py4j':>6s} {'jobs':>5s}")
    for name in names:
        ms, calls, jobs = build_cost(
            spark, lambda: qs[name](spark, args.sf), args.reps
        )
        total_ms += ms
        total_calls += calls
        total_jobs += jobs
        print(f"{name:32s} {ms:9.1f} {calls:6d} {jobs:5d}", flush=True)
    print(f"{'SUM (' + str(len(names)) + ' queries)':32s} "
          f"{total_ms:9.1f} {total_calls:6d} {total_jobs:5d}")
    print(f"cpus={os.cpu_count()} sf={args.sf} "
          f"loadavg={' '.join(f'{x:.2f}' for x in os.getloadavg())}")
    spark.stop()


if __name__ == "__main__":
    main()

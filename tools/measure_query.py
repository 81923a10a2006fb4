"""Measure one or more registry queries in isolation and capture plans.

Usage:
    python tools/measure_query.py [--runs N] [--plan-tag TAG]
                                  [--plan-round rNN] query [query ...]

Times each query exactly as bench.py does (build DataFrame + noop-sink
write — ``df.write.format('noop')`` computes every column of every row
and discards it, guide §1.4 — cache cleared before each run). It also
prints, from the fastest run, the time and the py4j round trips spent
building the DataFrame apart from the noop action: the driver-side
plan-building cost (for a builder that runs eager jobs, such as a
checkpointed fixpoint, those jobs count as building). When
--plan-tag is given, writes ``plans/<round>/<query>_<TAG>.txt`` with the
``explain('formatted')`` output of the returned DataFrame. Honors
$SPARK_GRAFT_SF_DIR and $SPARK_GRAFT_CPUS like bench.py. The row count
is taken once OUTSIDE the timed region (informational only), matching
bench.py's methodology since the round-8 timed-action fix.
"""

from __future__ import annotations

import argparse
import os
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

from py4j.clientserver import ClientServerConnection

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry  # noqa: E402
from orientdb_etl_spark import get_spark  # noqa: E402


@contextmanager
def round_trips():
    """Count the py4j commands this thread sends inside the block (the
    gateway's garbage-collection thread is not counted)."""
    me, n, send = threading.get_ident(), [0], ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            n[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        yield n
    finally:
        ClientServerConnection.send_command = send


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plan-tag", default=None)
    ap.add_argument("--plan-round", default="r09")
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be >= 1")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("measure_query", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    registry = entry.queries_all()

    plan_dir = (
        Path(__file__).resolve().parent.parent / "plans" / args.plan_round
    )
    if args.plan_tag:
        plan_dir.mkdir(parents=True, exist_ok=True)

    # warm the JVM/session the same way bench.py does
    spark.range(1024).repartition(int(cpus)).count()

    for name in args.queries:
        fn = registry[name]
        if args.plan_tag:
            df = fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
            (plan_dir / f"{name}_{args.plan_tag}.txt").write_text(txt)
        samples, builds = [], []
        for _ in range(args.runs):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"measure: {name}")
            t0 = time.time()
            with round_trips() as rt:
                df = fn(spark, sf_dir)
            built = time.time()
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
            builds.append((built - t0, rt[0]))
            spark.sparkContext.setJobDescription(None)
        n = df.count()  # informational, outside the timed region
        best = samples.index(min(samples))
        build_s, build_rt = builds[best]
        print(
            f"{name}: min {min(samples):.3f}s  samples "
            + "/".join(f"{s:.2f}" for s in samples)
            + f"  build {build_s:.3f}s / {build_rt} round trips"
            + f"  action {samples[best] - build_s:.3f}s  ({n} rows)",
            flush=True,
        )


if __name__ == "__main__":
    main()

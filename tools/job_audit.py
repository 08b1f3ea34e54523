#!/usr/bin/env python3
"""Deterministic per-query audit: py4j round-trips + Spark job counts.

Host-noise-immune instrument for the optimization rounds: wall-clock on
this sandbox class swings ~2x with hypervisor contention, but the NUMBER
of py4j commands a query's construction sends, and the NUMBER of Spark
jobs a noop-sink run schedules, are properties of the code (given fixed
data), so before/after comparisons stay valid on a loud host.

Flags to look for in the output:
  * jobs_build > 0  — construction runs eager actions (collect/first);
  * py4j_build in the thousands — wide Column-API expression building
    (each Column op is a blocking ~0.5-2.5 ms round trip on this host;
    build the same tree with one spark.sql/F.expr parse instead);
  * jobs_run outliers — duplicated subtree evaluation / missed reuse
    (AQE adds one job per materialized query stage, so compare against
    the query's exchange count, not against 1).

Usage: python tools/job_audit.py [--queries a,b,c]
Prints one JSON line per query and a py4j/jobs-sorted table.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))


def main() -> None:
    from interference_spark import build_spark, inventory
    import bench

    names = list(bench.HEADLINE)
    for a in sys.argv[1:]:
        if a.startswith("--queries"):
            names = a.split("=", 1)[1].split(",")

    spark = build_spark(
        app_name="ifs-job-audit",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()

    # count py4j commands at the single shared gateway client, leaving out
    # memory-release commands ("m\n…"): Python's garbage collector sends
    # them whenever it frees a JVM object handle, at times no code change
    # controls, so counting them made two runs of one tree disagree
    client = sc._gateway._gateway_client
    real_send = client.send_command
    counter = {"n": 0}

    def counting_send(command, *a, **kw):
        if not command.startswith("m\n"):
            counter["n"] += 1
        return real_send(command, *a, **kw)

    client.send_command = counting_send

    def jobs() -> int:
        # job ids the DAG scheduler handed out: counts every job group,
        # stream micro-batches (run under their query's group) included
        return int(dag.nextJobId())

    rows = []
    for name in names:
        fn = inventory.QUERIES[name]
        spark.catalog.clearCache()
        try:
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — record, keep auditing
            rows.append({"query": name, "error": f"{type(exc).__name__}: {exc}"[:200]})
            continue
        spark.catalog.clearCache()
        j0, c0 = jobs(), counter["n"]
        df = fn(spark, SF_DIR)
        j1, c1 = jobs(), counter["n"]
        df.write.format("noop").mode("overwrite").save()
        j2, c2 = jobs(), counter["n"]
        rows.append(
            {
                "query": name,
                "py4j_build": c1 - c0,
                "jobs_build": j1 - j0,
                "jobs_run": j2 - j1,
                "py4j_run": c2 - c1,
            }
        )
        print(json.dumps(rows[-1]), flush=True)

    print("\n=== sorted by py4j_build ===")
    ok = [r for r in rows if "error" not in r]
    for r in sorted(ok, key=lambda r: -r["py4j_build"])[:15]:
        print(
            f"{r['query']:34s} py4j_build={r['py4j_build']:5d} "
            f"jobs_build={r['jobs_build']} jobs_run={r['jobs_run']:3d}"
        )
    print("\n=== construction-time jobs (eager actions) ===")
    eager = [r for r in ok if r["jobs_build"] > 0]
    for r in sorted(eager, key=lambda r: -r["jobs_build"]):
        print(f"{r['query']:34s} jobs_build={r['jobs_build']}")
    if not eager:
        print("(none)")
    print("\n=== sorted by jobs_run ===")
    for r in sorted(ok, key=lambda r: -r["jobs_run"])[:15]:
        print(f"{r['query']:34s} jobs_run={r['jobs_run']:3d}")
    spark.stop()


if __name__ == "__main__":
    main()

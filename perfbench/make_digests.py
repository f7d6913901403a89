#!/usr/bin/env python3
"""One-off generator of ``digests.json``, the stored reference results.

    python3 perfbench/make_digests.py [--scale default|tiny|all]

For each catalog entry of the ``llm-stream`` workload it runs
the entry's DuckDB oracle SQL over the generated base tables and stores the
order-independent digest of the oracle's result. For each stream operator
of ``llm-stream`` it drains the operator once on Spark over the base
tables and stores that result's digest; each operator's agreement with its
batch twin is asserted by the engine's own streaming tests. The engine's
catalog results are also computed here and every disagreement with the
oracle is printed, so a wrong entry is visible before any timing run.

Rerun only when the generator, the operation sets or an oracle changes: the
oracles take minutes at sf0.1, which is why runs compare against digests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402  (sets paths and the Spark environment helpers)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", choices=[*run.SCALES, "all"], default="all")
    args = ap.parse_args()
    scales = list(run.SCALES) if args.scale == "all" else [args.scale]

    import datagen
    import duckdb
    import workloads as w
    from digest import digest
    from spans import Tracer

    work = os.path.join(run.BUILD, "runs", f"digests-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    run._set_environment(work, cores)
    from tmapreduce_spark.catalog import build_catalog
    from tmapreduce_spark.session import get_spark
    from tmapreduce_spark.streaming.events import stream_events

    path = os.path.join(HERE, "digests.json")
    stored = json.load(open(path)) if os.path.exists(path) else {}
    catalog = build_catalog()
    names, streams = w.CATALOG_OPS, w.STREAM_OPS
    spark = get_spark(app_name="perfbench-digests")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for scale in scales:
            sf = run.SCALES[scale]
            base = datagen.ensure_base(os.path.join(run.BUILD, "data"), sf)
            out: dict[str, str] = {}
            con = duckdb.connect()
            for t in datagen.TABLES:
                con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{base}/{t}.parquet'")
            for n in names:
                t0 = time.perf_counter()
                out[n] = digest(con.execute(catalog[n].oracle).df())
                mine = digest(catalog[n].fn(spark, base).toPandas())
                flag = "" if mine == out[n] else "   ENGINE DISAGREES"
                print(f"sf{sf:g} {n}: {out[n]} oracle {time.perf_counter() - t0:.1f}s{flag}", flush=True)
            ctx = w.Ctx(spark, base, work, Tracer(False), {}, 0, cores)
            sw = w.LlmStreamWorkload()
            sw.prepare(ctx)
            for n in streams:
                query = f"digest_{scale}_{n}"
                q = (getattr(sw.stateful, n)(stream_events(spark, base)).writeStream.format("memory").queryName(query)
                     .outputMode("update").option("checkpointLocation", os.path.join(work, query))
                     .trigger(availableNow=True).start())
                q.awaitTermination()
                out[n] = digest(spark.table(query).toPandas())
                spark.catalog.dropTempView(query)
                print(f"sf{sf:g} {n}: {out[n]}", flush=True)
            stored[f"sf{sf:g}"] = out
    finally:
        run._shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(stored, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

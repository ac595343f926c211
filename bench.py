"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": <total sec>, "unit": "sec", "sf": ...,
"pipeline_events*": ..., "detail": <path>}. The per-query timings and the
other workloads' figures go to the side JSON file at ``detail``
($SPARK_GRAFT_BENCH_DETAIL, default bench_detail.json next to this
script), so the stdout line stays a few hundred characters however many
queries the suite has.

The throughput headline is the end-to-end parse → enrich → route →
aggregate pipeline (BASELINE.json metric, turns/sec) over two inputs:

* ``pipeline_events``   — transcripts derived from the sf events table,
  full fan-out write to a temp warehouse (I/O included);
* ``pipeline_synth2m``  — 2M synthetic turns, compute-only (no sink
  I/O), isolating operator throughput from local-disk effects.

Scaling-efficiency evidence (local[8] vs local[32]) lives in
bench_scaling.py → BENCH/BASELINE.md, not here, to keep the per-round
bench fast.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import functions as F


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from opentelemetry_collector_spark.operators import aggregate as agg_ops
    from opentelemetry_collector_spark.operators import enrich as enrich_ops
    from opentelemetry_collector_spark.operators import parse as parse_ops
    from opentelemetry_collector_spark.operators import route as route_ops
    from opentelemetry_collector_spark.plans.pipeline import run_pipeline
    from opentelemetry_collector_spark.session import get_spark
    from opentelemetry_collector_spark.sources import (
        derive_transcripts,
        role_lookup_df,
        synth_transcripts,
        tool_lookup_df,
    )

    spark = get_spark(app_name="otelcol-spark-bench")
    timings: dict[str, float] = {}
    extra: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        t0 = time.monotonic()
        fn()
        timings[name] = round(time.monotonic() - t0, 3)

    # 1. full pipeline incl. sink writes, over events-derived transcripts
    wh = tempfile.mkdtemp(prefix="otelcol_bench_wh_")
    n_events_turns = derive_transcripts(spark, sf_dir).count()
    try:
        timed("pipeline_events", lambda: run_pipeline(spark, sf_dir, wh))
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    extra["pipeline_events_turns"] = n_events_turns
    extra["pipeline_events_turns_per_sec"] = round(
        n_events_turns / timings["pipeline_events"], 1
    )

    # 2. compute throughput at 2M synthetic turns (skew included), read
    # from parquet materialized untimed — the production shape; timing a
    # plan where Catalyst fuses parse into the generator expression
    # double-counts text synthesis per parsed column.
    synth_dir = tempfile.mkdtemp(prefix="otelcol_bench_synth_")
    synth_transcripts(spark, n_conversations=120_000, mean_turns=16,
                      hot_conversations=3, hot_turns=20_000,
                      partitions=64).write.mode("overwrite").parquet(synth_dir)

    def synth_run() -> None:
        t = spark.read.parquet(synth_dir)
        parsed = parse_ops.parse_stage(t, with_attrs=False).filter(F.col("parse_ok"))
        enriched = enrich_ops.enrich_stage(
            parsed, tool_lookup_df(spark), role_lookup_df(spark)
        )
        routed = route_ops.route_stage(enriched)
        agg = agg_ops.hourly_sink_accounting(routed)
        # force full materialization of the aggregate without collecting
        agg.write.format("noop").mode("overwrite").save()

    n_synth = 120_000 * 16 + 3 * 20_000
    try:
        timed("pipeline_synth2m", synth_run)
    finally:
        shutil.rmtree(synth_dir, ignore_errors=True)
    extra["pipeline_synth2m_turns"] = n_synth
    extra["pipeline_synth2m_turns_per_sec"] = round(n_synth / timings["pipeline_synth2m"], 1)

    # spin up the Python/Arrow worker pool once, untimed, so no single
    # downstream query is charged the whole pool's spin-up cost
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(10_000, numPartitions=32).select(_warm("id")).write.format(
        "noop"
    ).mode("overwrite").save()

    # 3. k-means at realistic embedding dim: 200k vectors × dim 64,
    # centroid training bounded by train_cap (per-iteration explode
    # shuffles cap×dim elements, not corpus×dim — the scale shape).
    # Input materialized to parquet untimed, same as the synth pipeline.
    from opentelemetry_collector_spark.operators import similarity as sim_ops

    emb_dir = tempfile.mkdtemp(prefix="otelcol_bench_emb64_")
    (
        spark.range(200_000)
        .select(
            F.col("id").cast("int").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: (
                    F.pmod(F.xxhash64(F.col("id") * F.lit(1000) + i), F.lit(997))
                    / 997.0
                ).cast("float"),
            ).alias("embedding"),
        )
        .write.mode("overwrite")
        .parquet(emb_dir)
    )

    def kmeans64_run() -> None:
        emb = spark.read.parquet(emb_dir)
        out, _ = sim_ops.kmeans_cells(emb, k=16, iters=2, train_cap=4096)
        out.select("vec_id", "cell").write.format("noop").mode("overwrite").save()

    try:
        timed("kmeans_dim64_200k", kmeans64_run)
    finally:
        shutil.rmtree(emb_dir, ignore_errors=True)
    extra["kmeans_dim64_train_rows"] = 4096

    # 4. individual oracle-checked queries at sf_dir.
    #
    # Methodology (round 3): the suite reports steady-state times —
    # min of 2 back-to-back runs per query, after a one-off Arrow
    # worker warm-up. Round-2 adjudication showed the old single-cold-
    # run numbers charged whole-process fixed costs to whichever query
    # ran first in its class (pandas_udf worker spin-up made the first
    # arrow query 4-6x its warm time; JIT/codegen warm-up inflated the
    # alphabetically-early attr_ops 6x) — noise that swamped real
    # regressions. Cross-round: r1/r2 values are cold-run and read
    # systematically higher.
    import __spark_entry__ as entrymod

    from opentelemetry_collector_spark.operators import dedup as dedup_ops

    qs = entrymod.queries()
    for name in sorted(qs):
        df_fn = qs[name]
        runs = []
        for _ in range(2):
            t0 = time.monotonic()
            df_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.monotonic() - t0)
            # free any pair-function caches so queries don't inherit
            # memory pressure from earlier ones (dedup module registry)
            dedup_ops.release_cached()
        timings[name] = round(min(runs), 3)

    total = round(sum(timings.values()), 3)
    headline = {
        "metric": "e2e parse→enrich→route→aggregate + operator suite wall time",
        "value": total,
        "unit": "sec",
        "sf": sf_dir,
    }
    detail = os.environ.get("SPARK_GRAFT_BENCH_DETAIL") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    with open(detail, "w") as f:
        json.dump({**headline, "queries": timings, **extra}, f, indent=1)
    print(json.dumps({
        **headline,
        "pipeline_events": timings["pipeline_events"],
        **{k: v for k, v in extra.items() if k.startswith("pipeline_events")},
        "detail": detail,
    }))
    spark.stop()


if __name__ == "__main__":
    main()

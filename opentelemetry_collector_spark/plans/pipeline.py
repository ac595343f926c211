"""Pipeline assembly — service graph analog (SURVEY §2.3 R4, §3.1).

The reference builds a gonum DAG from config (receivers → capabilities →
processors → fanout → exporters), validates it (≥1 receiver and ≥1
exporter per pipeline, no cycles), and instantiates nodes in reverse
topological order (service/internal/graph/graph.go:75-372,
service/pipelines/config.go:25-64). Here a pipeline is an ordered list
of pure ``DataFrame → DataFrame`` stages (the ConsumeLogs ABI,
consumer/logs.go:15-20, becomes a function — Capabilities/MutatesData
is moot under immutability, SURVEY §1.3) terminated by sink writes;
Catalyst owns the physical DAG.

Validation rules carried over: every pipeline needs a source and ≥1
sink; stage names unique; sink dedup (two routes to one table union
rather than double-write — graph.go:213-248).

:func:`run_pipeline` is the flagship end-to-end job:
scan → parse → enrich → route → fan-out sinks → per-sink aggregates,
every sink acked and metered on its own.
"""

from __future__ import annotations

import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import aggregate as agg_ops
from opentelemetry_collector_spark.operators import enrich as enrich_ops
from opentelemetry_collector_spark.operators import parse as parse_ops
from opentelemetry_collector_spark.operators import route as route_ops
from opentelemetry_collector_spark.plans import errors as err_ops
from opentelemetry_collector_spark.plans import lineage as lineage_ops
from opentelemetry_collector_spark.plans.checkpoint import CheckpointStore, StageMetric
from opentelemetry_collector_spark.sinks.tables import TableCatalog
from opentelemetry_collector_spark.sources import (
    derive_transcripts,
    role_lookup_df,
    tool_lookup_df,
)
from opentelemetry_collector_spark.sqltext import SINK_NAMES

Stage = Callable[[DataFrame], DataFrame]


@dataclass
class Pipeline:
    """Declarative pipeline spec: source → stages → sinks."""

    name: str
    source: Callable[[SparkSession], DataFrame]
    stages: list[tuple[str, Stage]] = field(default_factory=list)
    sinks: list[str] = field(default_factory=list)

    def validate(self) -> None:
        # service/pipelines/config.go:25-64: ≥1 receiver, ≥1 exporter.
        if self.source is None:
            raise ValueError(f"pipeline {self.name}: missing source")
        if not self.sinks:
            raise ValueError(f"pipeline {self.name}: missing sinks")
        names = [n for n, _ in self.stages]
        if len(names) != len(set(names)):
            raise ValueError(f"pipeline {self.name}: duplicate stage names {names}")
        if len(self.sinks) != len(set(self.sinks)):
            # sink dedup: one physical table per sink id (graph.go:213-248)
            raise ValueError(f"pipeline {self.name}: duplicate sinks {self.sinks}")

    def plan(self, spark: SparkSession) -> DataFrame:
        """Compose the lazy plan (no action)."""
        self.validate()
        df = self.source(spark)
        for _, fn in self.stages:
            df = fn(df)
        return df


@dataclass
class RunResult:
    run_id: str
    sink_counts: dict[str, int]
    quarantined: int
    stages_skipped: list[str]
    metrics: list[dict]


def default_stages(spark: SparkSession) -> list[tuple[str, Stage]]:
    tool_lk = tool_lookup_df(spark)
    role_lk = role_lookup_df(spark)
    return [
        ("parse", lambda df: parse_ops.parse_stage(df)),
        ("enrich", lambda df: enrich_ops.enrich_stage(df, tool_lk, role_lk)),
        ("route", lambda df: route_ops.route_stage(df)),
    ]


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str,
    run_id: str | None = None,
    source: Callable[[SparkSession], DataFrame] | None = None,
    fail_after_stage: str | None = None,
    send_batch_max_size: int = 1_000_000,
    sink_chunks: int = 1,
) -> RunResult:
    """The flagship job, checkpoint-gated per stage.

    Single-pass fan-out: one producer, N consumers, no re-read of the
    input (internal/fanoutconsumer/logs.go:21-77). Over the one cached
    routed parent (unparseable rows ride it as the ``quarantine`` route),
    one lineage aggregation counts every route, one partitioned write
    publishes every pending sink and one every pending ``agg_<sink>``.
    Each table keeps its own ack, so a resume rewrites only un-acked
    tables; acks sharing a write each record an equal share of its time.

    ``fail_after_stage`` injects a crash for the kill/resume property
    test (receiver/receivertest/contract_checker.go:75-120 scenario:
    random failure → resume → no loss, no duplication).

    ``send_batch_max_size`` is the batch processor's file-splitting knob
    (processor/batchprocessor/config.go:26-29) applied as
    ``maxRecordsPerFile`` on every sink write — bounds output file size
    so a 100 TB run never produces unsplittable files.

    ``sink_chunks`` > 1 splits each routed sink write into that many
    deterministic conv_id-hash chunks (plans/lineage.det_partition_id),
    each written and ACKED separately — partition-granular resume: a
    crash at chunk j of a sink re-does only chunks ≥ j, not the whole
    stage (the persistent queue re-dispatching only un-acked items,
    persistent_queue.go:321-428). Chunked tables land as
    ``table/part=c/`` partitioned layout (partition-pruned on read).
    """
    catalog = TableCatalog(spark, warehouse)
    ckpt = CheckpointStore(warehouse, run_id)
    skipped: list[str] = []
    write_stages = [f"write_{s}" for s in SINK_NAMES]

    def _gate(stages: list[str], fn: Callable[[list[str]], dict]) -> None:
        """Run ``fn(pending)`` once for the un-acked ``stages``, then ack
        each from its {stage: (rows_in, rows_out, extra)} result."""
        pending = [st for st in stages if not ckpt.is_done(st)]
        skipped.extend(st for st in stages if st not in pending)
        if not pending:
            return
        t0 = time.monotonic()
        results = fn(pending)
        wall_ms = int((time.monotonic() - t0) * 1000 / len(pending))
        for st in pending:
            rows_in, rows_out, extra = results[st]
            ckpt.commit(st, StageMetric(
                run_id=ckpt.run_id, stage=st, rows_in=rows_in,
                rows_out=rows_out, wall_ms=wall_ms, extra=extra,
            ))
            if fail_after_stage == st:
                raise RuntimeError(f"injected failure after stage {st}")

    src = source or (lambda s: derive_transcripts(s, sf_dir))
    parsed = parse_ops.parse_stage(src(spark))
    # enrich is a left join, so unparseable rows survive it and ride the
    # cached parent under the quarantine route
    enriched = enrich_ops.enrich_stage(parsed, tool_lookup_df(spark), role_lookup_df(spark))
    routed = route_ops.route_stage(enriched, route_ops.route_or_quarantine_expr()).persist()
    route = F.col("route")

    def _chunked_write(table: str, df: DataFrame, stage: str) -> tuple[int, dict]:
        """Write ``df`` as sink_chunks acked chunks; returns (rows, files).

        A fresh stage (no chunk acked yet for this run) first clears the
        table root: a previous run with different sink_chunks — or a
        non-chunked run that wrote flat files there — would otherwise
        leave stale part dirs that read back as duplicate rows. Resumed
        runs (≥1 chunk acked) must NOT clear — the acked chunks' data IS
        the resume state — so each chunk ack records its sink_chunks and
        a resume under a DIFFERENT value is refused outright (the acked
        chunk's rows were hashed with the old modulus; mixing moduli
        silently duplicates and drops rows). The final lineage scan
        covers only the part dirs this run owns."""
        acked_chunks = [
            m for m in ckpt.metrics()
            if m["stage"].startswith(f"{stage}.chunk")
        ]
        if acked_chunks:
            # resume state exists — NEVER clear the table. Acks that
            # recorded their modulus must match; acks without the key
            # (written before it was recorded) are kept as-is: treating
            # them as "fresh" would rmtree data that is_done() then
            # skips re-writing — silent loss.
            priors = {m["sink_chunks"] for m in acked_chunks
                      if "sink_chunks" in m}
            if priors and priors != {sink_chunks}:
                raise ValueError(
                    f"{stage}: resume with sink_chunks={sink_chunks} but "
                    f"run {ckpt.run_id!r} acked chunks under "
                    f"sink_chunks={sorted(priors)}; resume with the same "
                    "value or use a fresh run_id"
                )
        else:
            shutil.rmtree(catalog.path(table), ignore_errors=True)
        total = 0
        for c in range(sink_chunks):
            sub = f"{stage}.chunk{c:03d}"
            part = df.filter(
                lineage_ops.det_partition_id(F.col("conv_id"), sink_chunks) == c
            )
            if ckpt.is_done(sub):
                skipped.append(sub)
                total += next(
                    m["rows_out"] for m in ckpt.metrics() if m["stage"] == sub
                )
                continue
            t0 = time.monotonic()
            n = _write_counted(catalog, f"{table}/part={c}", part,
                               max_records_per_file=send_batch_max_size)
            ckpt.commit(sub, StageMetric(
                run_id=ckpt.run_id, stage=sub, rows_in=n, rows_out=n,
                wall_ms=int((time.monotonic() - t0) * 1000),
                extra={"chunk": c, "sink_chunks": sink_chunks,
                       "files": lineage_ops.file_lineage(
                           catalog.path(f"{table}/part={c}"))},
            ))
            if fail_after_stage == sub:
                raise RuntimeError(f"injected failure after chunk {sub}")
            total += n
        files = [
            {**fr, "file": f"part={c}/{fr['file']}"}
            for c in range(sink_chunks)
            for fr in lineage_ops.file_lineage(catalog.path(f"{table}/part={c}"))
        ]
        return total, files

    try:
        # Per-partition logical lineage for ALL routes, quarantine too, in
        # ONE aggregation over the cached routed parent (A6 north-rule
        # contract; skipped when every write stage is acked on resume).
        lin_by_route: dict[str, list[dict]] = {}
        if any(not ckpt.is_done(st) for st in ["quarantine", *write_stages]):
            for r in lineage_ops.logical_lineage(routed).collect():
                lin_by_route.setdefault(r["route"], []).append(
                    {"part_id": r["part_id"], "rows": r["rows"], "bytes": r["bytes"]}
                )

        def _quarantine(_pending: list[str]) -> dict:
            # permanent-error rows (F7), read from the cache; the count is
            # the lineage's, and a clean run writes the schema only
            parts = lin_by_route.get(route_ops.QUARANTINE_ROUTE, [])
            n = sum(p["rows"] for p in parts)
            bad = routed.filter(route == route_ops.QUARANTINE_ROUTE).select(
                *[c for c in parsed.columns if c != "attrs"])
            if n:
                catalog.overwrite("quarantine", bad, max_records_per_file=send_batch_max_size)
            else:
                catalog.overwrite_empty("quarantine", bad.schema)
            files = lineage_ops.file_lineage(catalog.path("quarantine"))
            return {"quarantine": (n, n, {"partitions": parts, "files": files})}

        def _write(pending: list[str]) -> dict:
            sinks = [st.removeprefix("write_") for st in pending]
            branch = routed.filter(route.isin(sinks)).drop("attrs")
            if sink_chunks > 1:
                chunked = {s: _chunked_write(s, branch.filter(route == s), f"write_{s}")
                           for s in sinks}
                counts = {s: (n, 0) for s, (n, _) in chunked.items()}
                files = {s: f for s, (_, f) in chunked.items()}
            else:
                # partial success: invalid rows land in rejected_<sink>
                # while the sink commit succeeds (errors.py F7)
                counts = err_ops.write_routed_with_partial_success(
                    catalog, branch, route, {s: s for s in sinks},
                    max_records_per_file=send_batch_max_size,
                )
                files = {s: lineage_ops.file_lineage(catalog.path(s)) for s in sinks}
            return {f"write_{s}": (n + rej, n, {
                "sink": s, "rejected": rej,
                "partitions": lin_by_route.get(s, []), "files": files[s],
            }) for s, (n, rej) in counts.items()}

        def _agg(pending: list[str]) -> dict:
            sinks = [st.removeprefix("agg_") for st in pending]
            # route is the partition column, so it drops out of the files
            # and each agg_<sink> keeps the with_route=False schema
            catalog.overwrite_partitioned(
                {s: f"agg_{s}" for s in sinks},
                agg_ops.hourly_sink_accounting(routed.filter(route.isin(sinks))),
                "route", max_records_per_file=send_batch_max_size,
            )
            files = {s: lineage_ops.file_lineage(catalog.path(f"agg_{s}")) for s in sinks}
            rows = {s: sum(f["rows"] for f in files[s]) for s in sinks}
            return {f"agg_{s}": (rows[s], rows[s], {"sink": s, "files": files[s]})
                    for s in sinks}

        def _lineage(_pending: list[str]) -> dict:
            # flatten acked lineage into queryable warehouse tables
            rows, file_rows = ckpt.write_lineage_table(spark, catalog)
            return {"lineage": (rows, rows, {"file_rows": file_rows})}

        _gate(["quarantine"], _quarantine)
        _gate(write_stages, _write)
        _gate([f"agg_{s}" for s in SINK_NAMES], _agg)
        _gate(["lineage"], _lineage)
    finally:
        routed.unpersist()

    acks = ckpt.metrics()
    return RunResult(
        run_id=ckpt.run_id,
        sink_counts={m["sink"]: m["rows_out"] for m in acks
                     if "sink" in m and m["stage"].startswith("write_")},
        quarantined=next((m["rows_out"] for m in acks if m["stage"] == "quarantine"), 0),
        stages_skipped=skipped,
        metrics=acks,
    )


def _write_counted(
    catalog: TableCatalog, table: str, df: DataFrame,
    max_records_per_file: int = 0,
) -> int:
    """One chunk's write + count in ONE action (the ``sink_chunks`` > 1
    path) via the Observation API — the obsconsumer item counter riding
    the data path, not a second scan (obsconsumer/logs.go:53-70)."""
    from pyspark.sql import Observation

    obs = Observation(f"rows_{table}")
    catalog.overwrite(
        table, df.observe(obs, F.count(F.lit(1)).alias("n")),
        max_records_per_file=max_records_per_file,
    )
    return obs.get["n"]

"""The benchmark's workloads: inputs, one job, output checks and the
per-layer breakdown of a traced job.

Each workload object is created with a ready Spark session and a private
run directory. ``prepare`` generates the seeded inputs and the DuckDB
oracle's expectations before any timing; ``job`` runs one closed-loop
iteration and returns what ``check`` needs; ``layers`` turns the spans and
event log of a traced iteration into per-layer metrics.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import spans as tr
from opentelemetry_collector_spark import sqltext
from opentelemetry_collector_spark.operators import aggregate as agg_ops
from opentelemetry_collector_spark.operators import enrich as enrich_ops
from opentelemetry_collector_spark.operators import parse as parse_ops
from opentelemetry_collector_spark.operators import route as route_ops
from opentelemetry_collector_spark.plans import checkpoint as ckpt_mod
from opentelemetry_collector_spark.plans import errors as err_ops
from opentelemetry_collector_spark.plans import lineage as lineage_ops
from opentelemetry_collector_spark.plans.pipeline import run_pipeline
from opentelemetry_collector_spark.sinks import tables as tables_mod
from opentelemetry_collector_spark.sources import (
    derive_transcripts,
    role_lookup_df,
    tool_lookup_df,
)
from opentelemetry_collector_spark.sources import otlp_json, otlp_proto

SINKS = sqltext.SINK_NAMES
_MB = 1 << 20

PREFIXES = ["scan", "parse", "enrich", "route", "aggregate"]
PREFIX_LAYERS = {
    "scan": "sources.transcripts",
    "parse": "operators.parse",
    "enrich": "operators.enrich",
    "route": "operators.route",
    "aggregate": "operators.aggregate",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet_stats(path: str) -> tuple[int, int, int]:
    """(files, bytes, rows) of the parquet files under ``path``."""
    files = size = rows = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                fp = os.path.join(root, n)
                files += 1
                size += os.path.getsize(fp)
                rows += pq.ParquetFile(fp).metadata.num_rows
    return files, size, rows


class Workload:
    name = ""
    # untimed jobs between the cold job and the timed warm loop
    WARMUP = 0

    def __init__(self, spark, run_dir: str, seed: int):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.data_dir = os.path.join(run_dir, "data")
        self.shares: dict = {}
        self.turns = 0
        self._iter = 0

    def _con(self):
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(self.run_dir, 'duckdb')}'")
        con.execute("SET threads=1")
        return con

    def _scratch(self, what: str) -> str:
        self._iter += 1
        return os.path.join(self.run_dir, f"{what}-{self._iter}")

    def source(self):
        raise NotImplementedError

    def sink_stats(self, out) -> tuple[int, int]:
        """(files, bytes) the job wrote to the warehouse."""
        return 0, 0

    def cleanup(self, out) -> None:
        """Delete what one job left on disk."""

    def instrument(self, tracer: tr.Tracer) -> None:
        """Put spans around the program functions the job calls."""

    def layers(self, tracer: tr.Tracer, out, reduced: dict) -> tuple[dict, dict | None]:
        """Per-layer metrics of the traced job, and its reconciled span
        table when the workload has one."""
        return {}, None


# --- flagship ----------------------------------------------------------------


class FlagshipSmall(Workload):
    """run_pipeline over transcripts derived from a seeded events table of
    the sf0.1 size (the sqltext derivation the DuckDB oracle shares)."""

    name = "flagship_small"
    EVENTS = 25_000

    def prepare(self) -> None:
        self.events_dir = os.path.join(self.data_dir, "events")
        self.shares = gen.write_events(self.events_dir, self.seed, self.EVENTS)
        self.turns = self.shares["turns"]
        self.expected = self._oracle()

    def source(self):
        return derive_transcripts(self.spark, self.events_dir)

    def breakdown(self, tracer: tr.Tracer) -> tuple[dict, list[str] | None]:
        """Time cumulative operator prefixes over this workload's source,
        each forced by a noop write; a layer's time is the difference
        between its prefix and the one before."""
        src = self.source()
        parsed = parse_ops.parse_stage(src)
        good, _bad = parse_ops.quarantine_split(parsed)
        enriched = enrich_ops.enrich_stage(
            good, tool_lookup_df(self.spark), role_lookup_df(self.spark))
        routed = route_ops.route_stage(enriched)
        plans = {
            "scan": src,
            "parse": parsed,
            "enrich": enriched,
            "route": routed,
            "aggregate": agg_ops.hourly_sink_accounting(routed),
        }
        walls = {}
        with tracer.trace("prefix"):
            for p in PREFIXES:
                with tracer.span(f"operators.prefix.{p}") as s:
                    _noop(plans[p])
                walls[p] = s.duration
        out, prev = {}, 0.0
        for p in PREFIXES:
            out[f"{PREFIX_LAYERS[p]}.busy_s"] = max(walls[p] - prev, 0.0)
            prev = walls[p]
        return out, None

    def _oracle(self) -> dict:
        con = self._con()
        con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                    f"'{self.events_dir}/events.parquet')")
        rows = con.execute(f"""
            WITH transcripts AS (
              {sqltext.transcripts_sql('events')}
            ), parsed AS ({sqltext.PARSED_SQL})
            SELECT {sqltext.ROUTE_CASE_SQL} AS route, parse_ok,
                   strlen(text) > {err_ops.MAX_SINK_TEXT_BYTES} AS oversized,
                   count(*) AS n
            FROM parsed GROUP BY ALL""").fetchall()
        con.close()
        exp = {"accepted": dict.fromkeys(SINKS, 0), "rejected": dict.fromkeys(SINKS, 0),
               "quarantined": 0, "turns": 0}
        for route, ok, oversized, n in rows:
            exp["turns"] += n
            if not ok:
                exp["quarantined"] += n
            elif oversized:
                exp["rejected"][route] += n
            else:
                exp["accepted"][route] += n
        return exp

    def job(self, tracer: tr.Tracer):
        wh = self._scratch("warehouse")

        def src(spark):
            with tracer.span("sources.transcripts.source"):
                return self.source()

        with tracer.span("plans.pipeline.run_pipeline") as root:
            res = run_pipeline(self.spark, self.events_dir, wh, source=src)
        return {"warehouse": wh, "result": res, "root": root}

    def check(self, out) -> list[str]:
        res, wh, exp = out["result"], out["warehouse"], self.expected
        errs = []
        rejected = {m["sink"]: m.get("rejected", 0) for m in res.metrics
                    if m["stage"].startswith("write_")}
        if res.sink_counts != exp["accepted"]:
            errs.append(f"sink counts {res.sink_counts} != oracle {exp['accepted']}")
        if rejected != exp["rejected"]:
            errs.append(f"rejected {rejected} != oracle {exp['rejected']}")
        if res.quarantined != exp["quarantined"]:
            errs.append(f"quarantined {res.quarantined} != oracle {exp['quarantined']}")
        total = sum(res.sink_counts.values()) + sum(rejected.values()) + res.quarantined
        if total != self.turns:
            errs.append(f"sinks + rejected + quarantined = {total} != {self.turns} input turns")
        for s in SINKS:
            on_disk = _parquet_stats(os.path.join(wh, s))[2]
            if on_disk != res.sink_counts.get(s):
                errs.append(f"{s}: {on_disk} rows on disk, {res.sink_counts.get(s)} acked")
            agg = pq.read_table(os.path.join(wh, f"agg_{s}"), columns=["turn_count"])
            routed = exp["accepted"][s] + exp["rejected"][s]
            if pc.sum(agg["turn_count"]).as_py() != routed:
                errs.append(f"agg_{s}: turn_count sums to "
                            f"{pc.sum(agg['turn_count']).as_py()}, {routed} rows routed")
        return errs

    def sink_stats(self, out) -> tuple[int, int]:
        files = size = 0
        for s in SINKS:
            for t in (s, f"agg_{s}", f"rejected_{s}"):
                f, b, _ = _parquet_stats(os.path.join(out["warehouse"], t))
                files += f
                size += b
        f, b, _ = _parquet_stats(os.path.join(out["warehouse"], "quarantine"))
        return files + f, size + b

    def cleanup(self, out) -> None:
        shutil.rmtree(out["warehouse"], ignore_errors=True)

    def instrument(self, tracer: tr.Tracer) -> None:
        counts = self._counts = {"rejected": 0, "footers": 0, "commits": 0}

        def on_partial(out):
            counts["rejected"] += out[1]
            return out

        def on_footers(out):
            counts["footers"] += len(out)
            return out

        def on_commit(out):
            counts["commits"] += 1
            return out

        def on_lineage(df):
            # the lineage aggregation runs when the caller collects it
            collect = df.collect

            def traced_collect():
                with tracer.span("plans.lineage.collect"):
                    return collect()

            df.collect = traced_collect
            return df

        tracer.wrap(tables_mod.TableCatalog, "overwrite", "sinks.tables.overwrite")
        tracer.wrap(err_ops, "write_with_partial_success",
                    "plans.errors.write_with_partial_success", on_partial)
        tracer.wrap(lineage_ops, "logical_lineage",
                    "plans.lineage.logical_lineage", on_lineage)
        tracer.wrap(lineage_ops, "file_lineage", "plans.lineage.file_lineage", on_footers)
        tracer.wrap(ckpt_mod.CheckpointStore, "commit", "plans.checkpoint.commit", on_commit)
        tracer.wrap(ckpt_mod.CheckpointStore, "write_lineage_table",
                    "plans.checkpoint.write_lineage_table")

    def layers(self, tracer: tr.Tracer, out, reduced: dict) -> tuple[dict, dict]:
        spans = tracer.spans_of("job")
        root = out["root"]
        table = tr.reconcile(spans, root)
        st = tr.self_times(spans)
        jobs = tr.jobs_by_span(reduced)

        def layer(prefix):
            sel = [s for s in spans if s.name.startswith(prefix + ".") and s.id != root.id]
            return (sum(st[s.id] for s in sel), len(sel), sum(jobs[s.id] for s in sel))

        files, size = self.sink_stats(out)
        sink_busy, sink_calls, sink_jobs = layer("sinks.tables")
        lin_busy, _, lin_jobs = layer("plans.lineage")
        m = {
            "sinks.tables.busy_s": sink_busy,
            "sinks.tables.calls": sink_calls,
            "sinks.tables.jobs": sink_jobs,
            "sinks.tables.files": files,
            "sinks.tables.mb": size / _MB,
            "plans.errors.busy_s": layer("plans.errors")[0],
            "plans.errors.rejected_rows": self._counts["rejected"],
            "plans.lineage.busy_s": lin_busy,
            "plans.lineage.jobs": lin_jobs,
            "plans.lineage.footer_reads": self._counts["footers"],
            "plans.checkpoint.busy_s": layer("plans.checkpoint")[0],
            "plans.checkpoint.commits": self._counts["commits"],
            "plans.pipeline.busy_s": root.duration,
            "plans.pipeline.unattributed_s": table["unattributed_s"],
            "plans.pipeline.jobs": jobs[root.id],
        }
        return m, table


# --- OTLP wire ---------------------------------------------------------------


class OtlpWire(Workload):
    """Parsed synthetic turns through the OTLP protobuf and OTLP/JSON codecs:
    each job decodes what it encodes and checks the records that come
    back. The traced run also times encode and decode apart, by storing
    the wire column as parquet in between."""

    name = "otlp_wire"
    # The second job of a process still spends a varying share of its CPU
    # on JIT compilation and on starting pandas UDF workers (12-19 CPU
    # seconds over the seeds of one series, against 8-14 for the third),
    # so one job is left out of the warm loop.
    WARMUP = 1
    SHAPE = gen.TranscriptShape(turns=25_000, hot_share=0.10,
                                unparseable_share=0.01, oversized_share=1e-4)
    CODECS = {
        "otlp_proto": (
            otlp_proto.encode_logs_proto,
            lambda df: otlp_proto.decode_logs_proto(df, carry=["conv_id"])),
        "otlp_json": (
            otlp_json.encode_envelope,
            lambda df: otlp_json.flatten_envelope(
                df, res_id_alias="res_conv", carry=["conv_id"])),
    }

    def prepare(self) -> None:
        self.feed_dir = os.path.join(self.data_dir, "feed")
        self.shares = gen.write_transcripts(self.feed_dir, self.seed, self.SHAPE)
        self.turns = self.shares["turns"]
        con = self._con()
        self.body_bytes = con.execute(
            f"SELECT sum(strlen(text)) FROM read_parquet('{self.feed_dir}/*.parquet')"
        ).fetchone()[0]
        con.close()

    def source(self):
        return self.spark.read.parquet(self.feed_dir)

    def _parsed(self):
        return parse_ops.parse_stage(self.source(), with_attrs=False)

    @staticmethod
    def _summary(flat) -> tuple[int, int, int]:
        row = flat.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("res_conv") == F.col("conv_id"), 0).otherwise(1)).alias("bad"),
            F.sum(F.octet_length("body_text")).alias("body_bytes"),
        ).first()
        return row["n"], row["bad"], row["body_bytes"]

    def job(self, tracer: tr.Tracer):
        out = {}
        with tracer.span("sources.otlp_wire") as root:
            for codec, (encode, decode) in self.CODECS.items():
                with tracer.span(f"sources.{codec}.roundtrip"):
                    out[codec] = self._summary(decode(encode(self._parsed())))
        return {"codecs": out, "root": root}

    def check(self, out) -> list[str]:
        errs = []
        for codec, (n, bad, body) in out["codecs"].items():
            if n != self.turns:
                errs.append(f"{codec}: decoded {n} records, encoded {self.turns}")
            if bad:
                errs.append(f"{codec}: roundtrip_ok false on {bad} records")
            if body != self.body_bytes:
                errs.append(f"{codec}: decoded body bytes {body} != input {self.body_bytes}")
        return errs

    def breakdown(self, tracer: tr.Tracer) -> tuple[dict, list[str] | None]:
        m, codecs = {}, {}
        base = os.path.join(self.run_dir, "wire")
        with tracer.trace("split"):
            for codec, (encode, decode) in self.CODECS.items():
                wire_dir = os.path.join(base, codec)
                with tracer.span(f"sources.{codec}.encode") as enc:
                    encode(self._parsed()).write.mode("overwrite").parquet(wire_dir)
                with tracer.span(f"sources.{codec}.decode") as dec:
                    codecs[codec] = self._summary(decode(self.spark.read.parquet(wire_dir)))
                wire = pq.read_table(wire_dir, columns=["wire"])["wire"]
                m[f"sources.{codec}.encode_s"] = enc.duration
                m[f"sources.{codec}.decode_s"] = dec.duration
                m[f"sources.{codec}.wire_mb"] = pc.sum(pc.binary_length(wire)).as_py() / _MB
        shutil.rmtree(base, ignore_errors=True)
        return m, self.check({"codecs": codecs})


WORKLOADS = {w.name: w for w in (FlagshipSmall, OtlpWire)}

"""The flagship job's fan-out edges: quarantine plus partial success in
one run, zero-row sinks, and a crash at every kind of ack followed by a
resume (the contract-checker scenario,
receiver/receivertest/contract_checker.go:75-120).

The expected figures are the ones the per-sink job loop produced before
the single-pass fan-out replaced it; the on-disk tables and acks are the
contract, not the number of Spark jobs behind them.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.plans.pipeline import run_pipeline
from opentelemetry_collector_spark.sinks.tables import TableCatalog
from opentelemetry_collector_spark.sources import derive_transcripts
from opentelemetry_collector_spark.sqltext import SINK_NAMES

TS = datetime(2025, 1, 1, 0, 30, 0)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
OK_TEXT = "[seq={}] call tool={} status=200 latency_ms=5 msg=x"

# rows that do not parse (no seq / no status): quarantined
UNPARSEABLE = [
    ("q1", 0, "user", "garbage", "search", TS),
    ("q1", 1, "assistant", "", "browser", TS),
    (None, 0, "user", "[seq=x] call status=abc", None, TS),
    ("q2", 3, "tool", "[seq=7] call tool=python latency_ms=5", "python", TS),
]
# rows that parse but break the sink row contract: rejected_<sink>
POISON = [
    (None, 0, "user", OK_TEXT.format(1, "search"), "search", TS),
    (None, 1, "tool", OK_TEXT.format(2, "python"), "python", TS),
    ("p1", 0, "user", OK_TEXT.format(3, "python") + "y" * (1 << 20), "python", TS),
    ("p2", -1, "system", OK_TEXT.format(4, "none"), None, TS),
]


def _edge_source(sf_dir: str):
    def src(s):
        extra = s.createDataFrame(UNPARSEABLE + POISON, SCHEMA)
        return derive_transcripts(s, sf_dir).unionByName(extra)

    return src


# the enrich joins put their keys (role, tool) first
SINK_SCHEMA = (
    "struct<role:string,tool:string,conv_id:string,turn_idx:int,text:string,"
    "ts:{ts},seq:bigint,event_kind:string,status_code:int,latency_ms:double,"
    "bytes:bigint,msg:string,tool_parsed:string,severity_num:int,parse_ok:boolean,"
    "tool_category:string,tool_owner:string,is_privileged:boolean,"
    "role_kind:string,billing_class:string,enrich_miss:boolean,route:string>"
)
QUARANTINE_SCHEMA = (
    "struct<conv_id:string,turn_idx:int,role:string,text:string,tool:string,"
    "ts:{ts},seq:bigint,event_kind:string,status_code:int,latency_ms:double,"
    "bytes:bigint,msg:string,tool_parsed:string,severity_num:int,parse_ok:boolean>"
)
AGG_SCHEMA = (
    "struct<window_start:timestamp,conv_id:string,tool:string,"
    "turn_count:bigint,distinct_roles:bigint,bytes_sum:bigint>"
)

# what the flagship job produces for _edge_source over sf0.001
EDGE_SINK_COUNTS = {
    "sink_search": 188, "sink_browser": 210, "sink_python": 202,
    "sink_editor": 199, "sink_default": 201,
}
EDGE_REJECTED = {
    "sink_search": 1, "sink_browser": 0, "sink_python": 2,
    "sink_editor": 0, "sink_default": 1,
}
EDGE_REJECTED_ROWS = {
    "sink_search": [(None, 0, "null_conv_id")],
    "sink_python": [(None, 1, "null_conv_id"), ("p1", 0, "oversized_text")],
    "sink_default": [("p2", -1, "negative_turn_idx")],
}
EDGE_QUARANTINE_PARTITIONS = [(-1, 1, 23), (7, 1, 37), (17, 2, 7)]


def _acks(res) -> dict[str, dict]:
    return {m["stage"]: m for m in res.metrics}


def _keys(rows) -> list[tuple]:
    return sorted(rows, key=lambda r: tuple("" if v is None else str(v) for v in r))


def test_quarantine_and_partial_success_in_one_run(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "wh")
    res = run_pipeline(spark, sf_dir, wh, source=_edge_source(sf_dir))
    catalog = TableCatalog(spark, wh)
    acks = _acks(res)

    assert res.sink_counts == EDGE_SINK_COUNTS
    assert res.quarantined == len(UNPARSEABLE)
    assert {s: acks[f"write_{s}"]["rejected"] for s in SINK_NAMES} == EDGE_REJECTED

    q = catalog.read("quarantine")
    assert q.schema.simpleString() == QUARANTINE_SCHEMA.format(ts="timestamp")
    assert _keys((r["conv_id"], r["turn_idx"]) for r in q.collect()) == _keys(
        (r[0], r[1]) for r in UNPARSEABLE
    )
    parts = acks["quarantine"]["partitions"]
    assert sum(p["rows"] for p in parts) == res.quarantined
    assert sorted(
        (-1 if p["part_id"] is None else p["part_id"], p["rows"], p["bytes"])
        for p in parts
    ) == EDGE_QUARANTINE_PARTITIONS

    for s in SINK_NAMES:
        assert catalog.read(s).schema.simpleString() == SINK_SCHEMA.format(ts="timestamp")
        agg = catalog.read(f"agg_{s}")
        assert agg.schema.simpleString() == AGG_SCHEMA
        # the accounting covers every routed row, rejected ones included
        assert agg.agg(F.sum("turn_count")).first()[0] == (
            EDGE_SINK_COUNTS[s] + EDGE_REJECTED[s]
        )
        if s not in EDGE_REJECTED_ROWS:
            assert not catalog.exists(f"rejected_{s}")
            continue
        rej = catalog.read(f"rejected_{s}")
        assert rej.columns == catalog.read(s).columns + ["reject_reason"]
        assert _keys(
            (r["conv_id"], r["turn_idx"], r["reject_reason"]) for r in rej.collect()
        ) == _keys(EDGE_REJECTED_ROWS[s])


def test_zero_row_sink_and_empty_quarantine_are_readable(spark, sf_dir, tmp_path):
    """A partitioned write makes no directory for a value with no rows;
    such a sink, its aggregate and an empty quarantine must still exist
    as zero-row tables with the usual schemas."""
    wh = str(tmp_path / "wh")
    res = run_pipeline(
        spark, sf_dir, wh,
        source=lambda s: derive_transcripts(s, sf_dir).filter(
            ~F.col("tool").eqNullSafe("editor")
        ),
    )
    catalog = TableCatalog(spark, wh)
    acks = _acks(res)

    assert res.sink_counts["sink_editor"] == 0 and res.quarantined == 0
    assert min(n for s, n in res.sink_counts.items() if s != "sink_editor") > 0
    for stage in ("write_sink_editor", "agg_sink_editor", "quarantine"):
        assert acks[stage]["rows_in"] == acks[stage]["rows_out"] == 0, stage
    assert acks["write_sink_editor"]["rejected"] == 0
    assert acks["quarantine"]["partitions"] == []

    expected = {
        "sink_editor": SINK_SCHEMA.format(ts="timestamp_ntz"),
        "agg_sink_editor": AGG_SCHEMA,
        "quarantine": QUARANTINE_SCHEMA.format(ts="timestamp_ntz"),
    }
    for table, schema in expected.items():
        t = catalog.read(table)
        assert t.schema.simpleString() == schema, table
        assert t.count() == 0, table
    # the empty tables read like their non-empty siblings
    assert catalog.read("sink_editor").schema == catalog.read("sink_search").schema
    assert catalog.read("agg_sink_editor").schema == catalog.read("agg_sink_search").schema


ACK_ORDER_SAMPLE = [
    "quarantine",
    f"write_{SINK_NAMES[0]}", f"write_{SINK_NAMES[-1]}",
    f"agg_{SINK_NAMES[0]}", f"agg_{SINK_NAMES[-1]}",
    "lineage",
]


@pytest.mark.parametrize("stage", ACK_ORDER_SAMPLE)
def test_crash_at_any_ack_then_resume(spark, sf_dir, tmp_path, stage):
    import os

    from opentelemetry_collector_spark.plans.checkpoint import CheckpointStore

    wh = str(tmp_path / "wh")
    src = _edge_source(sf_dir)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, sf_dir, wh, run_id="crash", source=src,
                     fail_after_stage=stage)
    acked = {m["stage"] for m in CheckpointStore(wh, "crash").metrics()}
    assert stage in acked
    catalog = TableCatalog(spark, wh)
    # an acked table's files, by name: a rewrite would give new names
    acked_tables = [
        st.removeprefix("write_") for st in acked if st.startswith(("write_", "agg_"))
    ]
    before = {t: sorted(os.listdir(catalog.path(t))) for t in acked_tables}

    res = run_pipeline(spark, sf_dir, wh, run_id="crash", source=src)

    assert acked <= set(res.stages_skipped)
    assert not set(res.stages_skipped) - acked
    assert {t: sorted(os.listdir(catalog.path(t))) for t in acked_tables} == before
    assert res.sink_counts == EDGE_SINK_COUNTS
    assert res.quarantined == len(UNPARSEABLE)
    assert {m["sink"]: m["rejected"] for m in res.metrics
            if m["stage"].startswith("write_")} == EDGE_REJECTED

    # no loss, no duplication across the union of sinks
    union = None
    for s in SINK_NAMES:
        t = catalog.read(s).select("conv_id", "turn_idx")
        union = t if union is None else union.unionByName(t)
    n = sum(EDGE_SINK_COUNTS.values())
    assert union.count() == n
    assert union.distinct().count() == n
    for s in SINK_NAMES:
        turns = catalog.read(f"agg_{s}").agg(F.sum("turn_count")).first()[0]
        assert turns == EDGE_SINK_COUNTS[s] + EDGE_REJECTED[s], s


def test_partitioned_publish_refuses_values_spark_would_escape(spark, tmp_path):
    catalog = TableCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([("a/b", 1)], "k string, v int")
    with pytest.raises(ValueError, match="path-safe"):
        catalog.overwrite_partitioned({"a/b": "t"}, df, "k")
    assert not catalog.exists("t")

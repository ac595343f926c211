"""Seeded input generators for the benchmark.

Every input is a pure function of the seed and the workload's shape, and is
written to parquet before any timing starts, so the program under test only
ever reads generated files.

Two tables are produced:

* ``events`` in the schema the flagship job derives its transcripts from
  (``event_id, ts, user_id, event_type, value, props``), in the shape
  measured on the sf0.1 events table;
* ``transcripts`` (``conv_id, turn_idx, role, text, tool, ts``) written in
  the text grammar the parse stage extracts (``[seq=N] call tool=T
  status=S latency_ms=L msg=M`` and the ``result`` twin).

The transcripts generator controls four properties the program's behaviour
depends on: the share of turns in a few hot conversations (key skew), the
route mix over the five sinks, the share of unparseable lines (quarantine
path) and the share of texts over the sink's 1 MiB row limit (rejected-row
path).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Route mix over the five sinks, expressed as the tool that selects each
# sink (``none`` routes to sink_default), and the event_type that the
# transcripts derivation maps to each tool.
TOOLS = ["search", "browser", "python", "editor", "none"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
ROLES = ["user", "assistant", "system", "tool"]

# Shape of the sf0.1 ``events`` table the flagship workload stands in for,
# measured with DuckDB over that table (100,000 rows): 1,500 users drawn
# uniformly (the 3 largest hold 0.28% of rows), the five event types at
# 0.20 each (0.198-0.203), ``value`` exponential with mean 49.9 (median
# 34.8, max 560.2, 63.2% below 50, which the derivation turns into
# status 404), ``props`` = ``{"k": K}`` with K uniform on 0-99, and ``ts``
# uniform over 30 days in ``event_id`` order.
EVENT_USERS = 1500
ROUTE_MIX = [0.20, 0.20, 0.20, 0.20, 0.20]
VALUE_MEAN = 50.0
PROPS_K = 100
# share of non-error turns with status 404 (value < 50 in the derivation)
NOT_FOUND_SHARE = 0.632

# One byte over the sink's default row-size limit (plans/errors.py
# MAX_SINK_TEXT_BYTES); texts this long are rejected, not dropped.
OVERSIZED_TEXT_BYTES = (1 << 20) + 1

_EPOCH_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
# Key skew in the synthetic transcripts: this many hot conversations share
# ``hot_share`` of the turns; the rest spread evenly.
HOT_KEYS = 3
MEAN_TURNS = 16
FILES = 4


@dataclass(frozen=True)
class TranscriptShape:
    turns: int
    hot_share: float
    unparseable_share: float
    oversized_share: float


def _dense_rank_within(keys: np.ndarray) -> np.ndarray:
    """0-based position of each element among equal keys, in input order."""
    order = np.argsort(keys, kind="stable")
    sk = keys[order]
    idx = np.arange(len(keys))
    first = np.r_[True, sk[1:] != sk[:-1]]
    start = np.maximum.accumulate(np.where(first, idx, 0))
    rank = np.empty(len(keys), dtype=np.int64)
    rank[order] = idx - start
    return rank


def _skewed_keys(rng: np.random.Generator, n: int, n_keys: int,
                 hot_share: float) -> np.ndarray:
    """n draws over ``n_keys`` keys where ``HOT_KEYS`` extra keys take
    ``hot_share`` of the draws between them."""
    n_hot = int(round(n * hot_share))
    keys = rng.integers(0, n_keys, size=n)
    if n_hot:
        pos = rng.choice(n, size=n_hot, replace=False)
        keys[pos] = n_keys + rng.integers(0, HOT_KEYS, size=n_hot)
    return keys


def write_events(path: str, seed: int, rows: int) -> dict:
    """Write ``events.parquet`` under ``path`` in the shape of the sf0.1
    events table; returns the measured shares."""
    rng = np.random.default_rng(seed)
    user = rng.integers(0, EVENT_USERS, size=rows)
    etype = rng.choice(len(EVENT_TYPES), size=rows, p=ROUTE_MIX)
    value = np.round(rng.exponential(VALUE_MEAN, size=rows), 2)
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, size=rows)) + _EPOCH_US
    table = pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[etype]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, PROPS_K, size=rows)]),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "events.parquet"))
    return {
        "turns": rows,
        "keys": int(len(np.unique(user))),
        "hot_share": _top_share(user),
        "route_mix": _mix(etype),
        "not_found_share": round(float(np.mean(
            (value < 50.0) & (etype != EVENT_TYPES.index("error")))), 4),
        "unparseable_share": 0.0,
        "oversized_share": 0.0,
    }


def _top_share(keys: np.ndarray) -> float:
    """Share of rows held by the ``HOT_KEYS`` most frequent keys."""
    counts = np.sort(np.unique(keys, return_counts=True)[1])
    return round(float(counts[-HOT_KEYS:].sum()) / len(keys), 4)


def _mix(codes: np.ndarray) -> list[float]:
    counts = np.bincount(codes, minlength=len(TOOLS))
    return [round(float(c) / len(codes), 4) for c in counts]


def _str(values: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(values), pa.string())


def _join(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _texts(seq, turn_idx, tool, status, lat, nbytes, k, bad) -> pa.Array:
    """Turn texts in the parse stage's grammar: even turns are tool calls,
    odd turns results. Unparseable turns take one of two malformed shapes
    (no seq header; a header without a status field), each of which fails
    the parse stage's ``parse_ok`` test."""
    seq_s, tool_s = _str(seq), pa.array(np.array(TOOLS)[tool])
    status_s, lat_s = _str(status), _str(lat)
    msg = _join(" msg=synthetic k", _str(k))
    call = _join("[seq=", seq_s, "] call tool=", tool_s, " status=", status_s,
                 " latency_ms=", lat_s, msg)
    result = _join("[seq=", seq_s, "] result status=", status_s,
                   " latency_ms=", lat_s, " bytes=", _str(nbytes), msg)
    no_header = _join("garbled frame ", seq_s, " tool=", tool_s,
                      " dropped before header")
    no_status = _join("[seq=", seq_s, "] call tool=", tool_s,
                      " latency_ms=", lat_s, " msg=truncated")
    good = pc.if_else(pa.array(turn_idx % 2 == 0), call, result)
    garbled = pc.if_else(pa.array(seq % 2 == 1), no_header, no_status)
    return pc.if_else(pa.array(bad), garbled, good)


def transcripts_table(seed: int, shape: TranscriptShape) -> tuple[pa.Table, dict]:
    """The transcripts table for ``shape`` and its measured shares."""
    rng = np.random.default_rng(seed)
    n = shape.turns
    n_conv = max(1, n // MEAN_TURNS)
    conv = _skewed_keys(rng, n, n_conv, shape.hot_share)
    turn_idx = _dense_rank_within(conv)
    tool = rng.choice(len(TOOLS), size=n, p=ROUTE_MIX)
    # the derivation's status rule: error turns (tool none) are 500
    status = np.where(tool == TOOLS.index("none"), 500,
                      np.where(rng.random(n) < NOT_FOUND_SHARE, 404, 200))
    lat = rng.integers(0, 5000, size=n)
    nbytes = rng.integers(0, 100_000, size=n)
    k = rng.integers(0, 97, size=n)
    bad = rng.random(n) < shape.unparseable_share
    n_over = int(round(n * shape.oversized_share))
    over = np.zeros(n, dtype=bool)
    if n_over:
        over[rng.choice(np.flatnonzero(~bad), size=n_over, replace=False)] = True
    text = _texts(np.arange(n), turn_idx, tool, status, lat, nbytes, k, bad)
    if n_over:
        pad = " " + "x" * OVERSIZED_TEXT_BYTES
        big = [t + pad for t in text.take(np.flatnonzero(over)).to_pylist()]
        text = pc.replace_with_mask(text, pa.array(over), pa.array(big))
    ts = _EPOCH_US + ((conv % 86400) * 10 + turn_idx * 7) * 10**6
    table = pa.table({
        "conv_id": _join("conv-", pc.utf8_lpad(_str(conv), 8, "0")),
        "turn_idx": pa.array(turn_idx.astype(np.int32)),
        "role": pa.array(np.array(ROLES)[(turn_idx + conv) % 4]),
        "text": text,
        "tool": pa.array(np.array(TOOLS)[tool]),
        "ts": pa.array(ts.astype("datetime64[us]")),
    })
    shares = {
        "turns": n,
        "keys": int(len(np.unique(conv))),
        "hot_share": _top_share(conv),
        "route_mix": _mix(tool),
        "not_found_share": round(float(np.mean(status == 404)), 4),
        "unparseable_share": float(np.mean(bad)),
        "oversized_share": float(np.mean(over)),
    }
    return table, shares


def write_transcripts(path: str, seed: int, shape: TranscriptShape) -> dict:
    """Write the transcripts table as ``FILES`` parquet files under
    ``path``; returns measured shares."""
    table, shares = transcripts_table(seed, shape)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILES)
    for f in range(FILES):
        pq.write_table(table.slice(f * step, step),
                       os.path.join(path, f"part-{f:05d}.parquet"))
    return shares


"""Sessionization: parsed lines → log messages ("syslines").

The reference's core grouping rule (SyslineReader::find_sysline two-phase
loop, /root/reference/src/readers/syslinereader.rs:1976-2192): a line with
a datetime STARTS a message, subsequent datetime-less lines APPEND to it,
the next datetime line ENDS it. Leading datetime-less lines (before the
first datetime in a doc) belong to no message and are dropped — they are
the reference's "lines processed but not part of any sysline".

Spark realization: one hash shuffle on ``doc_id`` then a single
``mapInPandas`` pass over doc-sorted partitions. We deliberately do NOT use
``Window + groupBy(doc_id, msg_no)`` (two shuffles of the full data) nor
``applyInPandas`` (one Python call per doc — ruinous with millions of small
docs): mapInPandas processes whole Arrow batches, carrying the trailing
incomplete doc across batch boundaries inside a partition.

Scale note: a doc is never split across partitions (hash on doc_id), so
correctness holds at any parallelism; memory is bounded by the corpus'
lines-per-doc cap (the reference has the analogous one-thread-per-file
constraint, SURVEY §7.3).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.codec import NEWLINE_TOKEN

MESSAGES_SCHEMA = (
    "doc_id string, source string, msg_no int, ts timestamp, ts_ns int, "
    "dt_beg int, dt_end int, pattern_id int, text string, "
    "tokens array<int>, n_lines int, n_chars long"
)

_IN_COLS = ["doc_id", "source", "line_no", "line_tokens", "text", "ts", "ts_ns", "dt_beg", "dt_end", "pattern_id"]


def message_numbers(pdf: pd.DataFrame) -> np.ndarray:
    """msg_no of each line of a block of COMPLETE docs sorted by (doc_id,
    line_no): the running count of datetime lines within its doc, 0 for the
    leading datetime-less lines that belong to no message."""
    if len(pdf) == 0:
        return np.zeros(0, dtype=np.int64)
    flag = pdf["ts"].notna().to_numpy()
    doc = pdf["doc_id"].to_numpy()
    new_doc = np.empty(len(pdf), dtype=bool)
    new_doc[0] = True
    new_doc[1:] = doc[1:] != doc[:-1]
    flag_i = flag.astype(np.int64)
    csum = np.cumsum(flag_i)
    doc_base = np.maximum.accumulate(np.where(new_doc, csum - flag_i, 0))
    return csum - doc_base


def _emit_messages(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized message assembly for a block of COMPLETE docs, already
    sorted by (doc_id, line_no)."""
    if len(pdf) == 0:
        return _empty_messages()
    doc = pdf["doc_id"].to_numpy()
    msg_no = message_numbers(pdf)
    keep = msg_no > 0
    if not keep.any():
        return _empty_messages()
    kept = pdf.loc[keep]
    k_msg = msg_no[keep]
    k_doc = doc[keep]
    starts = np.flatnonzero(
        np.concatenate(([True], (k_doc[1:] != k_doc[:-1]) | (k_msg[1:] != k_msg[:-1])))
    )
    ends = np.concatenate((starts[1:], [len(kept)]))

    texts = kept["text"].to_numpy()
    toks = kept["line_tokens"].to_numpy()
    nl = np.array([NEWLINE_TOKEN], dtype=np.int32)

    sizes = ends - starts
    out_text = np.empty(len(starts), dtype=object)
    out_tokens = np.empty(len(starts), dtype=object)
    single = sizes == 1
    # fast path: single-line messages (the common case) — no Python loop
    s_idx = starts[single]
    out_text[single] = texts[s_idx]
    out_tokens[single] = toks[s_idx]
    # slow path: only genuinely multi-line messages assemble in a loop
    for k in np.flatnonzero(~single):
        s, e = starts[k], ends[k]
        out_text[k] = "\n".join(texts[s:e])
        parts = []
        for j in range(s, e):
            if j > s:
                parts.append(nl)
            parts.append(np.asarray(toks[j], dtype=np.int32))
        out_tokens[k] = np.concatenate(parts)

    first = kept.iloc[starts].reset_index(drop=True)
    return pd.DataFrame(
        {
            "doc_id": first["doc_id"],
            "source": first["source"],
            "msg_no": k_msg[starts].astype(np.int32),
            "ts": first["ts"],  # stays tz-aware datetime64[ns, UTC]
            "ts_ns": first["ts_ns"],
            "dt_beg": first["dt_beg"],
            "dt_end": first["dt_end"],
            "pattern_id": first["pattern_id"],
            "text": out_text,
            "tokens": out_tokens,
            "n_lines": (ends - starts).astype(np.int32),
            "n_chars": np.array([len(t) for t in out_text], dtype=np.int64),
        }
    )


def _empty_messages() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": pd.Series(dtype=object),
            "source": pd.Series(dtype=object),
            "msg_no": pd.Series(dtype="int32"),
            "ts": pd.Series(dtype="datetime64[ns, UTC]"),
            "ts_ns": pd.Series(dtype="int32"),
            "dt_beg": pd.Series(dtype="int32"),
            "dt_end": pd.Series(dtype="int32"),
            "pattern_id": pd.Series(dtype="int32"),
            "text": pd.Series(dtype=object),
            "tokens": pd.Series(dtype=object),
            "n_lines": pd.Series(dtype="int32"),
            "n_chars": pd.Series(dtype="int64"),
        }
    )


def _sessionize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition driver: batches arrive sorted by (doc_id, line_no);
    hold back the last (possibly incomplete) doc until the next batch."""
    pending: pd.DataFrame | None = None
    for pdf in batches:
        if pending is not None and len(pending):
            pdf = pd.concat([pending, pdf], ignore_index=True)
        if len(pdf) == 0:
            continue
        last_doc = pdf["doc_id"].iloc[-1]
        tail_mask = (pdf["doc_id"] == last_doc).to_numpy()
        # rows of the trailing doc may continue in the next batch
        cut = len(pdf) - int(tail_mask[::-1].argmin() if not tail_mask.all() else len(pdf))
        pending = pdf.iloc[cut:].copy()
        complete = pdf.iloc[:cut]
        if len(complete):
            yield _emit_messages(complete)
    if pending is not None and len(pending):
        yield _emit_messages(pending)


def sessionize(parsed_lines: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Parsed lines DF → messages DF (MESSAGES_SCHEMA). One shuffle."""
    n = num_partitions or int(parsed_lines.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    df = (
        parsed_lines.select(*_IN_COLS)
        .repartition(n, "doc_id")
        .sortWithinPartitions("doc_id", "line_no")
    )
    return df.mapInPandas(_sessionize_batches, schema=MESSAGES_SCHEMA)


def event_transitions(
    ev: "DataFrame",
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = ("event_id",),
) -> "DataFrame":
    """Per-entity event-type transition matrix — the Markov "user
    journey" counts every telemetry store derives from sessionized
    streams: for each entity's time-ordered event stream, count
    ``prev_type → type`` transitions (start-of-stream enters from the
    ``<START>`` pseudo-state), plus the row-normalized transition
    probability ``share``.

    Scale shape (100 TB): the only window partitions per ENTITY
    (bounded by one entity's own activity, never corpus-wide — same
    bounded-partition rule as gap sessionization above); the transition
    aggregate is at most |types|² + |types| rows after map-side partial
    agg, and the per-prev-state totals broadcast back for the share.
    Ties on ``ts`` break on ``order_cols`` so the matrix is
    deterministic under any partitioning.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    prev = F.coalesce(F.lag(type_col).over(w), F.lit("<START>"))
    trans = (
        ev.select(F.col(key_col), F.col(ts_col), *[F.col(c) for c in order_cols], F.col(type_col))
        .withColumn("prev_type", prev)
        .groupBy("prev_type", type_col)
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    totals = trans.groupBy("prev_type").agg(F.sum("n").alias("_tot"))
    return trans.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        F.col(type_col).alias("next_type"),
        "n",
        F.round(F.col("n") / F.col("_tot"), 4).alias("share"),
    )

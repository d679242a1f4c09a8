"""Year inference for no-year datetime formats (RFC 3164 etc.).

Reference: ``process_missing_year``
(/root/reference/src/readers/syslogprocessor.rs:604-712). The reference
seeds the year from the file's mtime and re-scans the file BACKWARDS; a
backwards time jump greater than 25 hours
(``BACKWARDS_TIME_JUMP_MEANS_NEW_YEAR``, syslogprocessor.rs:189) means a
year rollover, so the year is decremented for all earlier messages.

Our engine has no mtimes (not reproducible — the reference's own CI resets
them, SURVEY §5); the seed year is an explicit job parameter
(``reference_year``) or a per-source column. The 25-hour constant is kept.

Vectorization: instead of a sequential backwards walk we compute, per doc,
the month-day ordering at a UNIFORM year and take a reversed cumulative sum
of ">25h forward jump" flags — equivalent to the sequential rule whenever
each rollover is itself a >25h month-day jump (always true for Dec→Jan).
``fix_years_batch`` does this for a whole Arrow batch of docs at once (the
cumulative sum restarts at each doc boundary); the fused parse kernel and
``infer_years`` both call it. ``fix_years_pdf`` is the one-doc form.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.parse import NOYEAR_PATTERN_IDS, _civil_to_epoch_days

BACKWARDS_TIME_JUMP_MEANS_NEW_YEAR_HOURS = 25


def fix_years_pdf(pdf: pd.DataFrame, reference_year: int) -> pd.DataFrame:
    """Apply the rollover rule to ONE doc's messages (sorted by msg_no).
    Only rows whose pattern lacks a year are rewritten."""
    mask = pdf["pattern_id"].isin(NOYEAR_PATTERN_IDS).to_numpy()
    if not mask.any():
        return pdf
    ts = pdf["ts"]
    if ts.dt.tz is None:  # Arrow batches arrive UTC-naive (session tz UTC)
        ts = ts.dt.tz_localize("UTC")
    sub = ts[mask]
    # rebuild at the uniform reference year
    comp = pd.DataFrame(
        {
            "year": reference_year,
            "month": sub.dt.month,
            "day": sub.dt.day,
            "hour": sub.dt.hour,
            "minute": sub.dt.minute,
            "second": sub.dt.second,
        }
    )
    uni = pd.to_datetime(comp, errors="coerce", utc=True)
    us = sub.dt.microsecond
    # forward jump > 25h between consecutive messages (file order) ⇒ the
    # earlier message belongs to the previous year
    jump_ns = np.int64(BACKWARDS_TIME_JUMP_MEANS_NEW_YEAR_HOURS) * 3_600_000_000_000
    v64 = uni.astype("int64").to_numpy()
    jumps = (v64[:-1] - v64[1:]) > jump_ns
    dec = np.concatenate((np.cumsum(jumps[::-1])[::-1], [0]))
    year = reference_year - dec
    comp["year"] = year
    us = pd.to_timedelta(us, unit="us")
    fixed = pd.to_datetime(comp, errors="coerce", utc=True) + us
    # leap-day at a non-leap target year → keep the uniform-year value
    fixed = fixed.fillna(uni + us)
    out_ts = ts.copy()
    out_ts[mask] = fixed
    pdf = pdf.copy()
    pdf["ts"] = out_ts
    return pdf


_NS_PER_DAY = 86_400_000_000_000


def fix_years_batch(pdf: pd.DataFrame, reference_year: int) -> pd.DataFrame:
    """``fix_years_pdf`` over a batch of WHOLE docs in one pass: each doc's
    rows contiguous and in msg_no order, docs told apart by ``doc_id``.

    The reversed cumulative sum of jump flags runs over the whole batch and
    is cut at every doc boundary; the calendar rebuild is day arithmetic
    on the UTC month-day and time of day. Precondition (holds for anything
    ``parse_series`` parsed with the same ``reference_year``): every
    no-year row's month-day exists in ``reference_year``."""
    mask = pdf["pattern_id"].isin(NOYEAR_PATTERN_IDS).to_numpy()
    if not mask.any():
        return pdf
    ts = pdf["ts"]
    if ts.dt.tz is None:  # Arrow batches arrive UTC-naive (session tz UTC)
        ts = ts.dt.tz_localize("UTC")
    sub = ts[mask]
    ns = sub.dt.tz_convert(None).to_numpy().astype("datetime64[ns]").view(np.int64)
    month = sub.dt.month.to_numpy(np.int64)
    day = sub.dt.day.to_numpy(np.int64)
    tod = np.mod(ns, _NS_PER_DAY)
    uni_days = _civil_to_epoch_days(np.full(len(ns), reference_year, np.int64), month, day)
    uni_s = uni_days * 86_400 + tod // 1_000_000_000
    doc = pdf["doc_id"].to_numpy()[mask]
    same_doc = doc[:-1] == doc[1:]
    jump_s = BACKWARDS_TIME_JUMP_MEANS_NEW_YEAR_HOURS * 3600
    jumps = np.append((uni_s[:-1] - uni_s[1:]) > jump_s, False)
    rcum = np.cumsum(jumps[::-1])[::-1]
    # minus rcum at the doc's last row: what is left counts the jumps from
    # the row up to that last row, so never one across the doc boundary
    last = np.flatnonzero(np.append(~same_doc, True))
    doc_no = np.concatenate(([0], np.cumsum(~same_doc)))
    year = reference_year - (rcum - rcum[last[doc_no]])
    # Feb 29 at a non-leap target year → keep the uniform-year value
    leap = (year % 4 == 0) & ((year % 100 != 0) | (year % 400 == 0))
    year = np.where((month == 2) & (day == 29) & ~leap, reference_year, year)
    fixed = _civil_to_epoch_days(year, month, day) * _NS_PER_DAY + tod
    out_ts = ts.copy()
    out_ts[mask] = pd.DatetimeIndex(fixed.view("datetime64[ns]")).tz_localize("UTC")
    pdf = pdf.copy()
    pdf["ts"] = out_ts
    return pdf


def infer_years(messages: DataFrame, reference_year: int, num_partitions: int | None = None) -> DataFrame:
    """messages DF → messages DF with no-year timestamps year-corrected.

    One shuffle on doc_id (skipped rows pass through untouched). Cheap
    pre-split: docs with no no-year rows bypass the Python stage entirely
    via an anti/semi split, so the UDF only sees affected docs.
    """
    n = num_partitions or int(messages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    affected = messages.filter(F.col("pattern_id").isin(NOYEAR_PATTERN_IDS)).select("doc_id").distinct()
    todo = messages.join(F.broadcast(affected), "doc_id", "left_semi")
    passthrough = messages.join(F.broadcast(affected), "doc_id", "left_anti")

    cols = messages.columns
    schema = messages.schema

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            last_doc = pdf["doc_id"].iloc[-1]
            tail = (pdf["doc_id"] == last_doc).to_numpy()
            cut = len(pdf) - int(tail[::-1].argmin() if not tail.all() else len(pdf))
            pending = pdf.iloc[cut:].copy()
            complete = pdf.iloc[:cut]
            if len(complete):
                yield _fix_block(complete)
        if pending is not None and len(pending):
            yield _fix_block(pending)

    def _fix_block(pdf: pd.DataFrame) -> pd.DataFrame:
        return fix_years_batch(pdf, reference_year)[cols]

    fixed = (
        todo.repartition(n, "doc_id")
        .sortWithinPartitions("doc_id", "msg_no")
        .mapInPandas(_gen, schema=schema)
    )
    return fixed.unionByName(passthrough)

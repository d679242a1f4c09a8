"""End-to-end pipeline: fused kernel → enrich → routed write → one stats
aggregate.

The Spark lifecycle equivalent of ``s4 <PATHS> -a A -b B`` (SURVEY §3.3):

    read docs table → fused kernel (ONE mapInPandas over docs, after the
    sampled P9 pattern vote: token split, DTPD parse, sysline assembly,
    missing-year fix) → persist → filter ts BETWEEN a, b → broadcast-join
    enrichment → write partitioned by sink_key → ONE grouped aggregate
    over the persisted kernel output, collected.

No shuffle before the routed write: a doc is one input row, so sysline
assembly and the year fix are partition-local — the reference's single
pass per file (syslinereader.rs:1976-2192, syslogprocessor.rs:604-712).
The one wide dependency is the stats aggregate's, grouped on (source,
pattern_id, kind ∈ {doc, in-window, out-of-window}) and joined to the
enrichment's sink_key. Its collected result is bounded by
|sources| × (2 × |DTPD table| + 1) rows (times the lookup rows per
source) and, on the driver, becomes the per-sink counts, the summary
rollup, the per-DTPD hit/miss counts and the lineage rows. That suffices
because a line carries a pattern_id ≥ 0 exactly when it has a datetime
(``parse_series``): per-pattern line hits are message counts, and misses
are lines − messages; the kernel's one row per doc adds the leading
datetime-less lines that belong to no message.

Ordering: the routed sink files make no promise about row order. The
merged stream in the reference's order is ``result["merged"]``, a lazy
global sort that runs only when read.

Checkpoint/resume + lineage (north_rule): each run writes per-source
manifest rows after its sinks commit; a resume run anti-joins the input
against the manifest of completed sources, so already-routed work is never
recomputed. Lineage rows carry per-(source) message counts + ts bounds —
the per-partition metrics the north_star asks for.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..functions.parse import parse_messages_with_doc_rows
from ..operators.enrich import enrich
from ..operators.filters import dt_after_or_before, dt_between
from ..operators.merge import global_sort, with_source_order
from ..operators.route import route_write


@dataclass
class PipelineConfig:
    default_tz: str = "+00:00"
    reference_year: int | None = None  # seed year for no-year formats
    dt_a: datetime | None = None
    dt_b: datetime | None = None
    lock_patterns: bool = True
    num_partitions: int | None = None
    sources_in_order: list[str] | None = None
    extra: dict = field(default_factory=dict)


SINK_COUNTS_SCHEMA = (
    "sink_key string NOT NULL, messages bigint NOT NULL, lines bigint, bytes bigint, "
    "dt_first timestamp, dt_last timestamp"
)
SUMMARY_SCHEMA = (
    "source string, lines_processed bigint NOT NULL, lines_with_dt bigint, "
    "lines_dropped bigint NOT NULL, bytes_processed bigint, syslines bigint NOT NULL, "
    "dt_first timestamp, dt_last timestamp"
)
PATTERN_COUNTS_SCHEMA = "source string, pattern_id int, n bigint NOT NULL, kind string NOT NULL"
MANIFEST_SCHEMA = (
    "source string, n_messages bigint NOT NULL, dt_first timestamp, dt_last timestamp, "
    "n_docs bigint, n_input_files bigint, n_partitions bigint, "
    "patterns_used array<int> NOT NULL, pattern_hits map<int,bigint> NOT NULL, "
    "n_lines_missed bigint NOT NULL, completed_at double NOT NULL, run_id string NOT NULL"
)


def _stats(kernel: DataFrame, enrichment: DataFrame, cfg: PipelineConfig) -> list[Row]:
    """The one aggregate over the kernel output. ``kind`` is ``doc`` for the
    per-doc rows, else whether the message passes the -a/-b window."""
    in_window = dt_after_or_before(F.col("ts"), cfg.dt_a, cfg.dt_b)
    kind = F.when(F.col("msg_no") == 0, "doc").when(in_window, "in").otherwise("out")
    agg = kernel.groupBy("source", "pattern_id", kind.alias("kind")).agg(
        F.count("*").alias("n"),
        F.sum("n_lines").alias("lines"),
        F.sum("n_chars").alias("chars"),
        # as epoch µs: exact on the driver whatever the Python time zone
        F.unix_micros(F.min("ts")).alias("us_first"),
        F.unix_micros(F.max("ts")).alias("us_last"),
        F.size(F.collect_set("input_file")).alias("n_files"),
        F.size(F.collect_set("partition_id")).alias("n_partitions"),
    )
    # aggregate first, then attach sink_key: a lookup with several rows for
    # one source fans its messages out to several sinks, as in the routed
    # write, and _unfanned keeps one copy of each aggregate row
    return enrich(agg, enrichment).collect()


def _unfanned(stats: list[Row]) -> list[Row]:
    return list({(r.source, r.pattern_id, r.kind): r for r in stats}.values())


def _ts(us: int | None) -> datetime | None:
    return None if us is None else datetime(1970, 1, 1, tzinfo=timezone.utc) + timedelta(microseconds=us)


def _by(rows: list[Row], key: str) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r[key], []).append(r)
    return out


def _totals(rows: list[Row]) -> tuple:
    """(messages, lines, chars, dt_first, dt_last) of message stats rows."""
    return (
        sum(r.n for r in rows),
        sum(r.lines for r in rows),
        sum(r.chars for r in rows),
        _ts(min((r.us_first for r in rows if r.us_first is not None), default=None)),
        _ts(max((r.us_last for r in rows if r.us_last is not None), default=None)),
    )


def _hits(rows: list[Row]) -> dict[int, int]:
    """Line hits per DTPD pattern: a message starts at its one datetime line."""
    hits: dict[int, int] = {}
    for r in rows:
        if r.kind != "doc":
            hits[r.pattern_id] = hits.get(r.pattern_id, 0) + r.n
    return hits


def _summary_row(source: str | None, rows: list[Row]) -> tuple:
    """≙ ``summary.source_summary`` over the rows of one source (or of all,
    for the rollup row): every line is a doc's leading line or a message
    line, and a message's text joins its lines with '\n'."""
    msgs = [r for r in rows if r.kind != "doc"]
    syslines, member_lines, _, dt_first, dt_last = _totals([r for r in msgs if r.kind == "in"])
    lines = sum(r.lines for r in rows)
    chars = sum(r.chars for r in rows) - sum(r.lines - r.n for r in msgs)
    with_dt = sum(r.n for r in msgs)
    return (source, lines, with_dt, lines - member_lines, chars, syslines, dt_first, dt_last)


def _pattern_count_rows(source: str, rows: list[Row]) -> list[tuple]:
    """≙ ``summary.pattern_hit_miss``: misses are pattern_id -1."""
    hits = _hits(rows)
    misses = sum(r.lines for r in rows) - sum(hits.values())
    return [(source, p, n, "hit") for p, n in hits.items()] + ([(source, -1, misses, "miss")] if misses else [])


def _run(
    docs: DataFrame,
    enrichment: DataFrame,
    cfg: PipelineConfig,
    out_dir: str | None,
) -> tuple[dict[str, DataFrame], list[Row], DataFrame]:
    """The pipeline run: (result frames, collected stats rows, the
    persisted kernel output the lazy result frames read)."""
    spark = docs.sparkSession
    kernel = parse_messages_with_doc_rows(
        docs,
        default_tz=cfg.default_tz,
        reference_year=cfg.reference_year,
        lock_patterns=cfg.lock_patterns,
    ).persist()
    messages = dt_between(kernel.filter(F.col("msg_no") > 0).drop("input_file", "partition_id"), cfg.dt_a, cfg.dt_b)
    enriched = enrich(messages, enrichment)
    if out_dir:
        route_write(enriched, os.path.join(out_dir, "routed"))
    stats = _stats(kernel, enrichment, cfg)
    by_source = _by(_unfanned(stats), "source")
    in_window = [r for r in stats if r.kind == "in"]
    sources = cfg.sources_in_order
    if sources is None:
        sources = sorted({r.source for r in in_window})
    summary = [_summary_row(src, rows) for src, rows in by_source.items() if any(r.lines for r in rows)]
    if summary:
        summary.append(_summary_row(None, _unfanned(stats)))
    result = {
        "messages": messages,
        "enriched": enriched,
        # source_order from the collected stats: building it runs no job
        "merged": global_sort(with_source_order(enriched, sources), num_partitions=cfg.num_partitions),
        "sink_counts": spark.createDataFrame(
            [(sink, *_totals(rows)) for sink, rows in _by(in_window, "sink_key").items()], SINK_COUNTS_SCHEMA
        ),
        "summary": spark.createDataFrame(summary, SUMMARY_SCHEMA),
        "pattern_counts": spark.createDataFrame(
            [row for src, rows in by_source.items() for row in _pattern_count_rows(src, rows)],
            PATTERN_COUNTS_SCHEMA,
        ),
    }
    if out_dir:
        for name in ("sink_counts", "summary", "pattern_counts"):
            result[name].write.mode("overwrite").parquet(os.path.join(out_dir, name))
    return result, stats, kernel


def run_pipeline(
    docs: DataFrame,
    enrichment: DataFrame,
    cfg: PipelineConfig | None = None,
    out_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Full run. Returns the named output DataFrames: ``messages`` (in the
    window), ``enriched``, ``merged`` (lazily sorted in the reference's
    merge order), ``sink_counts``, ``summary`` and ``pattern_counts``. If
    ``out_dir`` is given, the enriched messages are fanned out to
    ``out_dir/routed`` (no row order promised within a sink) and the three
    counter tables to ``out_dir/…``. The kernel output stays persisted for
    the lazy frames."""
    return _run(docs, enrichment, cfg or PipelineConfig(), out_dir)[0]


# --------------------------------------------------------------------------
# checkpoint / resume + lineage (M10)
# --------------------------------------------------------------------------
def _manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "manifest")


def read_manifest(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    path = _manifest_path(checkpoint_dir)
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(path)
    except Exception:
        return spark.createDataFrame([], MANIFEST_SCHEMA)


def _lineage_rows(stats: list[Row], run_id: str) -> list[tuple]:
    """One manifest row per input source — a source whose docs yield zero
    messages (all lines datetime-less) is still "completed", otherwise it
    would be reprocessed on every resume. ``n_messages`` counts routed rows
    (lookup fan-out included); hits and misses are line-grained and
    unwindowed (north_star: "parse hit/miss rates per DTPD pattern")."""
    routed = _by([r for r in stats if r.kind == "in"], "source")
    completed_at = time.time()
    out = []
    for src, rows in _by(_unfanned(stats), "source").items():
        (doc,) = [r for r in rows if r.kind == "doc"]
        _, lines, with_dt, _, _, _, dt_first, dt_last = _summary_row(src, rows)
        n_routed = sum(r.n for r in routed.get(src, []))
        used = sorted({r.pattern_id for r in rows if r.kind == "in"})
        out.append((src, n_routed, dt_first, dt_last, doc.n, doc.n_files, doc.n_partitions,
                    used, _hits(rows), lines - with_dt, completed_at, run_id))
    return out


def run_pipeline_resumable(
    docs: DataFrame,
    enrichment: DataFrame,
    cfg: PipelineConfig,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str | None = None,
) -> dict:
    """Checkpointed run: skip sources already in the manifest, process the
    remainder, then append their lineage rows. Unit of work = source
    (≙ the reference's unit of work = file): a source's sink partitions
    commit before its manifest row exists, so a crash between the two only
    re-does work, never loses or duplicates a completed source
    (dynamic-partition overwrite keeps the re-do idempotent)."""
    spark = docs.sparkSession
    run_id = run_id or f"run-{int(time.time() * 1000)}"
    manifest = read_manifest(spark, checkpoint_dir)
    done_sources = manifest.select("source").distinct()
    todo = docs.join(F.broadcast(done_sources), "source", "left_anti")
    if todo.isEmpty():
        return {"skipped": True, "run_id": run_id, "n_new_sources": 0}

    _, stats, kernel = _run(todo, enrichment, cfg, out_dir)
    # the rows are built on the driver from the collected stats, so the
    # append never re-reads the manifest it extends
    lineage_rows = _lineage_rows(stats, run_id)
    spark.createDataFrame(lineage_rows, MANIFEST_SCHEMA).write.mode("append").parquet(
        _manifest_path(checkpoint_dir)
    )
    # blocking: the cached blocks are gone when the call returns, so no
    # block removal runs on into the caller's next job
    kernel.unpersist(blocking=True)
    metrics = {
        "skipped": False,
        "run_id": run_id,
        "n_new_sources": len(lineage_rows),
    }
    with open(os.path.join(checkpoint_dir, f"metrics-{run_id}.json"), "w") as f:
        json.dump(metrics, f)
    return metrics

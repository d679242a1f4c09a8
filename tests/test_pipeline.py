"""End-to-end pipeline correctness against generation-time golden values
(the analogue of the reference's compare-current-and-expected golden runs,
/root/reference/tools/compare-current-and-expected/compare.sh)."""

from __future__ import annotations

from datetime import datetime, timezone

import pandas as pd
import pytest
from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark.functions.codec import decode_tokens_array, explode_lines
from super_speedy_syslog_searcher_spark.plans.pipeline import PipelineConfig, run_pipeline
from super_speedy_syslog_searcher_spark.sources.tokenized import REFERENCE_YEAR, gen_corpus

DOCS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"
ENRICH_SCHEMA = "source string, facility string, severity string, sink_key string"


@pytest.fixture(scope="module")
def pipeline_result(spark, corpus):
    docs_pd, enrich_pd, golden = corpus
    docs = spark.createDataFrame(docs_pd, schema=DOCS_SCHEMA)
    lookup = spark.createDataFrame(enrich_pd, schema=ENRICH_SCHEMA)
    cfg = PipelineConfig(reference_year=REFERENCE_YEAR)
    res = run_pipeline(docs, lookup, cfg)
    return res, golden, enrich_pd


def test_message_timestamps_match_golden(pipeline_result):
    res, golden, _ = pipeline_result
    got = res["messages"].select("doc_id", "msg_no", "ts", "text", "n_lines").toPandas()
    exp = golden[["doc_id", "msg_no", "ts_expect", "text", "n_lines"]].copy()
    merged = got.merge(exp, on=["doc_id", "msg_no"], how="outer", indicator=True)
    assert (merged["_merge"] == "both").all(), merged[merged["_merge"] != "both"].head(10)
    ts_got = merged["ts"].dt.tz_localize("UTC")  # spark returns UTC-naive (session tz UTC)
    ts_exp = pd.to_datetime(merged["ts_expect"], utc=True)
    bad = merged[ts_got != ts_exp]
    assert len(bad) == 0, bad[["doc_id", "msg_no", "ts", "ts_expect", "text_y"]].head(10)
    assert (merged["text_x"] == merged["text_y"]).all()
    assert (merged["n_lines_x"] == merged["n_lines_y"]).all()


def test_token_array_invariant(pipeline_result, corpus):
    """Routed rows carry the ORIGINAL token slice: re-decoding a message's
    tokens must reproduce its text, and the concatenation of a doc's
    message tokens must be a subsequence of the doc's tokens."""
    res, _, _ = pipeline_result
    sample = res["messages"].limit(200).toPandas()
    for _, row in sample.iterrows():
        assert decode_tokens_array(row["tokens"]) == row["text"]

    docs_pd = corpus[0].set_index("doc_id")
    for doc_id, grp in sample.groupby("doc_id"):
        doc_tokens = docs_pd.loc[doc_id, "tokens"]
        hay = ",".join(map(str, doc_tokens))
        for toks in grp["tokens"]:
            needle = ",".join(map(str, toks))
            assert needle in hay, f"message tokens not a slice of doc tokens for {doc_id}"


def test_global_sort_order(pipeline_result):
    res, _, _ = pipeline_result
    rows = res["merged"].select("ts", "ts_ns", "source_order", "doc_id", "msg_no").collect()
    keys = [(r["ts"], r["ts_ns"], r["source_order"], r["doc_id"], r["msg_no"]) for r in rows]
    assert keys == sorted(keys), "collected order is not the global sort order"
    assert len(keys) > 0


def test_sink_counts_match_enrichment(pipeline_result):
    res, golden, enrich_pd = pipeline_result
    counts = {r["sink_key"]: r["messages"] for r in res["sink_counts"].collect()}
    exp = golden.merge(enrich_pd[["source", "sink_key"]], on="source", how="left")
    exp_counts = exp.groupby("sink_key").size().to_dict()
    assert counts == exp_counts


def test_dt_filter_window(pipeline_result, spark, corpus):
    res, golden, _ = pipeline_result
    ts_sorted = golden["ts_expect"].sort_values()
    a = ts_sorted.iloc[len(ts_sorted) // 4].to_pydatetime()
    b = ts_sorted.iloc[3 * len(ts_sorted) // 4].to_pydatetime()
    from super_speedy_syslog_searcher_spark.operators.filters import dt_between

    n = dt_between(res["messages"], a, b).count()
    exp_n = ((golden["ts_expect"] >= a) & (golden["ts_expect"] <= b)).sum()
    assert n == exp_n


def test_summary_counters(pipeline_result, corpus):
    res, golden, _ = pipeline_result
    summary = res["summary"].toPandas()
    total = summary[summary["source"].isna()]
    assert len(total) == 1
    assert int(total["syslines"].iloc[0]) == len(golden)
    per_source = summary[summary["source"].notna()]
    exp_by_source = golden.groupby("source").size()
    for src, n in exp_by_source.items():
        assert int(per_source.set_index("source").loc[src, "syslines"]) == n


def test_pattern_hit_miss(pipeline_result):
    res, _, _ = pipeline_result
    pc = res["pattern_counts"].toPandas()
    assert (pc[pc["kind"] == "hit"]["pattern_id"] >= 0).all()
    # nodt sources must show misses only
    nodt = pc[pc["source"].str.startswith("nodt.")]
    assert len(nodt) > 0 and (nodt["kind"] == "miss").all()


def test_explode_lines_roundtrip(spark, corpus):
    docs_pd, _, _ = corpus
    docs = spark.createDataFrame(docs_pd.head(5), schema=DOCS_SCHEMA)
    lines = explode_lines(docs).toPandas().sort_values(["doc_id", "line_no"])
    for doc_id, grp in lines.groupby("doc_id"):
        orig = decode_tokens_array(docs_pd[docs_pd["doc_id"] == doc_id]["tokens"].iloc[0])
        assert "\n".join(grp["text"]) == orig


def test_sessionize_edge_shapes(spark):
    """Sysline-assembly edges mirrored from the reference's sequential
    scan semantics (syslinereader.rs:1976-2192): consecutive datetime
    lines each close the previous message; trailing continuations attach
    to the last message; a doc of only continuations yields nothing."""
    from super_speedy_syslog_searcher_spark.functions.codec import encode_text_udf
    from super_speedy_syslog_searcher_spark.functions.parse import parse_messages_fused
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    docs_text = {
        "consec": "2024-01-05T10:00:00Z a\n2024-01-05T10:00:01Z b\n2024-01-05T10:00:02Z c",
        "trailing": "2024-01-05T10:00:00Z head\n  at alpha\n  at beta",
        "contonly": "  no datetime here\n  nor here",
        "interleaved": "lead junk\n2024-01-05T10:00:00Z x\n  cont\n2024-01-05T10:00:05Z y",
    }
    df = spark.createDataFrame(
        [(k, "srcE", v) for k, v in docs_text.items()], "doc_id string, source string, text string"
    ).withColumn("tokens", encode_text_udf("text")).select(
        "doc_id", "tokens", F.size("tokens").alias("n_tok"), "source"
    )
    msgs = parse_messages_fused(df, reference_year=2024, lock_patterns=False)
    got = {}
    for r in msgs.collect():
        got.setdefault(r["doc_id"], []).append(r)
    assert len(got.get("consec", [])) == 3
    assert [m["n_lines"] for m in sorted(got["consec"], key=lambda r: r["msg_no"])] == [1, 1, 1]
    tr = got["trailing"]
    assert len(tr) == 1 and tr[0]["n_lines"] == 3 and tr[0]["text"].endswith("at beta")
    assert "contonly" not in got  # no sysline — lands in the rejects channel
    il = sorted(got["interleaved"], key=lambda r: r["msg_no"])
    assert [m["n_lines"] for m in il] == [2, 1]
    assert il[0]["text"].startswith("2024-01-05T10:00:00Z x")


# ---------------------------------------------------------------------------
# equivalence with the line-grained composition the fused kernel replaced
# ---------------------------------------------------------------------------
WINDOWS = {
    "full": (None, None),
    "2h": (datetime(2023, 6, 1, 6, tzinfo=timezone.utc), datetime(2023, 6, 1, 8, tzinfo=timezone.utc)),
}


def _line_grained_run(docs, lookup, cfg, out):
    """The pipeline as composed before the fused kernel, from the operators
    that remain: line parse → sessionize shuffle → infer_years shuffle →
    window → enrich, the line-level summary and hit/miss aggregates, and
    the lineage rows aggregated from the routed rows, the parsed lines and
    the input scan."""
    from super_speedy_syslog_searcher_spark.functions.parse import parse_docs_fused
    from super_speedy_syslog_searcher_spark.operators.enrich import enrich
    from super_speedy_syslog_searcher_spark.operators.filters import dt_between
    from super_speedy_syslog_searcher_spark.operators.route import route_write, sink_counts
    from super_speedy_syslog_searcher_spark.operators.sessionize import sessionize
    from super_speedy_syslog_searcher_spark.operators.summary import pattern_hit_miss, source_summary
    from super_speedy_syslog_searcher_spark.operators.yearfix import infer_years

    parsed = parse_docs_fused(docs, reference_year=cfg.reference_year)
    msgs = dt_between(infer_years(sessionize(parsed), cfg.reference_year), cfg.dt_a, cfg.dt_b)
    enriched = enrich(msgs, lookup)
    route_write(enriched, f"{out}/routed")
    sink_counts(enriched).write.parquet(f"{out}/sink_counts")
    source_summary(parsed, msgs).write.parquet(f"{out}/summary")
    pattern_hit_miss(parsed).write.parquet(f"{out}/pattern_counts")

    msg_agg = enriched.groupBy("source").agg(
        F.count("*").alias("n_messages"),
        F.min("ts").alias("dt_first"),
        F.max("ts").alias("dt_last"),
        F.array_distinct(F.collect_set("pattern_id")).alias("patterns_used"),
    )
    pat = parsed.groupBy("source", "pattern_id").agg(F.count("*").alias("n"))
    pat_agg = pat.groupBy("source").agg(
        F.map_from_entries(
            F.filter(F.collect_list(F.struct("pattern_id", "n")), lambda s: s["pattern_id"] >= 0)
        ).alias("pattern_hits"),
        F.sum(F.when(F.col("pattern_id") < 0, F.col("n")).otherwise(0)).alias("n_lines_missed"),
    )
    doc_agg = (
        docs.withColumn("_file", F.input_file_name())
        .withColumn("_pid", F.spark_partition_id())
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("_file").alias("n_input_files"),
            F.countDistinct("_pid").alias("n_partitions"),
        )
    )
    lineage = (
        docs.select("source").distinct()
        .join(msg_agg, "source", "left")
        .join(doc_agg, "source", "left")
        .join(pat_agg, "source", "left")
        .withColumn("n_messages", F.coalesce(F.col("n_messages"), F.lit(0)))
        .withColumn("patterns_used", F.coalesce(F.col("patterns_used"), F.array().cast("array<int>")))
        .withColumn("pattern_hits", F.coalesce(F.col("pattern_hits"), F.expr("map()").cast("map<int,bigint>")))
        .withColumn("n_lines_missed", F.coalesce(F.col("n_lines_missed"), F.lit(0)))
        .withColumn("completed_at", F.lit(0.0))
        .withColumn("run_id", F.lit("old"))
        .select("source", "n_messages", "dt_first", "dt_last", "n_docs", "n_input_files", "n_partitions",
                "patterns_used", "pattern_hits", "n_lines_missed", "completed_at", "run_id")
    )
    spark = docs.sparkSession
    spark.createDataFrame(lineage.collect(), lineage.schema).write.parquet(f"{out}/manifest")


def _table(path, drop=()):
    """A written table as (arrow schema, rows sorted); list cells become
    tuples, sorted for the manifest's set- and map-valued columns."""
    import pyarrow.dataset as pads

    table = pads.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = [c for c in table.column_names if c not in drop]
    unordered = {"patterns_used", "pattern_hits"}
    values = [
        [None if v is None else tuple(sorted(v) if c in unordered else v) if isinstance(v, list) else v
         for v in table.column(c).to_pylist()]
        for c in cols
    ]
    return table.schema, sorted(zip(*values), key=repr)


@pytest.mark.parametrize("window", sorted(WINDOWS))
def test_resumable_run_equals_line_grained_composition(spark, tmp_path, window):
    """Routed rows, sink_counts, summary, pattern_counts and the manifest
    (less completed_at/run_id; patterns_used as a set) equal the
    line-grained composition's, with equal parquet schemas, on a skewed
    corpus plus a Dec→Jan doc, over the full window and a 2 h one."""
    from super_speedy_syslog_searcher_spark.plans.pipeline import run_pipeline_resumable
    from super_speedy_syslog_searcher_spark.sources.tokenized import gen_year_rollover_doc

    docs_pd, enrich_pd, _ = gen_corpus(n_docs=48, lines_per_doc=8, n_sources=12, seed=11, skew=True)
    roll_pd, _ = gen_year_rollover_doc()
    docs_pd = pd.concat([docs_pd, roll_pd], ignore_index=True)
    assert docs_pd["source"].str.startswith("nodt.").any()
    docs = spark.createDataFrame(docs_pd, schema=DOCS_SCHEMA)
    lookup = spark.createDataFrame(enrich_pd, schema=ENRICH_SCHEMA)  # rollover.000 takes the default sink
    a, b = WINDOWS[window]
    cfg = PipelineConfig(reference_year=REFERENCE_YEAR, dt_a=a, dt_b=b)

    old, new = str(tmp_path / "old"), str(tmp_path / "new")
    _line_grained_run(docs, lookup, cfg, old)
    assert not run_pipeline_resumable(docs, lookup, cfg, new, f"{new}/ckpt", run_id="new")["skipped"]

    for name in ("routed", "sink_counts", "summary", "pattern_counts"):
        want_schema, want = _table(f"{old}/{name}")
        got_schema, got = _table(f"{new}/{name}")
        assert got_schema.equals(want_schema, check_metadata=True), name
        assert got == want, name
        assert len(got) > 0, name
    want_schema, want = _table(f"{old}/manifest", drop=("completed_at", "run_id"))
    got_schema, got = _table(f"{new}/ckpt/manifest", drop=("completed_at", "run_id"))
    assert got_schema.equals(want_schema, check_metadata=True)
    assert got == want

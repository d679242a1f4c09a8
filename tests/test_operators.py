"""Operator-level tests: year inference, CLI filters, catalog rules,
checkpoint/resume."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pandas as pd
import pytest

from super_speedy_syslog_searcher_spark.operators.filters import (
    AFTER_RANGE,
    BEFORE_RANGE,
    IN_RANGE,
    dt_pass_filters,
    parse_dt_filter,
    resolve_filters,
    string_wdhms_to_duration,
)
from super_speedy_syslog_searcher_spark.sources.catalog import (
    EVTX,
    FIXEDSTRUCT,
    JOURNAL,
    TEXT,
    UNPARSABLE,
    guess_filetype,
)
from super_speedy_syslog_searcher_spark.sources.tokenized import (
    REFERENCE_YEAR,
    gen_corpus,
    gen_year_rollover_doc,
)

UTC = timezone.utc


# ---------------------------------------------------------------- yearfix
def _rollover_years_match_golden(msgs, golden):
    got = list(msgs.toPandas().sort_values("msg_no")["ts"])
    exp = [t.to_pydatetime().replace(tzinfo=None) for t in pd.to_datetime(golden["ts_expect"])]
    assert [g.to_pydatetime() for g in pd.to_datetime(got)] == exp
    # Dec rows really did get REFERENCE_YEAR-1
    assert got[0].year == REFERENCE_YEAR - 1 and got[-1].year == REFERENCE_YEAR


def test_year_rollover(spark):
    from super_speedy_syslog_searcher_spark.plans.pipeline import PipelineConfig, run_pipeline

    docs_pd, golden = gen_year_rollover_doc()
    docs = spark.createDataFrame(docs_pd, schema="doc_id string, tokens array<int>, n_tok int, source string")
    lookup = spark.createDataFrame([("rollover.000", "kern", "info")], "source string, facility string, severity string")
    res = run_pipeline(docs, lookup, PipelineConfig(reference_year=REFERENCE_YEAR))
    _rollover_years_match_golden(res["messages"], golden)


def test_parse_messages_fused_year_rollover(spark):
    """The bench, streaming and merge path applies the same year fix as
    the pipeline: Dec lines of a Dec→Jan doc get the previous year."""
    from super_speedy_syslog_searcher_spark.functions.parse import parse_messages_fused

    docs_pd, golden = gen_year_rollover_doc()
    docs = spark.createDataFrame(docs_pd, schema="doc_id string, tokens array<int>, n_tok int, source string")
    _rollover_years_match_golden(parse_messages_fused(docs, reference_year=REFERENCE_YEAR), golden)


def test_yearfix_pure():
    from super_speedy_syslog_searcher_spark.operators.yearfix import fix_years_pdf
    from super_speedy_syslog_searcher_spark.functions.parse import NOYEAR_PATTERN_IDS

    pid = NOYEAR_PATTERN_IDS[0]
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["1972-12-31 23:59:59", "1972-01-01 00:00:30", "1972-06-15 12:00:00"], utc=True
            ),
            "pattern_id": [pid, pid, pid],
        }
    )
    out = fix_years_pdf(pdf, 2024)
    assert list(out["ts"].dt.year) == [2023, 2024, 2024]


@pytest.mark.parametrize("reference_year", [2023, 2024])
def test_fix_years_batch_equals_per_doc(reference_year):
    """One pass over a batch of docs ≡ ``fix_years_pdf`` doc by doc, on
    random docs mixing no-year and year-bearing patterns, with Dec→Jan
    rollovers (several per doc), Feb 29 rows before a rollover (no Feb 29
    in the year before a leap reference year: the uniform-year value
    stays) and sub-second timestamps."""
    import numpy as np

    from super_speedy_syslog_searcher_spark.functions.parse import NOYEAR_PATTERN_IDS
    from super_speedy_syslog_searcher_spark.operators.yearfix import fix_years_batch, fix_years_pdf

    rng = np.random.default_rng(reference_year)
    leap = reference_year % 4 == 0
    starts = ["12-30 20:00:00", "12-31 23:00:00", "06-15 08:00:00"] + (["02-28 22:00:00"] if leap else [])
    rows = []
    for d in range(40):
        t = pd.Timestamp(f"{reference_year}-{starts[d % len(starts)]}", tz="UTC")
        for i in range(int(rng.integers(1, 12))):
            if rng.random() < 0.15:  # jump ahead to the next Dec 31: another rollover
                t = pd.Timestamp(f"{reference_year}-12-31 23:30:00", tz="UTC")
            t += pd.Timedelta(seconds=int(rng.integers(0, 30000)), microseconds=int(rng.integers(0, 10**6)))
            # a no-year format prints only month-day: parsed at the reference year
            ts = t.replace(year=reference_year)
            pid = int(rng.choice([NOYEAR_PATTERN_IDS[0], NOYEAR_PATTERN_IDS[-1], 0]))
            rows.append({"doc_id": f"d{d:02d}", "msg_no": i + 1, "ts": ts, "pattern_id": pid})
    pdf = pd.DataFrame(rows)
    per_doc = pd.concat(
        [fix_years_pdf(g.reset_index(drop=True), reference_year) for _, g in pdf.groupby("doc_id", sort=False)],
        ignore_index=True,
    )
    batch = fix_years_batch(pdf, reference_year)
    assert list(batch["ts"]) == list(per_doc["ts"])
    years = batch["ts"].dt.year
    assert (years == reference_year - 1).any() and (years < reference_year - 1).any()
    if leap:
        feb29 = (batch["ts"].dt.month == 2) & (batch["ts"].dt.day == 29)
        assert feb29.any() and (batch.loc[feb29, "ts"].dt.year == reference_year).all()


# ---------------------------------------------------------------- filters
def test_dt_pass_filters_scalar():
    a = datetime(2020, 1, 1, tzinfo=UTC)
    b = datetime(2020, 1, 2, tzinfo=UTC)
    assert dt_pass_filters(a, a, b) == IN_RANGE  # inclusive both ends
    assert dt_pass_filters(b, a, b) == IN_RANGE
    assert dt_pass_filters(a - timedelta(seconds=1), a, b) == BEFORE_RANGE
    assert dt_pass_filters(b + timedelta(seconds=1), a, b) == AFTER_RANGE


def test_parse_dt_filter_forms():
    assert parse_dt_filter("20000101T002000") == datetime(2000, 1, 1, 0, 20, tzinfo=UTC)
    assert parse_dt_filter("2000-01-01 00:20:00") == datetime(2000, 1, 1, 0, 20, tzinfo=UTC)
    # fractional must be exactly %3f or %6f (reference table rows)
    assert parse_dt_filter("2000-01-01T00:20:00.500") == datetime(2000, 1, 1, 0, 20, 0, 500000, tzinfo=UTC)
    assert parse_dt_filter("2000-01-01T00:20:00.500000") == datetime(2000, 1, 1, 0, 20, 0, 500000, tzinfo=UTC)
    with pytest.raises(ValueError):
        parse_dt_filter("2000-01-01T00:20:00.5")
    # date-only → midnight appended (s4.rs:444-448)
    assert parse_dt_filter("2000-01-01") == datetime(2000, 1, 1, tzinfo=UTC)
    # epoch +%s
    assert parse_dt_filter("+1609459200") == datetime(2021, 1, 1, tzinfo=UTC)
    # default tz offset applies to bare datetimes
    assert parse_dt_filter("2000-01-01 00:20:00", tz_offset="-08:00") == datetime(2000, 1, 1, 8, 20, tzinfo=UTC)
    # explicit tz wins
    assert parse_dt_filter("2000-01-01 00:20:00 +02:00", tz_offset="-08:00") == datetime(
        1999, 12, 31, 22, 20, tzinfo=UTC
    )
    # named tz
    assert parse_dt_filter("2000-01-01 00:20:00 PST") == datetime(2000, 1, 1, 8, 20, tzinfo=UTC)
    with pytest.raises(ValueError):
        parse_dt_filter("2000-01-01 00:20:00 IST")  # ambiguous → reject (README.md:424)


def test_relative_filters():
    now = datetime(2020, 6, 1, 12, 0, 0, tzinfo=UTC)
    assert string_wdhms_to_duration("1w2d3h4m5s") == timedelta(weeks=1, days=2, hours=3, minutes=4, seconds=5)
    assert parse_dt_filter("-1h", now=now) == now - timedelta(hours=1)
    a, b = resolve_filters("2020-06-01 00:00:00", "@+30m", now=now)
    assert b == a + timedelta(minutes=30)
    a2, b2 = resolve_filters("@-1d", "2020-06-01 00:00:00", now=now)
    assert a2 == b2 - timedelta(days=1)


# ---------------------------------------------------------------- catalog
@pytest.mark.parametrize(
    "name,expect",
    [
        ("syslog", TEXT),
        ("messages.1", TEXT),
        ("kern.log.2.gz", TEXT),
        ("app.log.xz", TEXT),
        ("system.evtx", EVTX),
        ("user.journal", JOURNAL),
        ("system.journal.gz", JOURNAL),
        ("utmp", FIXEDSTRUCT),
        ("wtmp.1", FIXEDSTRUCT),
        ("lastlog", FIXEDSTRUCT),
        ("btmpx", FIXEDSTRUCT),
        ("photo.jpg", UNPARSABLE),
        ("lib.so", UNPARSABLE),
    ],
)
def test_guess_filetype(name, expect):
    assert guess_filetype(name) == expect


def test_filetype_col(spark):
    from super_speedy_syslog_searcher_spark.sources.catalog import filetype_col
    from pyspark.sql import functions as F

    names = ["syslog", "system.evtx", "user.journal", "wtmp.1", "photo.jpg", "kern.log.2.gz"]
    df = spark.createDataFrame([(n,) for n in names], ["source"]).withColumn("ft", filetype_col(F.col("source")))
    got = {r["source"]: r["ft"] for r in df.collect()}
    assert got == {
        "syslog": TEXT,
        "system.evtx": EVTX,
        "user.journal": JOURNAL,
        "wtmp.1": FIXEDSTRUCT,
        "photo.jpg": UNPARSABLE,
        "kern.log.2.gz": TEXT,
    }


# ---------------------------------------------------------------- resume
def test_checkpoint_resume(spark, tmp_path):
    from super_speedy_syslog_searcher_spark.plans.pipeline import (
        PipelineConfig,
        read_manifest,
        run_pipeline_resumable,
    )

    docs_pd, enrich_pd, _ = gen_corpus(n_docs=20, lines_per_doc=5, n_sources=4, seed=1)
    docs = spark.createDataFrame(docs_pd, schema="doc_id string, tokens array<int>, n_tok int, source string")
    lookup = spark.createDataFrame(enrich_pd)
    cfg = PipelineConfig(reference_year=REFERENCE_YEAR)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    n_input_sources = docs_pd["source"].nunique()
    m1 = run_pipeline_resumable(docs, lookup, cfg, out, ckpt, run_id="r1")
    assert not m1["skipped"] and m1["n_new_sources"] == n_input_sources
    manifest = read_manifest(spark, ckpt).toPandas()
    assert set(manifest["source"]) == set(docs_pd["source"].unique())
    # north_star metrics: per-DTPD hit counts + per-source line misses.
    # Hit totals are line-grained (≥ messages); every source in this
    # corpus parses at least one line, and hit keys ⊆ patterns_used.
    for _, row in manifest.iterrows():
        hits = row["pattern_hits"]
        assert sum(hits.values()) >= row["n_messages"] > 0, row["source"]
        assert set(hits) <= set(row["patterns_used"]), row["source"]
        assert row["n_lines_missed"] >= 0

    # second run: everything already done → full skip
    m2 = run_pipeline_resumable(docs, lookup, cfg, out, ckpt, run_id="r2")
    assert m2["skipped"]

    # add a new source → only it is processed
    docs2_pd, enrich2_pd, _ = gen_corpus(n_docs=5, lines_per_doc=5, n_sources=1, seed=2)
    docs2_pd["source"] = "newsrc.999"
    docs2_pd["doc_id"] = ["newsrc.999/%06d" % i for i in range(len(docs2_pd))]
    both = spark.createDataFrame(
        pd.concat([docs_pd, docs2_pd], ignore_index=True),
        schema="doc_id string, tokens array<int>, n_tok int, source string",
    )
    m3 = run_pipeline_resumable(both, lookup, cfg, out, ckpt, run_id="r3")
    assert not m3["skipped"] and m3["n_new_sources"] == 1


def test_cli_filter_grammar_all_76_reference_forms():
    """Table-driven sweep over every CLI_FILTER_PATTERNS entry
    (/root/reference/src/bin/s4.rs:286-389): render a sample value in each
    of the 76 accepted forms and assert the parsed UTC instant."""
    from datetime import datetime, timezone

    from super_speedy_syslog_searcher_spark.operators.filters import parse_dt_filter

    base = dict(date="2022-07-18", time="19:34:46")
    wall_utc = datetime(2022, 7, 18, 19, 34, 46, tzinfo=timezone.utc)
    fracs = [("", 0), (".123", 123000), (".123456", 123456)]
    # (tz_text, offset_minutes) per tz style; None style = default tz (+00)
    tzs = {"z": ("+0130", 90), "zc": ("+01:30", 90), "zp": ("+01", 60), "Z": ("PST", -480)}

    cases = []  # (filter_string, expected_utc)

    def add(s, off_min, frac_us):
        expected = wall_utc.replace(microsecond=frac_us) - __import__("datetime").timedelta(minutes=off_min)
        cases.append((s, expected))

    compact_dt = base["date"].replace("-", "") + "T" + base["time"].replace(":", "")
    dash_sp = f"{base['date']} {base['time']}"
    dash_t = f"{base['date']}T{base['time']}"
    slash_sp = f"{base['date'].replace('-', '/')} {base['time']}"

    for f_txt, f_us in fracs:
        add(compact_dt + f_txt, 0, f_us)                      # rows 1-3
        for style in ("z", "zc", "zp", "Z"):
            t, off = tzs[style]
            add(compact_dt + f_txt + t, off, f_us)            # rows 4-15 (attached)
        add(dash_sp + f_txt, 0, f_us)                         # rows 16-18
        for style in ("z", "zc", "zp", "Z"):
            t, off = tzs[style]
            add(dash_sp + f_txt + " " + t, off, f_us)         # rows 19-30 (spaced)
        add(dash_t + f_txt, 0, f_us)                          # rows 31-33
        for style in ("z", "zc", "zp", "Z"):
            t, off = tzs[style]
            add(dash_t + f_txt + t, off, f_us)                # T-form attached
            add(dash_t + f_txt + " " + t, off, f_us)          # T-form spaced
        add(slash_sp + f_txt, 0, f_us)                        # rows 58-60
        for style in ("z", "zc", "zp", "Z"):
            t, off = tzs[style]
            add(slash_sp + f_txt + " " + t, off, f_us)        # rows 61-72 (spaced)

    # date-only rows 73-75 (midnight, default tz, no frac/tz allowed)
    for d in ("20220718", "2022-07-18", "2022/07/18"):
        cases.append((d, datetime(2022, 7, 18, tzinfo=timezone.utc)))
    # epoch row 76
    cases.append(("+1658172886", datetime.fromtimestamp(1658172886, tz=timezone.utc)))

    assert len(cases) >= 76
    for s, expected in cases:
        got = parse_dt_filter(s)
        assert got == expected, f"{s!r}: {got} != {expected}"

    # rejection parity: forms the reference table does NOT contain
    import pytest

    for bad in (
        "2022-07-18 PST",          # date-only rows have has_tz=false
        "2022-07-18.123",          # ... and no fractional
        "2022-07-18 19:34:46.12",  # fractional must be %3f or %6f
        "2022-07-18 19:34:46 IST",  # ambiguous named tz → reject
        "bogus",
    ):
        with pytest.raises(ValueError):
            parse_dt_filter(bad)


def test_filetype_full_reference_skiplist():
    """The skiplist mirrors the reference's non-log extension set
    (filepreprocessor.rs:481-546)."""
    from super_speedy_syslog_searcher_spark.sources.catalog import (
        UNPARSABLE_EXTS,
        guess_filetype,
    )

    assert len(UNPARSABLE_EXTS) >= 65
    for name, want in (
        ("core.7z", "unparsable"),
        ("setup.exe", "unparsable"),
        ("lib.so.1", "unparsable"),  # rotation suffix stripped first
        ("notes.py", "unparsable"),
        ("index.html", "unparsable"),
        ("messages.1.gz", "text"),
        ("pacct.2", "fixedstruct"),
        ("wtmpx", "fixedstruct"),
        ("system.journal", "journal"),
        ("Security.evtx", "evtx"),
    ):
        assert guess_filetype(name) == want, name
    assert guess_filetype("setup.exe", unparseable_are_text=True) == "text"


def test_dt_pass_filters_reference_cases():
    """The reference's dt_pass_filters sweep
    (src/tests/datetime_tests.rs:982-1048), ported verbatim: ternary
    range classification is inclusive at BOTH ends."""
    from datetime import datetime, timedelta, timezone

    from super_speedy_syslog_searcher_spark.operators.filters import (
        AFTER_RANGE,
        BEFORE_RANGE,
        IN_RANGE,
        dt_pass_filters,
    )

    tz = timezone(timedelta(hours=-2))  # FixedOffset::west(2h)

    def dtl(s):
        return datetime.strptime(s, "%Y%m%dT%H%M%S").replace(tzinfo=tz)

    cases = [
        ("20000101T010105", "20000101T010106", "20000101T010107", IN_RANGE),
        ("20000101T010107", "20000101T010106", "20000101T010108", BEFORE_RANGE),
        ("20000101T010101", "20000101T010106", "20000101T010102", AFTER_RANGE),
        ("20000101T010101", "20000101T010106", None, IN_RANGE),
        ("20000101T010102", "20000101T010101", None, BEFORE_RANGE),
        ("20000101T010101", "20000101T010101", None, IN_RANGE),
        (None, "20000101T010101", "20000101T010106", IN_RANGE),
        (None, "20000101T010101", "20000101T010100", AFTER_RANGE),
        (None, "20000101T010101", "20000101T010101", IN_RANGE),
    ]
    for a, dt, b, want in cases:
        got = dt_pass_filters(dtl(dt), dtl(a) if a else None, dtl(b) if b else None)
        assert got == want, (a, dt, b, got, want)


def test_filetype_reference_sweep_295_cases():
    """Run the reference's entire path_to_filetype test sweep
    (src/tests/filepreprocessor_tests.rs #[test_case] table) against
    guess_filetype — 295 names covering rotation/compression stripping,
    fixedstruct names and extensions, journal/evtx, the skiplist, the
    unparseable_are_text flag, and punctuation-only names."""
    import re
    from pathlib import Path

    from super_speedy_syslog_searcher_spark.sources.catalog import guess_filetype

    ref = Path("/root/reference/src/tests/filepreprocessor_tests.rs")
    if not ref.exists():
        pytest.skip("reference tree not present")
    src = ref.read_text()
    cases = re.findall(
        r'#\[test_case\("((?:[^"\\]|\\.)*)",\s*(FT\w+),\s*(true|false)(?:;[^\]]*)?\)\]', src
    )
    assert len(cases) >= 290

    def cat(ft: str) -> str:
        if "UNPARSABLE" in ft:
            return "unparsable"
        if "EVTX" in ft:
            return "evtx"
        if "JOURNAL" in ft:
            return "journal"
        if any(k in ft for k in ("UTMP", "LASTLOG", "ACCT")):
            return "fixedstruct"
        return "text"

    failures = []
    for name, ft, flag in cases:
        want = cat(ft)
        if flag == "true" and want == "unparsable":
            want = "text"  # reference maps unparseable→text under the flag
        got = guess_filetype(name, unparseable_are_text=(flag == "true"))
        if got != want:
            failures.append((name, ft, flag, want, got))
    assert not failures, failures[:10]

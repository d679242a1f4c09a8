"""The benchmark's workloads: seeded inputs, the timed calls, output checks.

Each workload's input comes from ``sources.tokenized.gen_corpus`` and is
written once per (workload, seed, size) to parquet; Spark only ever reads
those files. Every run's output is checked against the generator's golden
messages.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

REFERENCE_YEAR = 2023
WINDOW_A = datetime(2023, 6, 1, 6, 0, tzinfo=timezone.utc)
WINDOW_B = datetime(2023, 6, 1, 8, 0, tzinfo=timezone.utc)

# gen_corpus arguments per workload; "tiny" is the self-test size
SIZES = {
    "ingest_route": {
        "full": dict(n_docs=20000, lines_per_doc=1, n_sources=24, skew=False),
        "tiny": dict(n_docs=240, lines_per_doc=1, n_sources=24, skew=False),
    },
    "merge_window": {
        "full": dict(n_docs=1000, lines_per_doc=40, n_sources=24, skew=True),
        "tiny": dict(n_docs=96, lines_per_doc=8, n_sources=24, skew=True),
    },
    "resumable_pipeline": {
        "full": dict(n_docs=300, lines_per_doc=40, n_sources=24, skew=True),
        "tiny": dict(n_docs=96, lines_per_doc=8, n_sources=24, skew=True),
    },
}


class CheckFailed(Exception):
    """A run's output differs from the golden output."""


@dataclass
class Inputs:
    docs_path: str
    enrichment_path: str
    golden: pd.DataFrame
    enrichment: pd.DataFrame
    n_docs: int
    checksum_path: str  # the routed checksum of the first run of this input


def make_inputs(work: str, workload: str, seed: int, size: str, n_files: int) -> Inputs:
    """Generate (or reuse) the parquet inputs of one (workload, seed, size)."""
    from super_speedy_syslog_searcher_spark.sources.tokenized import gen_corpus

    args = SIZES[workload][size]
    # the generator arguments are part of the key, so a resized workload
    # never reads inputs cached at another size
    tag = hashlib.blake2b(repr(sorted({**args, "n_files": n_files}.items())).encode(), digest_size=4).hexdigest()
    root = os.path.join(work, "inputs", f"{workload}-{size}-seed{seed}-{tag}")
    ready = os.path.join(root, "_READY")
    if not os.path.exists(ready):
        shutil.rmtree(root, ignore_errors=True)
        docs, enrichment, golden = gen_corpus(seed=seed, **args)
        os.makedirs(os.path.join(root, "docs"))
        table = pa.Table.from_pandas(docs, preserve_index=False)
        for k in range(n_files):  # several files so the scan has a task per core
            lo, hi = k * len(docs) // n_files, (k + 1) * len(docs) // n_files
            pq.write_table(table.slice(lo, hi - lo), os.path.join(root, "docs", f"part-{k:03d}.parquet"))
        pq.write_table(pa.Table.from_pandas(enrichment, preserve_index=False), os.path.join(root, "enrichment.parquet"))
        golden.to_parquet(os.path.join(root, "golden.parquet"), index=False)
        open(ready, "w").close()
    return Inputs(
        docs_path=os.path.join(root, "docs"),
        enrichment_path=os.path.join(root, "enrichment.parquet"),
        golden=pd.read_parquet(os.path.join(root, "golden.parquet")),
        enrichment=pd.read_parquet(os.path.join(root, "enrichment.parquet")),
        n_docs=pads.dataset(os.path.join(root, "docs")).count_rows(),
        checksum_path=os.path.join(root, "routed.checksum"),
    )


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------
def _utc_us(s: pd.Series) -> pd.Series:
    """Timestamps as int64 microseconds since the epoch, UTC."""
    s = pd.to_datetime(s)
    if s.dt.tz is None:
        s = s.dt.tz_localize("UTC")
    return s.dt.tz_convert("UTC").astype("datetime64[us, UTC]").astype("int64")


def golden_sink_counts(inputs: Inputs) -> pd.DataFrame:
    g = inputs.golden.merge(inputs.enrichment[["source", "sink_key"]], on="source")
    g = g.assign(ts=_utc_us(g["ts_expect"]))
    return (
        g.groupby("sink_key")
        .agg(messages=("ts", "size"), lines=("n_lines", "sum"), dt_first=("ts", "min"), dt_last=("ts", "max"))
        .sort_index()
    )


def read_committed(path: str) -> pa.Table:
    return pads.dataset(path, format="parquet", partitioning="hive").to_table()


def check_sinks(inputs: Inputs, routed: pa.Table) -> None:
    df = routed.select(["sink_key", "ts", "n_lines"]).to_pandas()
    df["sink_key"] = df["sink_key"].astype(str)
    df["ts"] = _utc_us(df["ts"])
    got = (
        df.groupby("sink_key")
        .agg(messages=("ts", "size"), lines=("n_lines", "sum"), dt_first=("ts", "min"), dt_last=("ts", "max"))
        .sort_index()
    )
    want = golden_sink_counts(inputs)
    if not got.astype("int64").equals(want.astype("int64")):
        raise CheckFailed(f"per-sink counts differ from golden:\n got {got.to_dict()}\nwant {want.to_dict()}")


def routed_checksum(routed: pa.Table) -> str:
    """Order-insensitive checksum of every column of every routed row."""
    cols = sorted(routed.column_names)
    total = 0
    for row in zip(*(routed.column(c).to_pylist() for c in cols)):
        digest = hashlib.blake2b(repr(row).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(digest, "little")) % 2**64
    return f"{routed.num_rows}:{total:016x}"


def check_checksum(inputs: Inputs, checksum: str) -> None:
    """The same seed must route the same rows in every run, across processes."""
    if not os.path.exists(inputs.checksum_path):
        with open(inputs.checksum_path, "w") as f:
            f.write(checksum)
    with open(inputs.checksum_path) as f:
        seen = f.read()
    if seen != checksum:
        raise CheckFailed(f"routed checksum {checksum} differs from an earlier run's {seen}")


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
@dataclass
class Context:
    spark: object
    inputs: Inputs
    out_root: str
    cores: int
    docs: object = None
    enrichment: object = None
    scratch: dict = field(default_factory=dict)

    def register(self) -> None:
        """Input registration: the DataFrames every run reads."""
        self.docs = self.spark.read.parquet(self.inputs.docs_path)
        self.enrichment = self.spark.read.parquet(self.inputs.enrichment_path)


class Workload:
    """``prepare`` and ``finish`` are untimed; ``run`` is the timed region."""

    name = ""

    def prepare(self, ctx: Context) -> None:
        pass

    def run(self, ctx: Context, tr) -> object:
        raise NotImplementedError

    def finish(self, ctx: Context, tr, result) -> None:
        pass

    def check(self, ctx: Context, result) -> None:
        raise NotImplementedError


class IngestRoute(Workload):
    name = "ingest_route"

    def prepare(self, ctx):
        ctx.scratch["out"] = os.path.join(ctx.out_root, "routed")
        shutil.rmtree(ctx.scratch["out"], ignore_errors=True)

    def run(self, ctx, tr):
        from super_speedy_syslog_searcher_spark.functions.parse import parse_messages_fused
        from super_speedy_syslog_searcher_spark.operators.enrich import enrich
        from super_speedy_syslog_searcher_spark.operators.route import route_write, sink_counts_from_path

        with tr.span("parse"):
            msgs = parse_messages_fused(ctx.docs, reference_year=REFERENCE_YEAR)
        with tr.span("enrich"):
            enriched = enrich(msgs, ctx.enrichment)
        with tr.span("route.write"):
            route_write(enriched, ctx.scratch["out"], file_tasks=2 * ctx.cores)
        with tr.span("route.count"):
            return sink_counts_from_path(ctx.spark, ctx.scratch["out"]).collect()

    def check(self, ctx, result):
        routed = read_committed(ctx.scratch["out"])
        check_sinks(ctx.inputs, routed)
        counted = pd.DataFrame([r.asDict() for r in result]).set_index("sink_key").sort_index()
        want = golden_sink_counts(ctx.inputs)
        if counted["messages"].to_dict() != want["messages"].to_dict():
            raise CheckFailed("sink_counts_from_path differs from golden")
        check_checksum(ctx.inputs, routed_checksum(routed))


class MergeWindow(Workload):
    name = "merge_window"

    def run(self, ctx, tr):
        from super_speedy_syslog_searcher_spark.functions.parse import parse_messages_fused
        from super_speedy_syslog_searcher_spark.operators.enrich import enrich
        from super_speedy_syslog_searcher_spark.operators.filters import dt_between
        from super_speedy_syslog_searcher_spark.operators.merge import global_sort, with_source_order

        with tr.span("parse"):
            msgs = parse_messages_fused(ctx.docs, reference_year=REFERENCE_YEAR)
        with tr.span("filters"):
            windowed = dt_between(msgs, WINDOW_A, WINDOW_B)
        with tr.span("enrich"):
            enriched = enrich(windowed, ctx.enrichment)
        with tr.span("merge.source_order"):  # eager: distinct sources, sorted
            ordered = with_source_order(enriched)
        with tr.span("merge.sort"):
            merged = global_sort(ordered)
        with tr.span("merge.collect"):
            return merged.collect()

    def check(self, ctx, result):
        from super_speedy_syslog_searcher_spark.operators.merge import SORT_KEYS

        keys = [tuple(r[k] for k in SORT_KEYS) for r in result]
        if any(a > b for a, b in zip(keys, keys[1:])):
            raise CheckFailed("collected rows are not in SORT_KEYS order")
        g = ctx.inputs.golden
        ts = _utc_us(g["ts_expect"])
        lo, hi = _utc_us(pd.Series([WINDOW_A, WINDOW_B]))
        g = g[(ts >= lo) & (ts <= hi)]
        want = set(zip(g["doc_id"], g["msg_no"], _utc_us(g["ts_expect"]), g["text"], g["n_lines"]))
        got_df = pd.DataFrame(
            {
                "doc_id": [r["doc_id"] for r in result],
                "msg_no": [r["msg_no"] for r in result],
                "ts": [r["ts"] for r in result],
                "text": [r["text"] for r in result],
                "n_lines": [r["n_lines"] for r in result],
            }
        )
        got = set(zip(got_df["doc_id"], got_df["msg_no"], _utc_us(got_df["ts"]), got_df["text"], got_df["n_lines"]))
        if len(got) != len(result) or got != want:
            raise CheckFailed(
                f"windowed messages differ from golden: {len(got ^ want)} rows differ, "
                f"{len(result)} collected, {len(want)} expected"
            )


class ResumablePipeline(Workload):
    name = "resumable_pipeline"

    def prepare(self, ctx):
        # fresh directories each run: the checkpoint must start empty
        for key in ("out", "ckpt"):
            ctx.scratch[key] = os.path.join(ctx.out_root, key)
            shutil.rmtree(ctx.scratch[key], ignore_errors=True)

    def _call(self, ctx):
        from super_speedy_syslog_searcher_spark.plans.pipeline import PipelineConfig, run_pipeline_resumable

        return run_pipeline_resumable(
            ctx.docs,
            ctx.enrichment,
            PipelineConfig(reference_year=REFERENCE_YEAR),
            ctx.scratch["out"],
            ctx.scratch["ckpt"],
        )

    def run(self, ctx, tr):
        with tr.span("pipeline.run"):
            return self._call(ctx)

    def finish(self, ctx, tr, result):
        with tr.span("pipeline.resume"):
            ctx.scratch["resume"] = self._call(ctx)

    def check(self, ctx, result):
        if result.get("skipped") or not ctx.scratch["resume"].get("skipped"):
            raise CheckFailed(f"first call must run and second must skip: {result}, {ctx.scratch['resume']}")
        routed = read_committed(os.path.join(ctx.scratch["out"], "routed"))
        check_sinks(ctx.inputs, routed)
        manifest = pq.read_table(os.path.join(ctx.scratch["ckpt"], "manifest")).to_pandas()
        sources = pq.read_table(ctx.inputs.docs_path, columns=["source"]).column("source").unique().to_pylist()
        want = ctx.inputs.golden.groupby("source").size().reindex(sources, fill_value=0).sort_index()
        got = manifest.set_index("source")["n_messages"].sort_index()
        if len(manifest) != len(sources) or got.astype("int64").to_dict() != want.astype("int64").to_dict():
            raise CheckFailed(f"manifest differs from golden: got {got.to_dict()} want {want.to_dict()}")
        check_checksum(ctx.inputs, routed_checksum(routed))


WORKLOADS = {w.name: w for w in (IngestRoute(), MergeWindow(), ResumablePipeline())}

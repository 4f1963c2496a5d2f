"""Custom stateful streaming operators (north_star: "state (open windows,
partial CPG fragments, dedup keys) lives in the RocksDB state store" +
"stateful stream-stream joins keyed on (url, node_id)").

- `domain_running_stats`: an `applyInPandasWithState` operator keeping
  per-domain running aggregates (pages seen, matches, last event time) in
  the state store — the "partial fragments" pattern: only small per-key
  summaries are stateful, heavy CPG work stays in the stateless batch part.
- `join_pages_with_meta`: watermarked stream-stream inner join of the
  pages stream with a late-arriving metadata stream on url within a
  bounded event-time range — the late-WARC-record join of the north_star.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType, LongType, StringType, StructField, StructType, TimestampType,
)

STATS_OUTPUT = StructType([
    StructField("domain", StringType()),
    StructField("n_pages", LongType()),
    StructField("last_ts", TimestampType()),
])
STATS_STATE = StructType([
    StructField("n_pages", LongType()),
    StructField("last_ts_us", LongType()),
])


def _update_domain_stats(key: Any, pdfs: Iterator[pd.DataFrame],
                         state: GroupState) -> Iterator[pd.DataFrame]:
    (domain,) = key
    if state.exists:
        n_pages, last_us = state.get
    else:
        n_pages, last_us = 0, 0
    for pdf in pdfs:
        n_pages += len(pdf)
        if len(pdf):
            last_us = max(last_us, int(pdf["warc_ts"].max().value // 1000))
    state.update((n_pages, last_us))
    yield pd.DataFrame({
        "domain": [domain],
        "n_pages": [n_pages],
        "last_ts": [pd.Timestamp(last_us * 1000)],
    })


def domain_running_stats(pages: DataFrame) -> DataFrame:
    """Streaming: running per-domain totals via applyInPandasWithState
    (state = one small tuple per domain, stored in RocksDB)."""
    domain = F.regexp_extract("url", r"https://([^/]+)/", 1).alias("domain")
    keyed = pages.select(domain, "warc_ts")
    return keyed.groupBy("domain").applyInPandasWithState(
        _update_domain_stats,
        outputStructType=STATS_OUTPUT,
        stateStructType=STATS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def join_pages_with_meta(pages: DataFrame, meta: DataFrame,
                         watermark: str = "2 hours",
                         max_lateness: str = "1 hour") -> DataFrame:
    """Watermarked stream-stream inner join on url: a metadata record may
    arrive up to `max_lateness` after its page (and vice versa within the
    watermark); join state ages out past the watermark."""
    p = pages.withWatermark("warc_ts", watermark).alias("p")
    m = meta.withWatermark("meta_ts", watermark).alias("m")
    cond = (
        (F.col("p.url") == F.col("m.url"))
        & (F.col("m.meta_ts") >= F.col("p.warc_ts") - F.expr(f"INTERVAL {max_lateness}"))
        & (F.col("m.meta_ts") <= F.col("p.warc_ts") + F.expr(f"INTERVAL {max_lateness}"))
    )
    return p.join(m, cond).select(
        F.col("p.url").alias("url"), F.col("p.warc_ts").alias("warc_ts"),
        F.col("m.fetch_status").alias("fetch_status"),
        F.col("m.meta_ts").alias("meta_ts"),
    )


def synth_meta_stream_frame(pages: DataFrame) -> DataFrame:
    """Deterministic metadata twin of a pages frame (batch or stream):
    meta_ts lags warc_ts by a url-hash-dependent delay (some 'late')."""
    delay = (F.abs(F.hash("url")) % 1800).cast("long")
    return pages.select(
        "url",
        (F.col("warc_ts") + F.make_interval(secs=delay)).alias("meta_ts"),
        F.when(F.abs(F.hash("url")) % 17 == 0, F.lit(404)).otherwise(F.lit(200))
        .alias("fetch_status"),
    )


# ---------------------------------------------------------------------------
# Partial-CPG-fragment assembly (north_star: "partial CPG fragments ... in
# the RocksDB state store"): a document's html arrives as out-of-order
# chunks; the state store buffers fragments per url until the set is
# complete, then the full CPG is built + scanned and the state cleared.
# ---------------------------------------------------------------------------

FRAGMENT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("part_idx", LongType()),
    StructField("n_parts", LongType()),
    StructField("chunk", StringType()),
])

ASSEMBLED_OUTPUT = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("n_parts", LongType()),
    StructField("n_nodes", LongType()),
    StructField("n_findings", LongType()),
])

# state: expected part count + the fragments received so far, sparse
# (idx strings paired with chunk payloads — ArrayType keeps the tuple
# schema RocksDB-serializable without a map type)
_ASSEMBLE_STATE = StructType([
    StructField("n_parts", LongType()),
    StructField("idxs", ArrayType(LongType())),
    StructField("chunks", ArrayType(StringType())),
    StructField("warc_ts_us", LongType()),
])


def make_assemble_update(ttl_ms: int | None):
    """Factory for the fragment-assembly update fn; ttl_ms governs eviction
    of incomplete documents (requires ProcessingTimeTimeout)."""

    def _assemble_update(key: Any, pdfs: Iterator[pd.DataFrame],
                         state: GroupState) -> Iterator[pd.DataFrame]:
        from joern_spark.query.scan import default_bundle, scan_page

        (url,) = key
        if state.hasTimedOut:
            # incomplete document past the TTL: drop the partial fragments
            state.remove()
            return
        if state.exists:
            n_parts, idxs, chunks, ts_us = state.get
            parts = dict(zip(idxs, chunks))
        else:
            n_parts, parts, ts_us = 0, {}, 0
        for pdf in pdfs:
            for _, row in pdf.iterrows():
                n_parts = int(row["n_parts"])
                parts[int(row["part_idx"])] = row["chunk"]
                ts_us = max(ts_us, int(pd.Timestamp(row["warc_ts"]).value // 1000))
        if n_parts and len(parts) >= n_parts:
            html = "".join(parts[i] for i in sorted(parts))
            try:
                cpg, hits = scan_page(url, html, default_bundle())
                n_nodes, n_findings = len(cpg.nodes), len(hits)
            except Exception:
                n_nodes, n_findings = -1, -1
            state.remove()
            yield pd.DataFrame({
                "url": [url], "warc_ts": [pd.Timestamp(ts_us * 1000)],
                "n_parts": [n_parts], "n_nodes": [n_nodes],
                "n_findings": [n_findings],
            })
        else:
            state.update((n_parts, list(parts.keys()), list(parts.values()), ts_us))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)

    return _assemble_update


def assemble_cpg_fragments(chunks: DataFrame,
                           ttl_ms: int | None = None) -> DataFrame:
    """chunks(url, warc_ts, part_idx, n_parts, chunk) → one row per
    COMPLETED document with its CPG node count and flagged-query count.

    State per url = the received fragment set (the "partial CPG fragments"
    of the north_star), evicted on completion — and, when ttl_ms is given,
    after a processing-time TTL for documents that never complete (a
    continuously-running deployment should set this; it keeps the query
    alive between triggers, so the default is no TTL, which lets
    availableNow drains terminate).  The CPG build runs exactly once per
    document, at completion."""
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if ttl_ms is not None
               else GroupStateTimeout.NoTimeout)
    return chunks.groupBy("url").applyInPandasWithState(
        make_assemble_update(ttl_ms),
        outputStructType=ASSEMBLED_OUTPUT,
        stateStructType=_ASSEMBLE_STATE,
        outputMode="append",
        timeoutConf=timeout,
    )


def chunked_pages(pages: DataFrame, n_parts: int = 3) -> DataFrame:
    """Deterministic chunk stream from a pages frame: html split into
    n_parts pieces, emission order scrambled by (url, part) hash so parts
    arrive out of order across micro-batches."""
    html_str = F.col("html").cast("string")
    length = F.length(html_str)
    per = (length / n_parts).cast("int") + F.lit(1)
    # (part_idx, chunk) with chunk = substr(html, i*per+1, per)
    out = pages.select(
        "url", "warc_ts", html_str.alias("h"), per.alias("per"),
        F.posexplode(F.sequence(F.lit(0), F.lit(n_parts - 1))).alias("pos", "i"),
    ).select(
        "url", "warc_ts",
        F.col("i").cast("long").alias("part_idx"),
        F.lit(n_parts).cast("long").alias("n_parts"),
        F.expr("substr(h, i * per + 1, per)").alias("chunk"),
    )
    return out.orderBy(F.abs(F.hash("url", "part_idx")))

"""Fixed benchmark settings.  Changing any of these changes what the
benchmark measures, so a change here is a benchmark change, never part of
a change that claims a gain."""

from __future__ import annotations

import os

NPROC = os.cpu_count() or 1

# Work and output directories, relative to the checkout root.
WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"

# Set-up: input generation is repeated and its median reported.
GEN_REPEATS = 3

# scan_batch warms up on its full input, twice: the second warm-up
# iteration still ran faster than the first in trials (JVM JIT).
SCAN_WARMUP_ITERATIONS = 2

# scan_batch: a heavy-tailed pages table (parquet, many files).
SCAN_PAGES = 768
SCAN_FILES = 32
# The tail's share of pages, its Pareto exponent and its smallest page are
# assumptions, not measured from a real pages table.  What share of the
# scan time the tail takes is measured instead: query.scan.tail_time_share.
SCAN_TAIL_FRACTION = 0.06
SCAN_TAIL_PARETO_EXP = 0.9
SCAN_TAIL_MIN_SNIPPETS = 2
SCAN_MAX_SNIPPETS = 52       # a page holds each snippet at most once
SCAN_CHECK_SAMPLE = 48
# the tail of scan_batch's per-document latency (each document's latency is
# its iteration's time)
BATCH_TAIL_PERCENTILE = 75

# stream_windows: open-loop file publisher at a fixed rate, set once on
# the commit that defined the benchmark at about half the rate the stream
# sustained there.  Never derive it from a measured rate.
STREAM_RATE_FILES_PER_S = 8.0
STREAM_PAGES_PER_FILE = 2
STREAM_FILES_PER_TRIGGER = 64
STREAM_TAIL_PERCENTILE = 93    # 11 of the 160 files of a 20 s run lie beyond it
STREAM_DRAIN_S = 40.0
STREAM_LATE_FRACTION = 0.1
STREAM_DUP_FRACTION = 0.1

# Layer probe of the traced scan_batch run, graph part: REACHING_DEF
# reachability plus transitive cross-page flows.
GRAPH_PAGES = 32
CHAIN_PAGES = 24
CHAIN_DOMAINS = 3

# Layer probe, corpus part: documents in near-duplicate families plus
# embeddings.
DEDUP_BASE_DOCS = 2000
DEDUP_FAMILY_FRACTION = 0.15
DEDUP_EXACT_FRACTION = 0.03
DEDUP_FILES = 8
EMB_ROWS = 3000
EMB_FAMILY_SIZE = 4
EMB_NOISE = 0.06
EMB_SAMPLE_MOD = 10
EMB_THRESHOLD = 0.5

# Traced run: pages per workload run in-process under the pass wrappers.
TRACE_SAMPLE = 48

# Traced scan_batch run: pages that repeat snippets (drawn with
# replacement), timed in-process.  Their cost varies by page far more than
# the timed mix's: 64-snippet pages took 0.2-3.8 s each, single-threaded, on
# a 4-core host.
REPEAT_PAGES = 4
REPEAT_SNIPPETS = 48

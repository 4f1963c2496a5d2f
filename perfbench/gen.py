"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same rows, and `write_parquet` turns rows into byte-identical files.  The
seed decides which snippets a page embeds and how many (the size mix), not
only its url and timestamp.

Tables are always written as several parquet files: a one-file table scans
as a single task and would hide the engine's parallelism.
"""

from __future__ import annotations

import hashlib
import os
import random
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from joern_spark.extract import extract_script_text
from joern_spark.fixtures import SNIPPETS, WEB_TAINT_SNIPPETS
from joern_spark.sources.corpus import BASE_EPOCH, CHAIN_SNIPPETS, DOMAINS

from perfbench import config

PAGE_ARROW_SCHEMA = pa.schema([
    ("doc_seq", pa.int64()),
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

DOC_ARROW_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])

EMB_ARROW_SCHEMA = pa.schema([
    ("vec_id", pa.int64()),
    ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32()),
])

SNIPPET_POOL = ([SNIPPETS[k] for k in sorted(SNIPPETS)]
                + [WEB_TAINT_SNIPPETS[k] for k in sorted(WEB_TAINT_SNIPPETS)])
_EPOCH = datetime.fromtimestamp(BASE_EPOCH, tz=timezone.utc)


def _rng(seed: int, stream: str) -> random.Random:
    """Independent deterministic stream per (seed, purpose)."""
    h = hashlib.sha256(f"{stream}:{seed}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _page(i: int, url: str, ts_s: int, script: str) -> tuple:
    html = (f"<html><head><title>p{i}</title></head><body><script>{script}\n"
            f"</script></body></html>")
    return (i, url, _EPOCH + timedelta(seconds=ts_s - BASE_EPOCH),
            html.encode("utf-8"), extract_script_text(html), "en")


class Balanced:
    """Draws from `pool` in seeded shuffled passes, so every item occurs
    equally often over a run: the seed decides where each one lands, not how
    much of each the workload holds."""

    def __init__(self, r: random.Random, pool: list):
        self.r, self.pool, self.queue = r, pool, []

    def take(self, k: int = 1) -> list:
        """`k` distinct items."""
        out = []
        while len(out) < k:
            if not self.queue:
                self.queue = list(self.pool)
                self.r.shuffle(self.queue)
            for j, item in enumerate(self.queue):
                if item not in out:
                    out.append(self.queue.pop(j))
                    break
            else:
                self.queue = []
        return out


def tail_sizes(r: random.Random, n_tail: int) -> list[int]:
    """Snippet counts of the tail pages: a Pareto size distribution (an
    assumed shape, see config) sampled by strata (one draw per 1/n_tail
    quantile band), so every seed gets a different size mix with the same
    overall weight.  A page holds each snippet at most once: repeated
    snippets redefine the same functions, and the flow queries' path count
    then grows combinatorially with the number of copies, which would let
    one page dominate a run.  `repeat_pages` covers that case."""
    return [min(config.SCAN_MAX_SNIPPETS,
                int(config.SCAN_TAIL_MIN_SNIPPETS
                    / (1.0 - (j + r.random()) / n_tail) ** config.SCAN_TAIL_PARETO_EXP))
            for j in range(n_tail)]


def scan_layout(seed: int, n: int) -> list[list[int]]:
    """Snippet indices (into SNIPPET_POOL) of each page: most pages hold one
    snippet, a seeded tail holds many distinct ones.  Both draw from the
    pool in balanced passes, and the tail is stratified: one tail page at a
    seeded place in each run of n / n_tail pages, with the tail sizes in
    seeded order.  So every seed's table holds about the same snippets and
    spreads its tail over the files alike; the seed decides where each
    snippet and each tail size lands."""
    r = _rng(seed, "scan")
    n_tail = round(n * config.SCAN_TAIL_FRACTION)
    sizes = [1] * n
    tail = tail_sizes(r, n_tail)
    r.shuffle(tail)
    for j, k in enumerate(tail):
        sizes[r.randrange(j * n // n_tail, (j + 1) * n // n_tail)] = k
    idx = list(range(len(SNIPPET_POOL)))
    single, multi = Balanced(r, idx), Balanced(r, idx)
    return [single.take() if k == 1 else multi.take(k) for k in sizes]


def scan_pages(seed: int, n: int) -> list[tuple]:
    """Pages of `scan_layout` with seeded domains and timestamps."""
    r = _rng(seed, "scan-pages")
    rows = []
    for i, snips in enumerate(scan_layout(seed, n)):
        script = ";\n".join(SNIPPET_POOL[j] for j in snips)
        ts = BASE_EPOCH + i * 7 + r.randrange(5)
        rows.append(_page(i, f"https://{r.choice(DOMAINS)}/s{seed}-page-{i}", ts, script))
    return rows


def repeat_pages(seed: int, n: int, k: int) -> list[tuple]:
    """Pages of `k` snippets drawn from the pool with replacement, so
    snippets repeat within a page."""
    r = _rng(seed, "repeat")
    return [_page(i, f"https://{r.choice(DOMAINS)}/s{seed}-repeat-{i}", BASE_EPOCH + i * 7,
                  ";\n".join(r.choice(SNIPPET_POOL) for _ in range(k)))
            for i in range(n)]


# Scripts of the stream's first (warm-up) file, the same for every seed.
# Pages with findings advance the watermark, so the warm-up always ends with
# the no-data micro-batch that follows; a seeded first file without findings
# skipped it and set up about 5 s faster than one with findings.
WARMUP_SCRIPTS = (WEB_TAINT_SNIPPETS["xss_pos"], WEB_TAINT_SNIPPETS["xss_write_pos"])


def stream_pages(seed: int, n_files: int, per_file: int) -> list[list[tuple]]:
    """Pages for the stream, grouped by file in event-time order.  The
    first file holds WARMUP_SCRIPTS.  In the later files a seeded share
    arrives an hour late (inside the two-hour watermark), and a seeded
    share repeats a page of the previous file, which the stream's dedup
    must count once."""
    r = _rng(seed, "stream")
    snippets = Balanced(r, SNIPPET_POOL)
    files: list[list[tuple]] = []
    i = 0
    for f in range(n_files):
        rows = []
        for k in range(per_file):
            if f == 0:
                rows.append(_page(i, f"https://{r.choice(DOMAINS)}/s{seed}-live-{i}",
                                  BASE_EPOCH + i * 7,
                                  WARMUP_SCRIPTS[k % len(WARMUP_SCRIPTS)]))
                i += 1
                continue
            if r.random() < config.STREAM_DUP_FRACTION:
                rows.append(r.choice(files[-1]))
                continue
            script = snippets.take()[0]
            ts = BASE_EPOCH + i * 7 + r.randrange(5)
            if r.random() < config.STREAM_LATE_FRACTION:
                ts -= 3600
            rows.append(_page(i, f"https://{r.choice(DOMAINS)}/s{seed}-live-{i}",
                              ts, script))
            i += 1
        files.append(rows)
    return files


def graph_pages(seed: int, n: int) -> list[tuple]:
    """Pages for corpus reachability: one to three seeded snippets each,
    so the `sz` → `read(...)` flows land on a seeded subset of pages."""
    r = _rng(seed, "graph")
    snippets = Balanced(r, SNIPPET_POOL)
    rows = []
    for i in range(n):
        script = ";\n".join(snippets.take(r.randint(1, 3)))
        rows.append(_page(i, f"https://{r.choice(DOMAINS)}/s{seed}-graph-{i}",
                          BASE_EPOCH + i * 7, script))
    return rows


def chain_pages(seed: int, n: int) -> list[tuple]:
    """Site pages whose def/wrap/call roles (CHAIN_SNIPPETS) and domains are
    drawn from the seed, so which transitive flows close varies by seed."""
    r = _rng(seed, "chain")
    domains = [f"site-{d}.example.org" for d in range(config.CHAIN_DOMAINS)]
    roles = Balanced(r, CHAIN_SNIPPETS)
    rows = []
    for i in range(n):
        _kind, script = roles.take()[0]
        rows.append(_page(i, f"https://{r.choice(domains)}/s{seed}-chain-{i}",
                          BASE_EPOCH + i * 7, script))
    return rows


# words of the sf testdata documents table, plus Spanish and German stopwords
# so the language gate keeps and drops documents
_VOCAB = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row "
          "agg key query scan batch").split()
_STOP = {"en": ["the", "a", "of", "and", "to", "in", "is", "it"],
         "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
         "de": ["der", "die", "das", "und", "zu", "ist", "ein", "nicht"]}


def documents(seed: int, n_base: int) -> list[tuple]:
    """A table shaped like the sf testdata `documents`: base documents plus,
    for a seeded share, near-duplicate copies (a few words changed and a
    replica suffix, as the scale-up generator does) and exact copies."""
    r = _rng(seed, "docs")
    rows: list[tuple] = []
    langs = ["en"] * 6 + ["es", "de", "fr", "zh"]
    for b in range(n_base):
        lang = r.choice(langs)
        n_tok = r.randint(8, 100)
        stop = _STOP.get(lang, [])
        words = [r.choice(stop) if stop and r.random() < 0.15 else r.choice(_VOCAB)
                 for _ in range(n_tok)]
        variants = [" ".join(words)]
        if r.random() < config.DEDUP_FAMILY_FRACTION:
            for k in range(r.randint(1, 3)):
                w = list(words)
                for _ in range(r.randint(0, 2)):
                    w[r.randrange(len(w))] = r.choice(_VOCAB)
                variants.append(" ".join(w) + f" r{k + 1}")
        if r.random() < config.DEDUP_EXACT_FRACTION:
            variants.append(variants[0])
        for text in variants:
            rows.append((len(rows), text, lang, f"src{r.randrange(5)}", len(text)))
    return rows


def embeddings(seed: int, n: int, dim: int = 64) -> dict:
    """Unit-scale float32 vectors in near-duplicate families: family
    members are the family centre plus small noise, so thresholded cosine
    pairs exist (the sf0.1 testdata vectors have none at 0.5)."""
    r = np.random.default_rng(int.from_bytes(
        hashlib.sha256(f"emb:{seed}".encode()).digest()[:8], "big"))
    n_fam = max(1, n // config.EMB_FAMILY_SIZE)
    centres = r.normal(0.0, 0.1, size=(n_fam, dim))
    fam = r.integers(0, n_fam, size=n)
    vec = (centres[fam] + r.normal(0.0, config.EMB_NOISE, size=(n, dim))).astype(np.float32)
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": vec,
            "label": fam.astype(np.int32)}


def table(rows, schema: pa.Schema) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    return pa.table([pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
                    schema=schema)


def write_parquet(rows: list[tuple], out_dir: str, n_files: int,
                  schema: pa.Schema = PAGE_ARROW_SCHEMA) -> list[str]:
    """Write `rows` as `n_files` parquet files of contiguous row ranges."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    n_files = max(1, min(n_files, len(rows)))
    bounds = np.linspace(0, len(rows), n_files + 1).astype(int)
    for f in range(n_files):
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(table(rows[bounds[f]:bounds[f + 1]], schema), path)
        paths.append(path)
    return paths


def write_embeddings(emb: dict, out_dir: str, n_files: int) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    n = len(emb["vec_id"])
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    paths = []
    for f in range(n_files):
        lo, hi = bounds[f], bounds[f + 1]
        vec = emb["embedding"][lo:hi]
        tab = pa.table({
            "vec_id": pa.array(emb["vec_id"][lo:hi], type=pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vec.reshape(-1), type=pa.float32()), vec.shape[1]
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(emb["label"][lo:hi], type=pa.int32()),
        }, schema=EMB_ARROW_SCHEMA)
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(tab, path)
        paths.append(path)
    return paths

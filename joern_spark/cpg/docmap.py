"""One per-document kernel: pages → per-page rows in ONE `mapInPandas`.

Per-document CPGs are independent (SURVEY.md §3a), so building the graph
and running any per-page query over it is a narrow map over the pages
table.  Every consumer — the CPG build, scan, cross-page summaries, SARIF,
dot export, slicing and the flow job — goes through `map_documents`; it
owns the batch loop, the html decode, the per-page `try` and the output
frame, so the consumers differ only in their per-page function and their
failure rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import BooleanType, IntegerType, LongType, StructType

# Columns of these types are built as pandas nullable dtypes: a null in an
# int64 column would otherwise coerce it through float64 and round the low
# bits of 64-bit node ids.
_EXACT_DTYPES = {LongType: "Int64", IntegerType: "Int32", BooleanType: "boolean"}


def decode_html(html) -> str:
    """An `html` value, binary or string, as text."""
    if isinstance(html, str):
        return html
    return bytes(html).decode("utf-8", "replace")


def rows_frame(rows: list[tuple], schema: StructType) -> pd.DataFrame:
    """Rows (tuples in `schema` order) → a pandas frame Arrow converts to
    `schema` exactly: int/long/boolean columns as nullable pandas dtypes,
    the rest inferred as `pd.DataFrame(rows)` would."""
    out = pd.DataFrame(rows, columns=schema.fieldNames(), dtype=object)
    for f in schema.fields:
        dtype = _EXACT_DTYPES.get(type(f.dataType))
        out[f.name] = (out[f.name].astype(dtype) if dtype
                       else out[f.name].infer_objects())
    return out


def map_documents(pages: DataFrame,
                  per_page: Callable[..., Sequence[tuple]],
                  schema: StructType,
                  cols: Sequence[str] = ("url", "html"),
                  on_error: Callable[[tuple, Exception], Iterable[tuple]] | None = None,
                  ) -> DataFrame:
    """pages → `schema` rows, one narrow `mapInPandas`; no shuffle.

    `per_page(*values)` gets one page's `cols` values, with `html` decoded
    to text, and returns that page's rows as a list of tuples in `schema`
    order.  When it (or the decode) raises, the page's rows are
    `on_error(values, exc)` instead; the default adds none, so the page is
    skipped.  Scan emits a `<parse-error>` row and the cross-page
    summaries a `summarize_failed:<ExcType>` row; build_cpg_rows, SARIF,
    dot export, both slicers and the flow job skip a failed page without
    a trace.
    """
    html_at = list(cols).index("html") if "html" in cols else None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for values in zip(*(pdf[c] for c in cols)):
                try:
                    args = list(values)
                    if html_at is not None:
                        args[html_at] = decode_html(args[html_at])
                    page_rows = per_page(*args)
                except Exception as exc:
                    page_rows = on_error(values, exc) if on_error else ()
                rows.extend(page_rows)
            yield rows_frame(rows, schema)

    return pages.select(*cols).mapInPandas(run, schema)

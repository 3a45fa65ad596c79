"""Column-level wrappers around the pure text functions.

:func:`extract_fields` is an Arrow-vectorized pandas UDF: batches arrive as
pandas Series via Arrow and it maps the pure HTML extractors from
:mod:`searchengine_spark.functions.textproc` over the batch (no per-row
Python UDFs anywhere, per ``input_hint``). :func:`tokens_simple_col` is a
native column expression that stays JVM-side in whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

from searchengine_spark.config import DEFAULT_STOPWORDS
from searchengine_spark.functions import textproc

_FIELDS_SCHEMA = StructType(
    [
        StructField("title", StringType()),
        StructField("meta_description", StringType()),
        StructField("content", StringType()),
    ]
)


@pandas_udf(_FIELDS_SCHEMA)
def extract_fields(html: pd.Series) -> pd.DataFrame:
    """html (binary) → (title, meta_description, content).

    Replicates crawler.py:280-290: title via text_processing.py:105-112,
    meta description via :114-125, content via bs4-decompose+get_text+
    clean_text (:284-290 semantics, see textproc.extract_text_from_html).
    """
    decoded = html.map(lambda b: b.decode("utf-8", errors="replace") if isinstance(b, (bytes, bytearray)) else (b or ""))
    return pd.DataFrame(
        {
            "title": decoded.map(textproc.extract_title_from_html),
            "meta_description": decoded.map(textproc.extract_meta_description),
            "content": decoded.map(textproc.extract_text_from_html),
        }
    )


def tokens_simple_col(col):
    """SQL-expressible simple tokenizer as a *native* column expression
    (no Python): lower → split on non-alphanumeric → keep 2..20 chars,
    drop stopwords. Mirrors textproc.tokenize_simple and the DuckDB oracle
    SQL exactly; stays inside whole-stage codegen.
    """
    toks = F.split(F.lower(col), "[^a-z0-9]+")
    stop = F.array(*[F.lit(s) for s in sorted(DEFAULT_STOPWORDS)])
    return F.filter(
        toks,
        lambda t: (F.length(t) >= 2) & (F.length(t) <= 20) & ~F.array_contains(stop, t),
    )

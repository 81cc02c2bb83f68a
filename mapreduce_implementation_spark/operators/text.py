"""Job A of the reference — word count — as declarative DataFrame ops.

Reference pipeline (mapreduce.c): scan (O1/O2) -> tokenize flatMap
(O3, :115-132) -> hash-partition by word (O5, :128) -> per-reducer hash
aggregate (O8, :176-218) -> master-side global sort count desc, word desc
(O10, :393-394) -> single-file sink (O12).

Spark mapping: ``explode(tokenize_expr)`` -> ``groupBy('word').count()``.
Catalyst plans a *partial* hash aggregate before the shuffle (map-side
combine) which the reference lacks — it ships one ``word,1`` line per
occurrence — so at 100 TB our shuffle volume is O(distinct words per
partition), not O(total words).  The global sort is an optional
presentation step: at scale, keep the unordered aggregate and let the
consumer order/limit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textfn import tokens_array

__all__ = ["tokenize", "word_count"]


def tokenize(df: DataFrame, col: str = "value", keep: list[str] | None = None) -> DataFrame:
    """FlatMap a text column into one row per normalized word (O3).

    ``keep`` — passthrough columns to retain next to ``word`` (e.g. doc_id);
    default none, matching the reference mapper's output shape.

    Normalization happens on the line BEFORE split/explode — identical
    rows to the reference's split-then-strip order, and it keeps the regex
    out of the generated-row path (see functions.textfn performance note).
    Scan -> project -> explode -> filter is one whole-stage-codegen span;
    no shuffle until a downstream groupBy.
    """
    keep = keep or []
    cols: list[Column] = [F.col(c) for c in keep]
    cols.append(F.explode(tokens_array(F.col(col))).alias("word"))
    return df.select(*cols).filter(F.col("word") != "")


def word_count(df: DataFrame, col: str = "value") -> DataFrame:
    """Count words in a text column; order (count desc, word desc) like the
    reference merge step (mapreduce.c:393-394).  Columns: word, cnt.
    """
    return (
        tokenize(df, col)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.desc("word"))
    )

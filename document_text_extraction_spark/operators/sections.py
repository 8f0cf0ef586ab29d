"""Section segmentation over extracted spans (O58) — the one section
segmenter. The extraction table does not store sections: a caller who
wants them derives them from the stored ``spans`` with
``sections_df(table)``.

A section state machine streams blocks in reading order and switches
the current section on each heading; in Spark that sequential fold is a
gaps-and-islands window: headings flag section starts, a running sum over
the reading order assigns section ids, one groupBy concatenates — no
Python, no state machine object.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

# O48 keyword → canonical section name (the registry's DuckDB oracle
# for ``sections_planted`` builds its CASE from the same table)
SECTION_KEYWORDS = {
    "experience": "experience",
    "education": "education",
    "skills": "skills",
    "projects": "projects",
    "summary": "summary",
}


def normalize_section_name(col) -> F.Column:
    """O48 keyword → canonical section name; else lowercased/underscored
    (the first matching keyword, in ``SECTION_KEYWORDS`` order, wins)."""
    low = F.lower(col)
    expr = None
    for kw, canon in SECTION_KEYWORDS.items():
        cond = low.contains(kw)
        expr = F.when(cond, F.lit(canon)) if expr is None else \
            expr.when(cond, F.lit(canon))
    return expr.otherwise(F.regexp_replace(F.trim(low), r"\s+", "_"))


def sections_df(extracted: DataFrame) -> DataFrame:
    """(url, spans) → one row per (url, section): section_id, heading,
    body, n_blocks and the normalized section name.

    ``extracted`` is any table with the extraction output's ``url`` and
    ``spans`` columns (``pipeline.extract_df``, a ``run_extraction``
    output read back from parquet). Only main, heading and list_item
    spans take part. Each heading opens a section; blocks before the
    first heading fall into section 0 ('_preamble', null heading). The
    body joins a section's non-heading span texts in block order with
    ``\\n``; ``n_blocks`` counts the heading too. Documents without such
    spans (every failed document, and PDFs, whose spans are all
    ``block``) yield no rows.
    """
    spans = extracted.select(
        "url", F.explode("spans").alias("s")
    ).select(
        "url",
        F.col("s.block").alias("block"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
    ).filter(F.col("kind").isin("main", "heading", "list_item"))
    w = W.partitionBy("url").orderBy("block")
    flagged = spans.withColumn(
        "section_id",
        F.sum((F.col("kind") == "heading").cast("int")).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return (
        flagged.groupBy("url", "section_id")
        .agg(
            F.max(F.when(F.col("kind") == "heading", F.col("text")))
            .alias("heading"),
            F.array_join(
                F.array_sort(
                    F.collect_list(  # nulls (heading rows) are skipped
                        F.when(F.col("kind") != "heading",
                               F.struct("block", "text"))
                    )
                ).getField("text"),
                "\n",
            ).alias("body"),
            F.count("*").alias("n_blocks"),
        )
        .withColumn(
            "section",
            F.when(F.col("heading").isNull(), F.lit("_preamble"))
            .otherwise(normalize_section_name(F.col("heading"))),
        )
    )

"""Flatten / explode / unnest-join operators (SURVEY.md §2.3).

The reference denormalizes each ``SiteLayout`` child collection with the
parent ``sId`` prefixed onto every child row (reference:
transis_response_models.py:175-198).  In Spark that is a correlated
unnest — ``explode`` — which runs entirely within a partition: no
shuffle, no join, and it scales linearly with input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.sqltext import sql_ident


def explode_messages(responses: DataFrame) -> DataFrame:
    """F1 — one network snapshot document → N per-site message rows
    (reference: transis_response_models.py:64-68)."""
    return responses.selectExpr("response_received_ts", "inline(messages)")


def explode_site_children(site_layouts: DataFrame, child: str) -> DataFrame:
    """F3 — parent-child unnest join: site × child collection with the
    parent key on every row (reference: transis_response_models.py:182-193).

    ``child`` ∈ {arms, detectors, streets, sgs}.  Empty child collections
    behave like NULL (dropped by inline), matching ElementTree truthiness
    (SURVEY.md §1.4).
    """
    return site_layouts.selectExpr("sId AS site_id", f"inline({sql_ident(child)})")


def explode_phases(site_layouts: DataFrame) -> DataFrame:
    """F4 — double unnest: site × phases × SGNos → (site_id, phase, sg_no)
    (reference: transis_response_models.py:194-197)."""
    return site_layouts.selectExpr("sId AS site_id", "explode(phases) AS p").selectExpr(
        "site_id", "p.name AS phase", "explode(p.sgNos) AS sg_no"
    )


def quote_all_csv(df: DataFrame, path: str) -> None:
    """K6 — CSV writer with every field double-quoted + header row
    (reference: transis_response_models.py:113-117,200-209).  The header
    comes from the explicit schema, replacing the reference's
    infer-from-first-row (F5)."""
    df.write.mode("overwrite").option("quoteAll", True).option("header", True).csv(path)

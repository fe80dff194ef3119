"""Null-delimited Transis XML ingestion (SURVEY.md §2.1 S1-S3).

The reference accumulates a byte stream and splits documents on
``b'\\x00'`` (reference: transis_consumer.py:123-139), then parses each
document with ElementTree (reference: transis_response_models.py:288-292).
Here:

- S2 tokenizing = the text source's ``lineSep`` option (splitting happens
  in the scan, vectorized, parallel per file split), or
  ``split + explode`` when documents arrive pre-batched in a column.
- S3 parsing = ``from_xml`` (Spark 4 built-in) against the explicit
  response schema, once per document.

Semantics preserved (SURVEY.md §1.4): empty ``DetectorCountMessages``
containers → NULL, malformed ``Detector`` children dropped, ``error``
attribute carried through for the fail-stop assert.  A Transis document
that is not well-formed XML fails the job, as the reference's
ElementTree parse raises on it.

Columns are Spark SQL text (why: ``functions/sqltext.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.sqltext import sql_ident, sql_string

NULL_DELIM = "\x00"
# Empty fragments (e.g. after a trailing delimiter) are not documents.
_NON_BLANK = "length(trim(value)) > 0"


def read_null_delimited(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2 — one row per null-terminated XML document.

    ``lineSep='\\x00'`` makes the text scan itself the tokenizer; empty
    fragments after a trailing delimiter are dropped like the
    reference's ``if response != b''`` filter (reference:
    transis_consumer.py:89).
    """
    docs = spark.read.option("lineSep", NULL_DELIM).text(path)
    return docs.where(_NON_BLANK)


def read_null_delimited_stream(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2 streaming form — the unbounded twin of
    :func:`read_null_delimited`; in production the same option set goes
    on a Kinesis/Kafka source and ``split_documents`` handles blobs."""
    docs = spark.readStream.option("lineSep", NULL_DELIM).text(path)
    return docs.where(_NON_BLANK)


def split_documents(col_df: DataFrame, column: str = "value") -> DataFrame:
    """S2 (column form) — split a pre-batched blob column on the null
    delimiter and explode to one row per document."""
    return col_df.selectExpr(
        f"explode(split({sql_ident(column)}, {sql_string(NULL_DELIM)})) AS value"
    ).where(_NON_BLANK)


# from_xml schema for a <TransisResponse> document: attributes carry the
# default "_" prefix; repeated children live under their container element.
TRANSIS_XML_SCHEMA = (
    "struct<"
    "_error:string, "
    "Errors:struct<Error:array<struct<_msg:string>>>, "
    "DetectorCountMessages:struct<DetectorCountMessage:array<struct<"
    "_reg:string, _Sid:string, _date:string, "
    "Detectors:struct<Detector:array<struct<_Did:string, _count:string>>>"
    ">>>"
    ">"
)


def parse_transis_documents(docs: DataFrame, column: str = "value") -> DataFrame:
    """S3 — XML document text → typed ``TRANSIS_RESPONSE`` rows, parsed
    by the built-in ``from_xml`` expression (JVM-side, codegen'd).

    The parse sits behind a one-element ``explode``: Catalyst neither
    inlines a generator's output into later expressions nor pushes
    filters on it below the generator, so the fail-stop and non-empty
    filters downstream read one parsed struct instead of each
    re-evaluating ``from_xml`` on the document text.

    ``FAILFAST`` makes a document that is not well-formed XML fail the
    job; the default ``PERMISSIVE`` mode would parse it to an all-NULL
    struct that passes the fail-stop assert and is then dropped as empty.
    """
    parsed = docs.selectExpr(
        f"explode(array(from_xml({sql_ident(column)}, {sql_string(TRANSIS_XML_SCHEMA)}, "
        "map('mode', 'FAILFAST')))) AS r"
    )
    return parsed.selectExpr(
        "r._error AS error",
        "r.Errors.Error[0]._msg AS error_msg",
        "transform(r.DetectorCountMessages.DetectorCountMessage, m -> struct("
        "m._reg AS reg, m._Sid AS Sid, m._date AS `date`, "
        "transform(m.Detectors.Detector, d -> struct(d._Did AS Did, d._count AS `count`))"
        " AS detectors)) AS messages",
        "CAST(NULL AS STRING) AS response_received_ts",
    )


# from_xml schema for a topology <TransisResponse> carrying SiteLayouts
# (reference: transis_response_models.py:129-268; attributes prefixed
# "_", repeated children under their container element, SGNo as element
# text).
TOPOLOGY_XML_SCHEMA = (
    "struct<_error:string, SiteLayouts:struct<SiteLayout:array<struct<"
    "_sId:string, _region:string, "
    "Arms:struct<Arm:array<struct<_aId:string,_name:string>>>, "
    "Detectors:struct<Detector:array<struct<_dId:string,_arm:string>>>, "
    "Streets:struct<Street:array<struct<_name:string,_suburb:string>>>, "
    "SGs:struct<SG:array<struct<_sgNo:string,_type:string>>>, "
    "Phases:struct<Phase:array<struct<_name:string, SGNos:struct<SGNo:array<string>>>>>"
    ">>>>"
)


def parse_site_layouts(docs: DataFrame, column: str = "value") -> DataFrame:
    """S4/§3.2 — topology XML documents → one row per site in the
    ``schemas.SITE_LAYOUT`` shape (sId, region + five child-collection
    arrays), ready for the F3/F4 unnest joins and the K6 CSV sink.

    Empty child containers parse as NULL arrays — matching the
    reference's ElementTree truthiness semantics (empty container ==
    absent, reference: transis_response_models.py:139-152; SURVEY.md
    §1.4)."""
    parsed = docs.selectExpr(
        f"from_xml({sql_ident(column)}, {sql_string(TOPOLOGY_XML_SCHEMA)}) AS r"
    )
    return parsed.selectExpr("explode(r.SiteLayouts.SiteLayout) AS s").selectExpr(
        "s._sId AS sId",
        "s._region AS region",
        "transform(s.Arms.Arm, a -> struct(a._aId AS aId, a._name AS name)) AS arms",
        "transform(s.Detectors.Detector, d -> struct(d._dId AS dId, d._arm AS arm)) AS detectors",
        "transform(s.Streets.Street, st -> struct(st._name AS name, st._suburb AS suburb))"
        " AS streets",
        "transform(s.SGs.SG, g -> struct(g._sgNo AS sgNo, g._type AS type)) AS sgs",
        "transform(s.Phases.Phase, p -> struct(p._name AS name, p.SGNos.SGNo AS sgNos))"
        " AS phases",
    )


def pretty_xml_string(xml: str) -> str:
    """Reference ``TransisResponse.to_file`` formatting (reference:
    transis_response_models.py:319-322): minidom pretty-print with a
    3-space indent.  Kept as a plain function so the executor-side sink
    and tests share one formatter."""
    from xml.dom import minidom

    return minidom.parseString(xml).toprettyxml(indent="   ")


def write_pretty_xml_files(
    df: DataFrame, out_dir: str, column: str = "value", id_col: str = "doc_id"
) -> None:
    """K5 — the indented-XML file sink (reference
    transis_response_models.py:319-322 ``to_file``): one ``<id>.xml``
    file per document row, pretty-printed with minidom at 3-space
    indent exactly like the reference.

    Executed with ``foreachPartition`` so each EXECUTOR writes its own
    partition's files directly (out_dir must be a shared/locally-valid
    path — on a cluster, a mounted or object-store-backed FUSE path);
    nothing is collected to the driver.  Formatting is a per-row string
    transform, so the sink scales with partition count like any other
    write."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def write_partition(rows) -> None:
        import os as _os

        _os.makedirs(out_dir, exist_ok=True)
        for row in rows:
            with open(
                _os.path.join(out_dir, f"{row[id_col]}.xml"), "w", encoding="utf-8"
            ) as f:
                f.write(pretty_xml_string(row[column]))

    df.select(id_col, column).foreachPartition(write_partition)

"""html(binary) -> text extraction — the engine's decode stage.

The analog of the reference's binary register decode
(reference lib/__init__.py:30-101: BinaryPayloadDecoder U16/U32/... plus
tag/bit-field decoders) projected onto web pages: decode the ``html``
binary column and extract the body text.

Per-row invariant (BASELINE.json.input_hint): extraction is a pure function
of the bytes — byte-identical extracted text per url. Malformed documents
(no closing ``</p>``) yield NULL, mirroring the reference's
ValueError -> NaN convention (reference harmonizers/sources/bacnet.py:26-30).

Zero Python at all (r6 optimization): the decode + regexp run as JVM
Column expressions inside whole-stage codegen — the previous Arrow
``pandas_udf`` paid a JVM->Arrow->pandas->Arrow->JVM transfer of every html
blob per pass (the plan's only ArrowEvalPython node; ~0.8 s of the sf0.1
flagship). ``regexp_substr`` (not ``regexp_extract``) keeps the NULL-on-
no-match semantics: it returns NULL when the pattern is absent, while an
empty ``<p></p>`` still yields '' — exactly pandas ``str.extract``'s
behavior for this pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_EXTRACT_RE = r"<p>(.*?)</p>"


def extract_text(html) -> F.Column:
    """Decode UTF-8 and pull the first <p>...</p> body; NULL if absent.
    Pure Column expression (codegen, no Python boundary): regexp_substr
    finds '<p>...</p>' (NULL when missing), substring strips the tags."""
    decoded = F.decode(html, "UTF-8")
    m = F.regexp_substr(decoded, F.lit(_EXTRACT_RE))
    return F.substring(m, 4, F.length(m) - 7)


def typed_value_extract(
    df: DataFrame,
    kind_col: str = "kind",
    raw_col: str = "raw",
    out_col: str = "value",
) -> DataFrame:
    """Typed value extraction — the bacnet/dexma/ixon extractor family
    (reference harmonizers/sources/bacnet.py:26-55, dexma.py:46-53,
    ixon.py:21-23): analog -> float, binary 'active'/'inactive' -> 1/0,
    multiState -> int, anything unparseable -> NULL (the ValueError -> NaN
    convention). Pure when/otherwise + try_cast, no UDF."""
    raw = F.col(raw_col)
    kind = F.col(kind_col)
    value = (
        F.when(kind == "analog", raw.try_cast("double"))
        .when(
            kind == "binary",
            F.when(F.lower(raw) == "active", 1.0)
            .when(F.lower(raw) == "inactive", 0.0)
            .otherwise(F.lit(None)),
        )
        .when(kind == "multiState", raw.try_cast("int").cast("double"))
        .otherwise(raw.try_cast("double"))
    )
    return df.withColumn(out_col, value)


def strip_property_namespace(c) -> F.Column:
    """P8 — reduce a property URI to its ontology local name: the text
    after the last '#' or '/' (the RDF local-name convention). The
    reference strips its three ontology URL prefixes one by one
    (reference harmonizers/__init__.py:228-231; also :342-345, :449-452,
    pv_postprocess.py:95-96); taking the fragment/local name is the general
    form and yields identical results for any such prefix. Idempotent:
    already-bare names contain no '#'/'/' and pass through unchanged."""
    return F.element_at(F.split(c, r"[#/]"), -1)


def month_floor_shift(
    df: DataFrame, ts_col: str = "warc_ts", tz: str = "Europe/Madrid"
) -> DataFrame:
    """S4: floor to month start in a local tz, shifted back one month
    (reference harmonizers/sources/manttest.py:65-73 — monthly meter
    readings stamped to the month they measure, not the month they arrive)."""
    local = F.from_utc_timestamp(F.col(ts_col), tz)
    floored = F.date_trunc("month", local) - F.expr("INTERVAL 1 MONTH")
    return df.withColumn(ts_col, F.to_utc_timestamp(floored, tz))

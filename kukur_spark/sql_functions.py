"""Engine scalar vocabulary as Spark SQL UDFs (SQL-body functions).

SURVEY §2.10: the reference exposes no in-query function surface — its
extension points are sources, metadata fields, and user SQL strings.
This module is the Spark-native upgrade: the engine's scalar families
(§2.8 — selector strings, quality mapping, plot buckets, portable
hashes, GPX math, set similarity) registered as **SQL-body functions**
(``CREATE FUNCTION … RETURN <expr>``, Spark 4) so config SQL sources
(`sources/spark_sql.py`) and ad-hoc ``spark.sql`` users get them
JVM-side — the body inlines into the caller's plan and stays inside
whole-stage codegen, unlike a Python UDF.

Reference semantics mirrored per function:
- ``ku_selector_name`` / ``ku_selector_field`` — ``kukur/base.py:106-142``
  name syntax ``k=v,k2=v2::field`` (keys sorted for determinism; SQL
  maps are unordered, the reference relies on dict order).
- ``ku_opc_good`` — the OPC-DA quality-byte convention itself (the two
  top bits set, i.e. q >= 192, mean GOOD → 1, else 0).  Note this is
  NOT a reference-parity claim: the reference's QualityMapper
  (``kukur/source/quality.py``) is purely config-driven with no such
  constant — configured sources should use the M6 quality mapping
  (``sources/quality.py``); this function is a convenience for ad-hoc
  SQL over raw OPC-DA quality columns.
- ``ku_bucket`` — plot-interval bucketing (``get_plot_data`` W2).
- ``ku_md5_long`` — the cross-engine 60-bit hash used by every
  md5-oracle operator (`operators/dedup.py::md5_long_sql`).
- ``ku_haversine_m`` — GPX great-circle distance
  (``kukur/source/gpx/__init__.py:98-102``).
- ``ku_jaccard_e6`` — integer-exact set similarity (ppm) as used by the
  dedup operators.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from kukur_spark.operators.dedup import md5_long_sql

_FUNCTIONS = {
    "ku_bucket": (
        "(ts TIMESTAMP, start TIMESTAMP, width_us BIGINT) RETURNS BIGINT "
        "RETURN (unix_micros(ts) - unix_micros(start)) div width_us"
    ),
    "ku_md5_long": f"(s STRING) RETURNS BIGINT RETURN {md5_long_sql('s')}",
    "ku_opc_good": (
        "(q BIGINT) RETURNS TINYINT "
        "RETURN CASE WHEN q >= 192 THEN CAST(1 AS TINYINT) "
        "ELSE CAST(0 AS TINYINT) END"
    ),
    # mirrors base._format_name (reference kukur/base.py:126-142): the
    # 'series name' value renders BARE and FIRST — alone or mixed with
    # other tags — and the rest follow as k=v, sorted (SQL maps are
    # unordered; the reference relies on dict insertion order)
    "ku_selector_name": (
        "(tags MAP<STRING, STRING>, field STRING) RETURNS STRING "
        "RETURN concat_ws('::', "
        "  array_join(concat("
        "    CASE WHEN array_contains(map_keys(tags), 'series name') "
        "      THEN array(tags['series name']) "
        "      ELSE CAST(array() AS ARRAY<STRING>) END, "
        "    transform("
        "      array_sort(filter(map_keys(tags), k -> k != 'series name')), "
        "      k -> concat(k, '=', tags[k]))), ','), "
        "  CASE WHEN field = 'value' THEN NULL ELSE field END)"
    ),
    "ku_selector_field": (
        "(name STRING) RETURNS STRING "
        "RETURN CASE WHEN trim(name) LIKE '%::%' "
        "THEN substring_index(trim(name), '::', -1) ELSE 'value' END"
    ),
    # per-component parse (kukur/base.py:106-121): any comma component
    # WITHOUT '=' is the series name, so the mixed 'c,tag-a=a' form and
    # surrounding whitespace parse exactly like SeriesSelector.from_name.
    # Repeated keys ('a,b' = two bare series names, 'k=1,k=2') LAST-WIN
    # like a Python dict assignment loop — the aggregate fold replaces
    # earlier entries instead of letting map_from_entries throw
    # DUPLICATED_MAP_KEY.  Ordering caveat: the fold moves a repeated
    # key to the LAST map position, while the reference's dict keeps
    # first-insertion order; VALUES match exactly, but a consumer that
    # serializes the map key order verbatim may diverge for duplicate
    # keys.  The fold is also O(k^2) in tag components — fine, k is the
    # handful of tags in a series name, never data-sized.
    "ku_selector_tags": (
        "(name STRING) RETURNS MAP<STRING, STRING> "
        "RETURN aggregate(transform("
        "  split(substring_index(trim(name), '::', 1), ','), "
        "  p -> CASE WHEN p LIKE '%=%' THEN "
        "    named_struct('key', substring_index(p, '=', 1), "
        "      'value', substring(p, length(substring_index(p, '=', 1)) + 2)) "
        "  ELSE named_struct('key', 'series name', 'value', p) END), "
        "  CAST(map() AS MAP<STRING, STRING>), "
        "  (acc, e) -> map_concat("
        "    map_filter(acc, (k, v) -> k != e.key), map(e.key, e.value)))"
    ),
    "ku_haversine_m": (
        "(lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE) "
        "RETURNS DOUBLE RETURN 2 * 6371000.0 * asin(sqrt("
        "  pow(sin(radians(lat2 - lat1) / 2), 2) + "
        "  cos(radians(lat1)) * cos(radians(lat2)) * "
        "  pow(sin(radians(lon2 - lon1) / 2), 2)))"
    ),
    "ku_jaccard_e6": (
        "(a ARRAY<STRING>, b ARRAY<STRING>) RETURNS BIGINT "
        "RETURN (CAST(size(array_intersect(a, b)) AS BIGINT) * 1000000) "
        "div CAST(size(array_union(a, b)) AS BIGINT)"
    ),
}


def register_sql_functions(spark: SparkSession) -> None:
    """Install the ``ku_*`` SQL functions the session catalog lacks.

    The functions are created in ``_FUNCTIONS`` order, so the last name
    present means all are: one catalog probe per sql-verb call, and all
    are (re-)created when it is missing.  The sql verb rejects ``DROP``,
    so a client cannot remove one function alone."""
    if spark.catalog.functionExists(next(reversed(_FUNCTIONS))):
        return
    for name, body in _FUNCTIONS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")

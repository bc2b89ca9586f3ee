"""DuckDB oracle-SQL templates for the dedup/cluster query family.

Deliberately a LEAF module (imports only ``operators.dedup``): the
survivorship / soft-dedup / leakage-split oracles in ``workloads_r10``
and ``workloads_r13`` derive their SQL from ``DEDUP_CLUSTERS_SQL`` at
module-import time, and ``kukur_spark.workloads`` imports both modules,
so the templates live below all three to keep the imports acyclic.
"""

from kukur_spark.operators.dedup import (
    EDGE_BANDS,
    EDGE_HASHES,
    md5_sig_ctes_sql,
)


def lsh_edges_sql_ctes() -> str:
    """DuckDB CTE chain producing exactly ``lsh_jaccard_edges`` as
    ``pairs(id_a, id_b)`` — banding CTEs shared with the md5-LSH oracle
    generator so the signature scheme cannot drift."""
    return f"""{md5_sig_ctes_sql(
        num_hashes=EDGE_HASHES, bands=EDGE_BANDS
    )},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
dtok AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents
),
pairs AS (
  SELECT id_a, id_b,
    CAST((CAST(len(list_intersect(ta.toks, tb.toks)) AS BIGINT) * 1000000)
      // CAST(len(list_distinct(list_concat(ta.toks, tb.toks))) AS BIGINT)
      AS BIGINT) AS jaccard_e6
  FROM cand
  JOIN dtok ta ON ta.id = cand.id_a
  JOIN dtok tb ON tb.id = cand.id_b
  WHERE (CAST(len(list_intersect(ta.toks, tb.toks)) AS BIGINT) * 1000000)
      // CAST(len(list_distinct(list_concat(ta.toks, tb.toks))) AS BIGINT)
      >= 200000
)"""


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {lsh_edges_sql_ctes()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
walk(src, reach) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT w.src, e.dst FROM walk w JOIN edges e ON w.reach = e.src
),
comp AS (SELECT src AS id, MIN(reach) AS component FROM walk GROUP BY src)
SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
ORDER BY d.doc_id
"""

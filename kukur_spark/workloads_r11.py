"""Round-4 batch #2: corpus-preparation operators for LM training.

- ``docs_dup_ngram_spans`` — exact duplicate-substring detection in the
  style of Lee et al. 2021 ("Deduplicating Training Data Makes Language
  Models Better"): every maximal token span whose 8-token windows all
  occur in more than one document.  The published recipe uses a suffix
  array; the distributed re-expression is a hashed rolling-n-gram
  inverted index (one corpus-sized shuffle) plus a per-document
  gaps-and-islands merge (keyed window, bounded by document length).
- ``docs_pack_nextfit`` — next-fit sequence packing of documents into
  fixed-size training context windows (shard-local greedy fold; the
  fold is a single ``F.aggregate`` over a sorted per-shard list, the
  same plan-pinned 1-exchange shape the smoothing recursions use).
  Complements ``workloads_r6.docs_pack_sequences``, the
  concatenate-and-split packer where documents straddle windows —
  next-fit never splits a document (the discipline used when
  cross-document attention is masked out).
- ``docs_epoch_shards`` — deterministic multi-epoch global shuffle:
  per-epoch md5-keyed ordering split across reader shards, so every
  (epoch, shard) file list is reproducible with no RNG and no global
  sort.
- ``emb_int8_quant_stats`` — per-dimension symmetric int8 quantization
  of the embedding table with exact reconstruction-error bounds (the
  calibration step a vector-serving deployment runs before casting a
  float index to int8).
- ``docs_pii_scrub`` — C4/Dolma-style regex redaction of e-mails and
  phone numbers with a per-nation report; the scrubbed text is
  md5-hashed so the oracle proves byte-identical replacements across
  engines (map-side scan, one 25-key rollup exchange).

Exactness notes: span/packing/shard outputs are pure integer/md5
pipelines.  The quantization query keeps doubles but fixes the IEEE
evaluation order on both engines (same left-associative expression
tree, ``floor(x + 0.5)`` instead of engine-specific ``round``) and
e9-floors before comparing, so results are bit-identical cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kukur_spark.io import load_table
from kukur_spark.operators.dedup import md5_long_sql
from kukur_spark.registry import register


_SPAN_K = 8  # tokens per rolling window (Lee et al. use 50 BPE tokens;
# the synthetic docs average 55 whitespace tokens, so 8 keeps the
# operator exercised)


def docs_dup_ngram_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal cross-document duplicated token spans (K=8).

    Plan shape (the 100 TB story): the gram explode is map-side
    (``transform`` over a token array — one JVM expression, no Python);
    the only corpus-sized shuffle is the group-by on the 32-byte gram
    hash — that IS the inverted index and is irreducible; the
    island-merge window is partitioned by ``doc_id`` and therefore
    bounded by a single document's length.  Grams are md5-hashed before
    the shuffle so the exchange carries 40 B/row instead of the text.
    """
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    toks = docs.withColumn("t", F.split("text", " ")).filter(
        F.size("t") >= _SPAN_K
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(t) - {_SPAN_K - 1}),"
                f" i -> array_join(slice(t, i, {_SPAN_K}), ' '))"
            )
        ).alias("p0", "gram"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).cast("long").alias("pos"),
        F.md5("gram").alias("gram_h"),
    )
    # one-pass dup detection (round 10): the aggregate-then-join-back
    # form evaluated the explode+md5 gram subtree TWICE (once per
    # branch; no ReuseExchange across the agg/join shapes).  A gram is
    # cross-document iff min(doc_id) != max(doc_id) within its hash
    # group — exactly countDistinct(doc_id) > 1 — and the min/max window
    # shares the single corpus-sized exchange on gram_h the join form
    # paid anyway.  Skew note: a boilerplate mega-gram buffers its group
    # in one (spillable) window partition, the same task-locality the
    # SMJ join form gave it in the sort.
    wg = Window.partitionBy("gram_h")
    hits = (
        grams.withColumn("_dmin", F.min("doc_id").over(wg))
        .withColumn("_dmax", F.max("doc_id").over(wg))
        .filter(F.col("_dmin") != F.col("_dmax"))
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("start_pos"),
            (F.max("pos") + _SPAN_K - 1).cast("long").alias("end_pos"),
            (F.max("pos") - F.min("pos") + _SPAN_K)
            .cast("long")
            .alias("span_len"),
            F.count(F.lit(1)).cast("long").alias("n_dup_grams"),
        )
        .select(
            "doc_id", "start_pos", "end_pos", "span_len", "n_dup_grams"
        )
        .orderBy("doc_id", "start_pos")
    )


DUP_NGRAM_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
idx AS (
  SELECT doc_id, t, UNNEST(range(1, len(t) - {_SPAN_K - 2})) AS pos
  FROM toks WHERE len(t) >= {_SPAN_K}
),
grams AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
    md5(array_to_string(t[pos:pos + {_SPAN_K - 1}], ' ')) AS gram_h
  FROM idx
),
dup AS (
  SELECT gram_h FROM grams GROUP BY gram_h
  HAVING COUNT(DISTINCT doc_id) > 1
),
hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram_h)),
isl AS (
  SELECT doc_id, pos,
    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
)
SELECT doc_id,
  MIN(pos) AS start_pos,
  CAST(MAX(pos) + {_SPAN_K - 1} AS BIGINT) AS end_pos,
  CAST(MAX(pos) - MIN(pos) + {_SPAN_K} AS BIGINT) AS span_len,
  CAST(COUNT(*) AS BIGINT) AS n_dup_grams
FROM isl GROUP BY doc_id, grp
ORDER BY doc_id, start_pos
"""

register("docs_dup_ngram_spans", docs_dup_ngram_spans, DUP_NGRAM_SPANS_SQL)


# ---------------------------------------------------------------------------
# Sequence packing into fixed context windows
# ---------------------------------------------------------------------------
_PACK_C = 256  # context window (tokens)
_PACK_SHARDS = 32


def docs_pack_nextfit(
    spark: SparkSession, sf: str, shards: int = _PACK_SHARDS
) -> DataFrame:
    """Next-fit packing of documents into ``_PACK_C``-token sequences.

    Documents are md5-bucketed into ``shards`` shards; within a
    shard they are packed in doc_id order by a greedy next-fit fold
    (close the current sequence when the next document does not fit).
    Exactly-sequential recursions distribute as ``F.aggregate`` folds
    over a sorted per-shard ``collect_list`` — one keyed exchange, no
    Python, no window, and each fold touches only its shard's document
    *lengths* (16 B/row), never the text.

    ``shards`` is the scale knob (same pattern as ``emb_outlier_knn``'s
    ``num_planes``): the fold builds its output array incrementally, so
    cost is quadratic in SHARD size — at larger corpora pick
    ``shards ≈ n_docs / 1000`` and the per-shard cost stays constant
    while shards pack in parallel.  The 10× probe runs
    ``docs_pack_nextfit:shards=512`` for exactly this reason.

    Output: one row per document — its shard, packed sequence index
    within the shard, token offset inside that sequence, and (possibly
    ``_PACK_C``-truncated) token count.
    """
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    d = docs.select(
        "doc_id",
        F.least(F.size(F.split("text", " ")), F.lit(_PACK_C))
        .cast("long")
        .alias("n_tokens"),
    ).withColumn(
        "shard", F.expr(md5_long_sql("CAST(doc_id AS STRING)")) % shards
    )
    packed = d.groupBy("shard").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "n_tokens"))).alias(
            "ds"
        )
    )
    out_t = (
        "array<struct<doc_id:bigint,seq_idx:bigint,"
        "tok_offset:bigint,n_tokens:bigint>>"
    )
    fold = F.expr(
        f"""
aggregate(
  ds,
  named_struct('seq', CAST(0 AS BIGINT), 'fill', CAST(0 AS BIGINT),
               'out', CAST(array() AS {out_t})),
  (acc, x) -> CASE WHEN acc.fill + x.n_tokens <= {_PACK_C} THEN
      named_struct('seq', acc.seq, 'fill', acc.fill + x.n_tokens,
        'out', array_append(acc.out, named_struct(
          'doc_id', x.doc_id, 'seq_idx', acc.seq,
          'tok_offset', acc.fill, 'n_tokens', x.n_tokens)))
    ELSE
      named_struct('seq', acc.seq + 1, 'fill', x.n_tokens,
        'out', array_append(acc.out, named_struct(
          'doc_id', x.doc_id, 'seq_idx', acc.seq + 1,
          'tok_offset', CAST(0 AS BIGINT), 'n_tokens', x.n_tokens)))
    END,
  acc -> acc.out)
"""
    )
    return (
        packed.select("shard", F.explode(fold).alias("r"))
        .select(
            F.col("r.doc_id").alias("doc_id"),
            "shard",
            F.col("r.seq_idx").alias("seq_idx"),
            F.col("r.tok_offset").alias("tok_offset"),
            F.col("r.n_tokens").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


PACK_NEXTFIT_SQL = f"""
WITH RECURSIVE d AS (
  SELECT doc_id,
    CAST(least(len(string_split(text, ' ')), {_PACK_C}) AS BIGINT)
      AS n_tokens,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      % {_PACK_SHARDS} AS shard
  FROM documents
),
o AS (
  SELECT d.*, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id)
    AS rn
  FROM d
),
p AS (
  SELECT shard, rn, doc_id, n_tokens,
    CAST(0 AS BIGINT) AS seq_idx, CAST(0 AS BIGINT) AS tok_offset,
    n_tokens AS fill
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
    CASE WHEN p.fill + o.n_tokens <= {_PACK_C}
         THEN p.seq_idx ELSE p.seq_idx + 1 END,
    CASE WHEN p.fill + o.n_tokens <= {_PACK_C}
         THEN p.fill ELSE CAST(0 AS BIGINT) END,
    CASE WHEN p.fill + o.n_tokens <= {_PACK_C}
         THEN p.fill + o.n_tokens ELSE o.n_tokens END
  FROM p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT doc_id, shard, seq_idx, tok_offset, n_tokens
FROM p ORDER BY doc_id
"""

register("docs_pack_nextfit", docs_pack_nextfit, PACK_NEXTFIT_SQL)


# ---------------------------------------------------------------------------
# Deterministic multi-epoch shuffle / shard assignment
# ---------------------------------------------------------------------------
_EPOCHS = 3
_EPOCH_SHARDS = 8


def docs_epoch_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Reproducible training order for ``_EPOCHS`` epochs.

    Each (epoch, doc) pair gets an md5 key; the key's high bits pick
    one of ``_EPOCH_SHARDS`` reader shards and the key itself orders
    documents *within* the shard — a different, deterministic
    permutation every epoch with no RNG state and, crucially, no
    global sort: the only windows are keyed by (epoch, shard), so the
    plan scales by adding shards.  The epoch fan-out is a literal-array
    explode (pure projection, no join).
    """
    docs = load_table(spark, sf, "documents").select("doc_id")
    a = (
        docs.select(
            "doc_id",
            F.explode(
                F.array(*[F.lit(e).cast("long") for e in range(_EPOCHS)])
            ).alias("epoch"),
        )
        .withColumn(
            "k",
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("epoch").cast("string"),
                    F.col("doc_id").cast("string"),
                )
            ),
        )
        .withColumn(
            "shard",
            F.conv(F.substring("k", 1, 15), 16, 10).cast("long")
            % _EPOCH_SHARDS,
        )
    )
    w = Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
    return (
        a.withColumn("pos", F.row_number().over(w).cast("long"))
        .select("epoch", "doc_id", "shard", "pos")
        .orderBy("epoch", "shard", "pos")
    )


EPOCH_SHARDS_SQL = f"""
WITH e AS (
  SELECT CAST(UNNEST([{", ".join(str(i) for i in range(_EPOCHS))}])
              AS BIGINT) AS epoch
),
a AS (
  SELECT d.doc_id, e.epoch,
    md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR))
      AS k
  FROM documents d CROSS JOIN e
),
s AS (
  SELECT doc_id, epoch, k,
    ('0x' || substr(k, 1, 15))::BIGINT % {_EPOCH_SHARDS} AS shard
  FROM a
)
SELECT epoch, doc_id, shard,
  CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY k, doc_id)
       AS BIGINT) AS pos
FROM s ORDER BY epoch, shard, pos
"""

register("docs_epoch_shards", docs_epoch_shards, EPOCH_SHARDS_SQL)


# ---------------------------------------------------------------------------
# Int8 embedding quantization calibration
# ---------------------------------------------------------------------------
def emb_int8_quant_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension symmetric int8 quantization error bounds.

    The *per-dimension* (SQ8-codebook) calibration axis — the existing
    ``workloads_r2.emb_int8_quantize`` quantizes *per vector*; an index
    build wants per-dimension scales because they are shared across the
    whole table and ship with the index as a 64-float codebook.

    For each embedding dimension: absolute-max calibration
    (``scale = amax / 127``), quantize every value with
    ``floor(v·127/amax + 0.5)``, and report the e9-floored maximum
    reconstruction error.  The 64-row per-dim stats table is broadcast
    back for the quantize pass, so the corpus is never reshuffled —
    the exact shape an int8 index-build job wants at 100 TB (one
    explode + one low-cardinality agg + one broadcast map-side pass).
    """
    vals = (
        load_table(spark, sf, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("dim", "v0"))
        .select(
            F.col("dim").cast("long").alias("dim"),
            F.col("v0").cast("double").alias("v"),
        )
    )
    amax = vals.groupBy("dim").agg(F.max(F.abs(F.col("v"))).alias("amax"))
    q = vals.join(F.broadcast(amax), "dim").withColumn(
        "q",
        F.when(F.col("amax") == 0.0, F.lit(0).cast("long")).otherwise(
            F.floor(F.col("v") * 127.0 / F.col("amax") + 0.5).cast("long")
        ),
    )
    err = F.when(F.col("amax") == 0.0, F.lit(0.0)).otherwise(
        F.abs(F.col("v") - F.col("q") * F.col("amax") / 127.0)
    )
    return (
        q.withColumn("err_e9", F.floor(err * 1e9).cast("long"))
        .groupBy("dim")
        .agg(
            F.floor(F.max("amax") * 1e9).cast("long").alias("amax_e9"),
            F.max("err_e9").alias("max_err_e9"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("dim")
    )


EMB_INT8_QUANT_SQL = """
WITH vals AS (
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
    CAST(UNNEST(embedding) AS DOUBLE) AS v
  FROM embeddings
),
amax AS (SELECT dim, MAX(ABS(v)) AS amax FROM vals GROUP BY dim),
q AS (
  SELECT vals.dim, v, amax,
    CASE WHEN amax = 0 THEN CAST(0 AS BIGINT)
         ELSE CAST(FLOOR(v * 127.0 / amax + 0.5) AS BIGINT) END AS q
  FROM vals JOIN amax USING (dim)
),
e AS (
  SELECT dim, amax,
    CASE WHEN amax = 0 THEN CAST(0 AS BIGINT)
         ELSE CAST(FLOOR(ABS(v - q * amax / 127.0) * 1000000000.0)
                   AS BIGINT) END AS err_e9
  FROM q
)
SELECT dim,
  CAST(FLOOR(MAX(amax) * 1000000000.0) AS BIGINT) AS amax_e9,
  MAX(err_e9) AS max_err_e9,
  CAST(COUNT(*) AS BIGINT) AS n
FROM e GROUP BY dim ORDER BY dim
"""

register("emb_int8_quant_stats", emb_int8_quant_stats, EMB_INT8_QUANT_SQL)


# --- PII scrubbing (C4 / Dolma-style redaction stage) -----------------

_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\d{2}-\d{3}-\d{3}-\d{4}"


def _pii_contact_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic PII-bearing corpus built from customer × nation.

    The synthetic ``documents`` table is digit-free word soup and the
    driver's ``customer`` table carries no phone/comment columns, so
    each customer row becomes a "contact card" embedding a TPC-H-shaped
    phone number and an e-mail, both derived deterministically from the
    keys — both engines build the identical text, so the scrub output
    is exactly comparable.
    """
    cust = load_table(spark, sf, "customer")
    nat = load_table(spark, sf, "nation")
    key = F.col("c_custkey")
    phone = F.concat_ws(
        "-",
        F.lpad((F.col("c_nationkey") + 10).cast("string"), 2, "0"),
        F.lpad((key % 1000).cast("string"), 3, "0"),
        F.lpad(((key * 7) % 1000).cast("string"), 3, "0"),
        F.lpad(((key * 13) % 10000).cast("string"), 4, "0"),
    )
    return (
        cust.join(
            F.broadcast(nat),
            cust["c_nationkey"] == nat["n_nationkey"],
        )
        .select(
            "c_custkey",
            "n_name",
            F.concat_ws(
                " ",
                F.col("c_name"),
                F.concat(
                    F.lower(
                        F.regexp_replace(
                            F.col("c_name"), r"[^A-Za-z0-9]", "."
                        )
                    ),
                    F.lit("@"),
                    F.lower(
                        F.regexp_replace(F.col("n_name"), r"[^A-Za-z0-9]", "")
                    ),
                    F.lit(".example.com"),
                ),
                phone,
                F.col("c_mktsegment"),
            ).alias("text"),
        )
    )


def docs_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Per-nation PII redaction report (emails + phone numbers).

    The missing classic pipeline stage: C4/Dolma-style regex redaction
    of e-mail addresses and phone numbers before training.  Everything
    is a map-side projection — two ``regexp_replace`` passes and two
    ``regexp_extract_all`` counts per document, no Python, no data
    movement until the final per-nation rollup (one keyed exchange on a
    25-value key).  At 100 TB the scrub cost is pure per-executor CPU.

    Exactness: the scrubbed text itself is md5-hashed per document and
    the number of *distinct* scrubbed documents per nation is part of
    the output — so the oracle comparison proves both engines performed
    byte-identical replacements, not merely equal counts.  (DuckDB's
    ``regexp_replace`` needs the ``'g'`` flag to match Spark's
    replace-all semantics.)
    """
    docs = _pii_contact_docs(spark, sf)
    scrub = docs.select(
        "n_name",
        F.size(
            F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0))
        ).alias("emails"),
        F.size(
            F.regexp_extract_all("text", F.lit(_PII_PHONE), F.lit(0))
        ).alias("phones"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace("text", _PII_PHONE, "<PHONE>"),
                _PII_EMAIL,
                "<EMAIL>",
            )
        ).alias("scrub_md5"),
    )
    return (
        scrub.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("emails").cast("long").alias("emails_found"),
            F.sum("phones").cast("long").alias("phones_found"),
            F.countDistinct("scrub_md5").alias("distinct_scrubbed"),
        )
        .orderBy("n_name")
    )


PII_SCRUB_SQL = r"""
WITH docs AS (
  SELECT n_name,
    concat_ws(' ', c_name,
      lower(regexp_replace(c_name, '[^A-Za-z0-9]', '.', 'g'))
        || '@' || lower(regexp_replace(n_name, '[^A-Za-z0-9]', '', 'g'))
        || '.example.com',
      concat_ws('-',
        lpad(CAST(c_nationkey + 10 AS VARCHAR), 2, '0'),
        lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0'),
        lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0'),
        lpad(CAST((c_custkey * 13) % 10000 AS VARCHAR), 4, '0')),
      c_mktsegment) AS text
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
scrub AS (
  SELECT n_name,
    len(regexp_extract_all(text,
      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS emails,
    len(regexp_extract_all(text,
      '\d{2}-\d{3}-\d{3}-\d{4}')) AS phones,
    md5(regexp_replace(
          regexp_replace(text, '\d{2}-\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'))
      AS scrub_md5
  FROM docs
)
SELECT n_name,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(emails) AS BIGINT) AS emails_found,
  CAST(SUM(phones) AS BIGINT) AS phones_found,
  CAST(COUNT(DISTINCT scrub_md5) AS BIGINT) AS distinct_scrubbed
FROM scrub GROUP BY n_name ORDER BY n_name
"""

register("docs_pii_scrub", docs_pii_scrub, PII_SCRUB_SQL)

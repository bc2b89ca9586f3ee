"""Row-for-row parity of the sequence-lambda LSH fragments (round 11)
against the literal-unrolled forms they replaced.

``_minhash_signature_sql`` / ``_md5_base``'s permutation loop and the
band loops of ``_md5_banded`` / ``minhash_lsh_pairs`` became
``transform(sequence(...), ...)`` lambdas instead of N unrolled literal
copies — ~N× less expression text per construction, same values because
``xxhash64(h, j)`` hashes an INT lambda variable exactly like an INT
literal, and ``concat(s, '#', cast(j AS string))`` builds the same salt
string as the former ``'#{j}'`` literal.  This module re-materializes
the OLD unrolled fragments verbatim and pins equality on the real
sf0.001 corpus, so a future edit to either form cannot silently drift.
"""

import pytest

from kukur_spark.io import load_table
from kukur_spark.operators.dedup import (
    md5_long_sql,
    _minhash_signature_sql,
    _token_hashes_sql,
    _combine_shingle_hashes_sql,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def hs_table(spark):
    # checkpointed: CollapseProject would otherwise inline the shingle
    # chain into every transform(hs, …) of the forms compared below
    docs = load_table(spark, SF, "documents")
    return (
        docs.selectExpr("doc_id AS id", f"{_token_hashes_sql('text')} AS th")
        .selectExpr("id", f"{_combine_shingle_hashes_sql('th', 3)} AS hs")
        .localCheckpoint()
    )


def test_minhash_signature_sequence_matches_unrolled(spark, hs_table):
    n = 32
    unrolled = (
        "array("
        + ", ".join(
            f"array_min(transform(hs, h -> xxhash64(h, {j})))"
            for j in range(n)
        )
        + ")"
    )
    diff = hs_table.selectExpr(
        f"{_minhash_signature_sql('hs', n)} AS new_sig",
        f"{unrolled} AS old_sig",
    ).filter("NOT (new_sig <=> old_sig)")
    assert diff.count() == 0


def test_md5_signature_sequence_matches_unrolled(spark):
    n = 16
    docs = load_table(spark, SF, "documents")
    sh = docs.selectExpr(
        "doc_id AS id",
        "array_distinct(transform(sequence(0, greatest(size(split(text,"
        "' ')) - 3, 0)), i -> array_join(slice(split(text, ' '), i + 1, 3),"
        "' '))) AS sh",
    )
    new_form = (
        f"transform(sequence(0, {n - 1}), j -> "
        "array_min(transform(sh, s -> "
        + md5_long_sql("concat(s, '#', cast(j AS string))")
        + ")))"
    )
    old_form = (
        "array("
        + ", ".join(
            "array_min(transform(sh, s -> "
            + md5_long_sql(f"concat(s, '#{j}')")
            + "))"
            for j in range(n)
        )
        + ")"
    )
    diff = sh.selectExpr(
        f"{new_form} AS new_sig", f"{old_form} AS old_sig"
    ).filter("NOT (new_sig <=> old_sig)")
    assert diff.count() == 0


def test_band_buckets_sequence_matches_unrolled(spark, hs_table):
    bands, rpb = 8, 4
    # checkpointed so the 32-hash signature is computed once, not inlined
    # into every slice(sig, …) of the two band forms
    sig = hs_table.selectExpr(
        "id", f"{_minhash_signature_sql('hs', bands * rpb)} AS sig"
    ).localCheckpoint()
    new_structs = (
        f"transform(sequence(0, {bands - 1}), b -> struct(b AS band, "
        f"xxhash64(array_join(transform(slice(sig, b * {rpb} + 1, {rpb}), "
        "x -> cast(x AS string)), ','), b) AS bucket))"
    )
    old_structs = (
        "array("
        + ", ".join(
            f"struct({b} AS band, xxhash64(array_join(transform("
            f"slice(sig, {b * rpb + 1}, {rpb}), "
            f"x -> cast(x AS string)), ','), {b}) AS bucket)"
            for b in range(bands)
        )
        + ")"
    )
    diff = sig.selectExpr(
        f"{new_structs} AS new_bb", f"{old_structs} AS old_bb"
    ).filter("NOT (new_bb <=> old_bb)")
    assert diff.count() == 0

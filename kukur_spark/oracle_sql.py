"""DuckDB SQL fragments shared by oracles in several workloads modules.

A leaf module (no kukur_spark imports), so any workloads module can
build its oracle SQL at import time without an import cycle.
"""


def duck_cos(a: str, b: str) -> str:
    """DuckDB cosine-similarity expression matching operators.similarity
    (sequential left-fold dot products over double-cast elements — the
    exact IEEE operation order Spark's ``aggregate`` performs)."""
    def _dot(x: str, y: str) -> str:
        return (
            f"list_sum(list_transform(range(1, len({x}) + 1), "
            f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))"
        )

    return (
        f"{_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)}))"
    )


def pq_enc_scored_sql(m: int, dsub: int) -> str:
    """Body of the PQ ``enc_scored`` CTE: the squared distance of every
    vector's subspace ``s`` (``dsub`` dims) to every seed's, one UNION
    ALL arm per subspace, summed in the Spark encoder's order."""
    def enc_dist(s: int) -> str:
        return " + ".join(
            f"(CAST(e.embedding[{s * dsub + d + 1}] AS DOUBLE)"
            f" - CAST(se.embedding[{s * dsub + d + 1}] AS DOUBLE))"
            f" * (CAST(e.embedding[{s * dsub + d + 1}] AS DOUBLE)"
            f" - CAST(se.embedding[{s * dsub + d + 1}] AS DOUBLE))"
            for d in range(dsub)
        )

    return "\nUNION ALL\n".join(
        f"SELECT e.vec_id, {s} AS s, se.vec_id AS c, {enc_dist(s)} AS dist\n"
        f"FROM embeddings e, seeds se"
        for s in range(m)
    )

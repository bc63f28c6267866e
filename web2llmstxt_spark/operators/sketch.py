"""Count-min sketch: bounded-memory frequency estimation (engine extension).

The 100 TB problem this solves: exact token/URL/host frequency needs a
groupBy whose state grows with the number of DISTINCT keys (10^9+ tokens,
10^10 URLs); a count-min sketch (Cormode & Muthukrishnan, J. Algorithms
2005) holds d x w counters — a few KB — regardless of corpus size, never
underestimates, and overestimates by at most N/w with probability 1-2^-d.
The crawl engine's use cases: per-host request accounting at frontier
scale, hot-token detection for boilerplate heuristics, pre-filtering heavy
hitters before an exact (filtered) count.

Everything is deterministic — the d hash rows are the proven md5-prefix
arithmetic salted by row index — so the whole sketch (build AND estimate)
is replicated bit-exactly by the DuckDB oracle twin; no randomness, no
float.

Scale shape: the build is explode -> groupBy(row, bucket) with map-side
combine — the shuffle carries at most d*w distinct keys (the sketch size,
NOT the corpus size); token text collapses to (row, bucket) before any
shuffle. The counter table is d*w rows: broadcast it for estimates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import tokens_col
from .textstats import whitespace_tokens_sql

#: test-scale sketch geometry. Production at 10^12 increments: w = 2^20,
#: d = 5 keeps the additive error ~N/10^6 at ~20 MB of counters.
CMS_WIDTH = 1024
CMS_DEPTH = 4


def _bucket(col, row: int, width: int):
    """Row-salted md5-prefix bucket (the minhash/hash_embed arithmetic):
    h_row(t) = int(md5(row || ':' || t)[:15], 16) % width."""
    salted = F.concat(F.lit(f"{row}:"), col)
    return (
        F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long") % width
    )


def _bucket_sql(expr: str, row: int, width: int) -> str:
    return (
        f"(('0x' || substr(md5('{row}:' || {expr}), 1, 15))::BIGINT % {width})"
    )


def cms_estimate(
    counters: DataFrame,
    items: DataFrame,
    item_col: str = "token",
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> DataFrame:
    """Point estimates for ``items``: est(t) = min over rows of the counter
    at (row, h_row(t)). The counter table is tiny (d*w) — broadcast; items
    never shuffle. CMS guarantee: est >= true count, always.

    Output: items' columns + est:long.
    """
    probes = items.select(
        "*",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("row"),
                    _bucket(F.col(item_col), r, width).alias("bucket"),
                )
                for r in range(depth)
            ])
        ).alias("rb"),
    ).select("*", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")).drop("rb")
    joined = probes.join(F.broadcast(counters), ["row", "bucket"], "left").fillna(
        0, subset=["cnt"]
    )
    return joined.groupBy(item_col).agg(F.min("cnt").alias("est"))


def cms_topk_tokens(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> DataFrame:
    """Demonstration query: estimate every distinct token through the sketch
    and return the top-k by estimate (est DESC, token ASC), alongside the
    EXACT count so the never-underestimates invariant is visible
    (est >= exact, by construction). Real 100 TB use estimates a small
    candidate set — the sketch's point is that the counter state is bounded;
    the estimate-all-distinct form here is the checkable worst case.

    Output: (token, est:bigint, exact:bigint) top-k.
    """
    # ONE tokenize+explode pass: reduce to the distinct-token frequency
    # table first (the same shuffle the exact count needs anyway), then
    # derive the sketch counters from it WEIGHTED by the exact counts —
    # identical to counting occurrences directly, but the corpus text is
    # scanned once instead of twice and the d-way md5 fan-out runs over
    # distinct tokens, not occurrences. The materialized table is
    # vocabulary-sized (the classic BPE/word2vec trick), never corpus-sized.
    toks = df.select(F.explode(tokens_col(F.col(text_col))).alias("token"))
    exact = (
        toks.groupBy("token").agg(F.count("*").alias("exact"))
        .localCheckpoint(eager=True)
    )
    rows = exact.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("row"),
                    _bucket(F.col("token"), r, width).alias("bucket"),
                )
                for r in range(depth)
            ])
        ).alias("rb"),
        "exact",
    )
    counters = rows.groupBy(
        F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    ).agg(F.sum("exact").alias("cnt"))
    est = cms_estimate(counters, exact.select("token"), "token", width, depth)
    return (
        exact.join(est, "token")
        .orderBy(F.desc("est"), F.asc("token"))
        .limit(k)
        .select("token", "est", "exact")
    )


#: HyperLogLog geometry (Flajolet et al., AofA 2007). m=64 registers keeps
#: the sketch at 64 ints while the standard error ~1.04/sqrt(m) ~= 13%;
#: production at 10^10 URLs uses m=2^14 (16 KB, ~0.8% error). The rho hash
#: uses 12 md5 hex chars = 48 bits: exact in BIGINT and in IEEE double.
HLL_M = 64
HLL_WBITS = 48


def _hll_alpha(m: int) -> float:
    """The paper's bias-correction constant."""
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))


def hll_registers(items: DataFrame, item_col: str, m: int = HLL_M) -> DataFrame:
    """HLL register table over a (multi)set of items: (idx:long, rho:int),
    at most m rows regardless of input size.

    idx = salted md5 bucket; rho = 1 + leading-zero count of a second
    48-bit salted hash, computed as 49 - length(bin(w)) — pure integer/
    string ops, no libm log2 (whose last-ulp rounding near powers of two
    differs across engines), so the registers are bit-identical in Spark
    and DuckDB.

    Scale shape: groupBy(idx).max(rho) partial-aggregates map-side — the
    shuffle carries at most m rows per input partition, never the items.
    Duplicates need no pre-distinct: max() absorbs them (the reason HLL
    suits a 10^10-URL frontier where distinct-counting URLs exactly would
    itself need a full shuffle).
    """
    col = F.col(item_col)
    idx = (
        F.conv(F.substring(F.md5(F.concat(F.lit("i:"), col)), 1, 15), 16, 10)
        .cast("long") % m
    )
    w = F.conv(
        F.substring(F.md5(F.concat(F.lit("r:"), col)), 1, 12), 16, 10
    ).cast("long")
    rho = F.when(w == 0, F.lit(HLL_WBITS + 1)).otherwise(
        F.lit(HLL_WBITS + 1) - F.length(F.bin(w))
    )
    return (
        items.select(idx.alias("idx"), rho.cast("int").alias("rho"))
        .groupBy("idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(registers: DataFrame, m: int = HLL_M) -> DataFrame:
    """One-row cardinality estimate from a register table:
    (m:int, v_zero:bigint, hll_est:bigint).

    All register mass is summed as INTEGERS (term = 1 << (49 - rho), max
    m * 2^49 — fits BIGINT for m <= 2^13) so the sum is order-independent;
    the single raw-estimate division is one pinned IEEE double expression,
    identical in the DuckDB twin. Small-range linear counting
    (est <= 2.5m and empty registers exist) uses ln() — libm — so that
    branch is covered by a pure-Python spec test, not the cross-engine
    oracle (which runs in the raw regime).
    """
    s49 = 1 << (HLL_WBITS + 1)
    alpha = _hll_alpha(m)
    agg = registers.agg(
        F.count("*").alias("nreg"),
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {HLL_WBITS + 1} - rho)")).alias(
            "s_present"
        ),
    )
    return agg.select(
        F.lit(m).cast("int").alias("m"),
        (F.lit(m) - F.col("nreg")).cast("long").alias("v_zero"),
        F.expr(
            f"cast(case when floor(({alpha!r} * cast({m * m} as double) * "
            f"cast({s49} as double)) / cast(s_present + ({m} - nreg) * "
            f"cast({s49} as bigint) as double)) <= {2.5 * m!r} "
            f"and nreg < {m} "
            f"then floor(cast({m} as double) * ln(cast({m} as double) / "
            f"cast({m} - nreg as double))) "
            f"else floor(({alpha!r} * cast({m * m} as double) * "
            f"cast({s49} as double)) / cast(s_present + ({m} - nreg) * "
            f"cast({s49} as bigint) as double)) end as bigint)"
        ).alias("hll_est"),
    )


def hll_distinct_tokens(
    df: DataFrame, text_col: str = "text", m: int = HLL_M, n: int = 1
) -> DataFrame:
    """Driver-checkable HLL demonstration: estimate the distinct-token
    (n=1) or distinct-n-gram-shingle (n>1, the dedup shingle universe)
    cardinality of a corpus through the 64-register sketch, alongside the
    exact distinct count so the error is visible.

    Output: one row (m:int, v_zero:bigint, hll_est:bigint, exact:bigint).
    """
    if n > 1:
        from .curation import ngrams_col

        items = ngrams_col(F.col(text_col), n, distinct=False)
    else:
        items = tokens_col(F.col(text_col))
    toks = df.select(F.explode(items).alias("__tok"))
    # ONE shingle-explode pass: distinct first (the same map-side partial
    # distinct the exact count pays anyway), materialize the bounded
    # distinct-shingle table, then fan out into registers + exact count.
    # Registers are unchanged by the pre-distinct (idx/rho are pure
    # functions of the token; max() absorbed duplicates before).
    d = toks.distinct().localCheckpoint(eager=True)
    est = hll_estimate(hll_registers(d, "__tok", m), m)
    exact = d.agg(F.count("__tok").alias("exact"))  # count(col): NULL-skipping, as count_distinct was
    return est.crossJoin(exact)


def hll_distinct_tokens_sql(
    text_expr: str, from_table: str, m: int = HLL_M, n: int = 1
) -> str:
    """DuckDB twin of hll_distinct_tokens: same salted md5 buckets, same
    length(bin(w)) rho, same integer register mass, same pinned double
    expression for the estimate."""
    toks = whitespace_tokens_sql(text_expr)
    if n > 1:
        from .curation import ngrams_sql

        toks = ngrams_sql(toks, n, distinct=False)
    alpha = _hll_alpha(m)
    s49 = 1 << (HLL_WBITS + 1)
    wb1 = HLL_WBITS + 1
    raw = (
        f"floor(({alpha!r} * cast({m * m} as double) * cast({s49} as double))"
        f" / cast(s_present + ({m} - nreg) * cast({s49} as bigint) as double))"
    )
    return f"""
        WITH toks AS (
            SELECT unnest({toks}) AS tok FROM {from_table}
        ),
        hashed AS (
            SELECT
                (('0x' || substr(md5('i:' || tok), 1, 15))::BIGINT % {m}) AS idx,
                (('0x' || substr(md5('r:' || tok), 1, 12))::BIGINT) AS w
            FROM toks
        ),
        regs AS (
            SELECT idx,
                   max(CASE WHEN w = 0 THEN {wb1}
                            ELSE {wb1} - length(bin(w)) END) AS rho
            FROM hashed GROUP BY idx
        ),
        agg AS (
            SELECT count(*) AS nreg,
                   sum((1::BIGINT << ({wb1} - rho)))::BIGINT AS s_present
            FROM regs
        )
        SELECT {m}::INTEGER AS m,
               ({m} - nreg)::BIGINT AS v_zero,
               (CASE WHEN {raw} <= {2.5 * m!r} AND nreg < {m}
                     THEN floor(cast({m} as double) *
                          ln(cast({m} as double) / cast({m} - nreg as double)))
                     ELSE {raw} END)::BIGINT AS hll_est,
               (SELECT count(DISTINCT tok) FROM toks)::BIGINT AS exact
        FROM agg
    """


def cms_topk_tokens_sql(
    text_expr: str,
    from_table: str,
    k: int = 20,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> str:
    """DuckDB twin of cms_topk_tokens: same row-salted md5 buckets, same
    min-over-rows estimate, same deterministic cut."""
    toks = whitespace_tokens_sql(text_expr)
    inc_rows = " UNION ALL ".join(
        f"SELECT {r} AS row, {_bucket_sql('token', r, width)} AS bucket FROM toks"
        for r in range(depth)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT token, {r} AS row, {_bucket_sql('token', r, width)} AS bucket FROM dtok"
        for r in range(depth)
    )
    return f"""
        WITH toks AS (
            SELECT unnest({toks}) AS token FROM {from_table}
        ),
        counters AS (
            SELECT row, bucket, count(*)::BIGINT AS cnt
            FROM ({inc_rows}) GROUP BY row, bucket
        ),
        exact AS (
            SELECT token, count(*)::BIGINT AS exact FROM toks GROUP BY token
        ),
        dtok AS (SELECT DISTINCT token FROM toks),
        probes AS ({probe_rows}),
        est AS (
            SELECT token, min(coalesce(c.cnt, 0))::BIGINT AS est
            FROM probes LEFT JOIN counters c USING (row, bucket)
            GROUP BY token
        )
        SELECT token, est, exact
        FROM exact JOIN est USING (token)
        ORDER BY est DESC, token ASC LIMIT {k}
    """

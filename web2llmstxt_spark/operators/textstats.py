"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting. Engine extensions for training-data pipelines; all
Column algebra (JVM) except the BPE-ish tokenizer which is a regexp and the
language-ID heuristic (native array ops over per-language stopword sets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: The ONE whitespace tokenizer class, pinned explicitly so Spark (Java
#: regex), DuckDB (RE2) and Python kernels agree bit-for-bit. Java's ``\s``
#: is exactly this class; RE2's ``\s`` lacks ``\x0B`` — pinning removes the
#: cross-engine divergence risk flagged in round 1 (token_stats).
WS_CLASS_JAVA = "[ \\t\\n\\x0B\\f\\r]+"
WS_CLASS_SQL = "[ \\t\\n\\x0b\\f\\r]+"

#: tiny per-language function-word lists for the n-gram/stopword language-ID
#: heuristic (public-knowledge closed-class words; good enough for routing)
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "una"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}


def whitespace_tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), WS_CLASS_JAVA)


def whitespace_tokens_sql(text_expr: str) -> str:
    """DuckDB twin of whitespace_tokens."""
    return f"string_split_regex(lower(trim({text_expr})), '{WS_CLASS_SQL}')"


#: BPE-style pretokenization (GPT-2 pretoken shape, lookaround-free so Java
#: regex and RE2 agree): runs of non-delimiters, or single punctuation marks.
BPE_PRETOKEN_RE = (
    "[^ \\t\\n\\x0b\\f\\r.,!?;:()\\[\\]{}\"']+|[.,!?;:()\\[\\]{}\"']"
)


def bpe_pretokens(text: Column) -> Column:
    """BPE-ish pretokens via regexp_extract_all — word pieces + punctuation
    as separate tokens, engine-portable (no lookbehind, which RE2 lacks)."""
    return F.regexp_extract_all(F.lower(text), F.lit(BPE_PRETOKEN_RE), F.lit(0))


def bpe_pretokens_sql(text_expr: str) -> str:
    """DuckDB twin of bpe_pretokens (single quotes doubled for SQL)."""
    pat = BPE_PRETOKEN_RE.replace("'", "''")
    return f"regexp_extract_all(lower({text_expr}), '{pat}')"


def token_count(text: Column) -> Column:
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, WS_CLASS_JAVA)))


def token_count_sql(text_expr: str) -> str:
    """DuckDB twin of token_count (same explicit whitespace class)."""
    return (
        f"(CASE WHEN len(trim({text_expr})) = 0 THEN 0 ELSE "
        f"len(string_split_regex(trim({text_expr}), '{WS_CLASS_SQL}')) END)"
    )


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0,1]: length band, punctuation
    ratio, mean word length band. Cross-engine exact (same arithmetic in the
    DuckDB oracle)."""
    t = F.coalesce(text, F.lit(""))
    n_chars = F.length(t)
    n_tokens = token_count(t).cast("double")
    punct = (n_chars - F.length(F.regexp_replace(t, r"[.,!?;:]", ""))).cast("double")
    punct_ratio = F.when(n_chars > 0, punct / n_chars.cast("double")).otherwise(F.lit(0.0))
    mean_word = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(F.lit(0.0))
    len_band = F.when((n_tokens >= 20) & (n_tokens <= 1000), F.lit(0.5)).otherwise(F.lit(0.0))
    punct_band = F.when(punct_ratio <= 0.1, F.lit(0.25)).otherwise(F.lit(0.0))
    word_band = F.when((mean_word >= 3.0) & (mean_word <= 12.0), F.lit(0.25)).otherwise(F.lit(0.0))
    return len_band + punct_band + word_band


def quality_score_sql(text_expr: str) -> str:
    """DuckDB twin of quality_score."""
    t = f"coalesce({text_expr}, '')"
    n_chars = f"len({t})"
    n_tokens = token_count_sql(t)
    punct = f"(len({t}) - len(regexp_replace({t}, '[.,!?;:]', '', 'g')))"
    punct_ratio = f"(CASE WHEN {n_chars} > 0 THEN {punct}::DOUBLE / {n_chars} ELSE 0.0 END)"
    mean_word = f"(CASE WHEN {n_tokens} > 0 THEN {n_chars}::DOUBLE / {n_tokens} ELSE 0.0 END)"
    return (
        f"((CASE WHEN {n_tokens} >= 20 AND {n_tokens} <= 1000 THEN 0.5 ELSE 0.0 END)"
        f" + (CASE WHEN {punct_ratio} <= 0.1 THEN 0.25 ELSE 0.0 END)"
        f" + (CASE WHEN {mean_word} >= 3.0 AND {mean_word} <= 12.0 THEN 0.25 ELSE 0.0 END))"
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text."""
    return F.md5(F.array_join(whitespace_tokens(text), " "))


def fingerprint_sql(text_expr: str) -> str:
    return f"md5(list_aggregate({whitespace_tokens_sql(text_expr)}, 'string_agg', ' '))"


def detect_language(text: Column) -> Column:
    """Stopword-count language ID: argmax over per-language hit counts,
    'und' when nothing matches. Deterministic ties: language name asc."""
    toks = whitespace_tokens(text)
    scored = []
    # tie key = negated rank in sorted(LANG_STOPWORDS): after reverse(sort)
    # the max (hits, -rank) wins, i.e. lexicographically SMALLEST lang on hit
    # ties (round-1 advice: first-char ascii broke en-vs-es ties).
    for rank, lang in enumerate(sorted(LANG_STOPWORDS)):
        hits = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])))
        scored.append(
            F.struct(hits.alias("hits"), F.lit(-rank).alias("tie"), F.lit(lang).alias("lang"))
        )
    best = F.element_at(F.reverse(F.array_sort(F.array(*scored))), 1)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def detect_language_sql(text_expr: str, id_expr: str, from_table: str) -> str:
    """DuckDB twin of detect_language: per-lang hit counts via list_intersect
    (distinct semantics, same as Spark array_intersect), argmax with hit-count
    desc then language asc — the documented deterministic tie order."""
    toks = whitespace_tokens_sql(text_expr)
    arms = []
    for lang in sorted(LANG_STOPWORDS):
        words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        arms.append(
            f"SELECT {id_expr} AS doc_id, '{lang}' AS lang, "
            f"len(list_intersect({toks}, [{words}])) AS hits FROM {from_table}"
        )
    hits_union = " UNION ALL ".join(arms)
    return f"""
        WITH hits AS ({hits_union}),
        ranked AS (
            SELECT doc_id, lang, hits,
                   row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
            FROM hits
        )
        SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_detected
        FROM ranked WHERE rn = 1
    """


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass per-doc profile: tokens, quality, fingerprint, detected lang."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count(t).alias("n_tokens"),
        F.round(quality_score(t), 4).alias("quality"),
        fingerprint(t).alias("fp"),
        detect_language(t).alias("lang_detected"),
    )


def lm_xent(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al., LREC 2020): per-doc
    cross-entropy under an add-one-smoothed corpus bigram model - documents
    whose token transitions are atypical for the corpus score high (the
    perplexity-bucket signal CCNet filters on; there the LM is KenLM
    trained on Wikipedia, here it is the corpus's own bigram model - the
    model-free self-scoring variant).

    xent(d) = -(1/|bigrams(d)|) * sum ln P(w2|w1),
    P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)   [V = distinct vocab size]

    Output: (doc_id, n_bigrams, xent) - xent rounded to 4, NULL for docs
    with < 2 tokens. Bigram key = w1 || chr(1) || w2 (the separator cannot
    appear inside a whitespace token).

    Scale shape: bigram and unigram counts are combiner-friendly groupBys
    (boilerplate-hot bigrams pre-aggregate map-side); the per-doc rejoin is
    (doc bigrams) JOIN (model) on the bigram key - the one genuinely heavy
    join, which is CCNet's real cost too; V collapses to a literal.
    """
    sep = F.lit(chr(1))
    toks = whitespace_tokens(F.col(text_col))
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bi = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.concat(a, sep, b),
    )
    doc_bi = df.select(F.col(id_col), F.explode(bi).alias("bg"))
    c_bi = doc_bi.groupBy("bg").agg(F.count("*").alias("c2"))
    uni = df.select(F.explode(toks).alias("w"))
    c_uni = uni.groupBy("w").agg(F.count("*").alias("c1"))
    v = uni.select(F.count_distinct("w")).collect()[0][0]

    model = c_bi.withColumn("w1", F.substring_index(F.col("bg"), chr(1), 1))
    model = model.join(c_uni, model["w1"] == c_uni["w"]).select(
        "bg",
        F.log((F.col("c2") + 1.0) / (F.col("c1") + float(v))).alias("logp"),
    )
    per = (
        doc_bi.join(model, "bg")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(-F.sum("logp") / F.count("*"), 4).alias("xent"),
        )
    )
    return (
        df.select(id_col)
        .join(per, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.col("xent"),
        )
    )


def lm_xent_sql(text_expr: str, id_expr: str, from_table: str) -> str:
    """DuckDB twin of lm_xent (same smoothing, same chr(1) bigram key)."""
    toks = whitespace_tokens_sql(text_expr)
    return f"""
        WITH toksrc AS (SELECT {id_expr} AS doc_id, {toks} AS t FROM {from_table}),
        doc_bi AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(t) - 1, 0)),
                       i -> t[i] || chr(1) || t[i + 1])) AS bg
            FROM toksrc
        ),
        c_bi AS (SELECT bg, count(*)::DOUBLE AS c2 FROM doc_bi GROUP BY bg),
        unis AS (SELECT unnest(t) AS w FROM toksrc),
        c_uni AS (SELECT w, count(*)::DOUBLE AS c1 FROM unis GROUP BY w),
        v AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM unis),
        model AS (
            SELECT bg, ln((c2 + 1.0) / (c1 + v.v)) AS logp
            FROM c_bi, v
            JOIN c_uni ON split_part(bg, chr(1), 1) = c_uni.w
        ),
        per AS (
            SELECT d.doc_id, count(*)::BIGINT AS n_bigrams,
                   round(-sum(m.logp) / count(*), 4) AS xent
            FROM doc_bi d JOIN model m USING (bg)
            GROUP BY d.doc_id
        )
        SELECT s.doc_id,
               coalesce(p.n_bigrams, 0) AS n_bigrams,
               p.xent
        FROM (SELECT {id_expr} AS doc_id FROM {from_table}) s
        LEFT JOIN per p USING (doc_id)
    """


# ------------------------------------------------------- exact quantiles

#: default percentile grid in basis points (p50/p90/p99 plus tails)
QUANTILES_BP = (2500, 5000, 7500, 9000, 9900)


#: exact_quantiles refuses domains wider than this (see its docstring) —
#: a 10^6-row single-partition cumulative window is the accepted ceiling
EXACT_QUANTILES_MAX_DISTINCT = 1_000_000


def exact_quantiles(
    df: DataFrame, value_col: str, ps_bp=QUANTILES_BP,
    max_distinct: int | None = EXACT_QUANTILES_MAX_DISTINCT,
) -> DataFrame:
    """EXACT distributed percentiles of an integer-valued column — the
    deterministic replacement for approxQuantile when the answer feeds a
    correctness-sensitive cut (length filtering, packing bin sizing).

    Semantics: quantile(p) = min v such that |{x <= v}| >= ceil(p * N)
    (the lower discrete quantile), with ceil done in INTEGER arithmetic
    ((p_bp*N + 9999) div 10000) so both engines cut identically.

    Scale shape: groupBy(value) partial-aggregates map-side, so the shuffle
    carries (#distinct values x #partitions) rows, not N; the cumulative
    window then runs over the DISTINCT-value histogram only. That single-
    partition window is the deliberate trade: exact quantiles of a column
    with a SMALL value domain (token counts, depths, status codes). For
    unbounded domains, bucket first or use a mergeable sketch instead —
    and that contract is now ENFORCED (r4 verdict #6): the distinct-value
    count is checked before the window and a too-wide domain raises
    instead of silently single-partition-sorting it (``max_distinct=None``
    opts out for callers that know better).

    Output: (p_bp:int, value:bigint), one row per requested percentile.
    """
    from pyspark.sql import Window

    hist = df.groupBy(F.col(value_col).cast("long").alias("val")).agg(
        F.count("*").alias("cnt")
    )
    if max_distinct is not None:
        # materialize once for the guard count AND the window reuse;
        # localCheckpoint (not cache) so the blocks are released when the
        # plan is GC'd — CacheManager entries would outlive every call
        hist = hist.localCheckpoint(eager=True)
        n_distinct = hist.count()
        if n_distinct > max_distinct:
            raise ValueError(
                f"exact_quantiles: {value_col!r} has {n_distinct} distinct "
                f"values (> max_distinct={max_distinct}); the cumulative "
                "window would single-partition-sort the whole domain. "
                "Bucketize the column first (e.g. floor(val/width)) or use "
                "a mergeable sketch; pass max_distinct=None to force."
            )
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "val",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("total"),
    )
    ps = F.explode(
        F.array(*[F.lit(int(p)).cast("int") for p in ps_bp])
    ).alias("p_bp")
    grid = cum.select(ps, "val", "cum", "total")
    hit = grid.where(
        F.col("cum")
        >= F.expr("(cast(p_bp as bigint) * total + 9999) div 10000")
    )
    return hit.groupBy("p_bp").agg(F.min("val").alias("value"))


def length_quantiles_sql(
    text_expr: str, from_table: str, ps_bp=QUANTILES_BP
) -> str:
    """DuckDB twin of exact_quantiles over per-document token counts
    (token_count_sql semantics, incl. the empty-text -> 0 case):
    same histogram -> cumulative -> integer-ceil selection."""
    ps = ", ".join(str(int(p)) for p in ps_bp)
    return f"""
        WITH v AS (
            SELECT {token_count_sql(text_expr)}::BIGINT AS val
            FROM {from_table}
        ),
        hist AS (SELECT val, count(*)::BIGINT AS cnt FROM v GROUP BY val),
        c AS (
            SELECT val,
                   sum(cnt) OVER (ORDER BY val)::BIGINT AS cum,
                   sum(cnt) OVER ()::BIGINT AS total
            FROM hist
        ),
        ps AS (SELECT unnest([{ps}])::INTEGER AS p_bp)
        SELECT p_bp, min(val)::BIGINT AS value
        FROM ps JOIN c ON cum >= (p_bp::BIGINT * total + 9999) // 10000
        GROUP BY p_bp
    """

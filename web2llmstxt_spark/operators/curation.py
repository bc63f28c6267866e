"""Training-data curation operators beyond the reference's surface.

Three curation primitives every large-scale LLM-data pipeline runs between
crawl and training, expressed as pure DataFrame plans (no Python in the hot
path) with DuckDB oracle twins:

- benchmark DECONTAMINATION: flag corpus documents sharing any word n-gram
  with an eval/benchmark set (the n-gram-overlap protocol published with
  GPT-3 appendix C / The Pile; public knowledge);
- REPETITION filtering: per-document duplicate-token and top-bigram mass
  (the Gopher / RefinedWeb "repetitious document" signals; public
  knowledge), division-free so both engines agree bit-exactly;
- deterministic STRATIFIED SAMPLING: exact-k per stratum by a stable
  pseudo-random md5 key (the data-mixing primitive), with a salted
  two-phase top-k so a huge stratum never funnels through one partition.

Scale notes (100 TB): the benchmark side of decontamination is tiny (eval
sets are MBs) and is broadcast — corpus bytes never shuffle; repetition
stats shuffle only (doc_id, bigram) pairs with map-side combine; sampling's
phase-1 salt bounds any stratum's window input to ``salt * k`` rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .dedup import tokens_col
from .textstats import whitespace_tokens_sql

# ---------------------------------------------------------------- n-grams


def ngrams_col(text, n: int, distinct: bool = True):
    """Word n-grams joined by a single space (the dedup shingle shape:
    `dedup.ngram_jaccard`). ``distinct=False`` keeps multiplicity (needed
    for frequency stats)."""
    toks = tokens_col(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return F.array_distinct(grams) if distinct else grams


def ngrams_sql(tok_expr: str, n: int, distinct: bool = True) -> str:
    """DuckDB twin of ngrams_col over an already-tokenized list expr."""
    grams = (
        f"list_transform(range(0, greatest(len({tok_expr}) - {n}, 0) + 1), "
        f"i -> array_to_string(({tok_expr})[i+1:i+{n}], ' '))"
    )
    return f"list_distinct({grams})" if distinct else grams


# ------------------------------------------------------- decontamination


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Flag corpus documents sharing any word ``n``-gram with a benchmark /
    eval set. Output: one row per corpus doc — (id, n_hits, contaminated),
    where n_hits counts the doc's DISTINCT contaminated n-grams.

    Scale shape: the benchmark's distinct n-gram hashes are built once and
    BROADCAST; the corpus side explodes its n-grams map-side and probes the
    broadcast hash set — corpus bytes never cross a shuffle. The only
    aggregation is the per-doc hit count (combiner-friendly on id). At a
    true 100 TB corpus the explode is the dominant cost and is embarrassingly
    parallel; the broadcast side stays MB-scale because eval sets are small
    by construction.
    """
    bench_grams = (
        benchmark.select(F.explode(ngrams_col(F.col(text_col), n)).alias("g"))
        .select(F.md5("g").alias("gh"))
        .distinct()
    )
    corpus_grams = docs.select(
        F.col(id_col), F.explode(ngrams_col(F.col(text_col), n)).alias("g")
    ).select(id_col, F.md5("g").alias("gh"))
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "gh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return docs.select(id_col).join(hits, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
    )


# ---------------------------------------------------- repetition filtering

#: Gopher-style keep thresholds as exact integer ratios (num, den): drop a
#: doc when duplicate-token fraction > 3/10 or top-bigram mass > 18/100.
#: Compared via integer cross-multiplication — no floating division, so the
#: Spark plan and the DuckDB twin agree bit-exactly.
DUP_TOKEN_MAX = (3, 10)
TOP_BIGRAM_MAX = (18, 100)


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals (Gopher-style quality filter).

    Output: (id, n_tokens, n_distinct_tokens, n_bigrams, top_bigram_n,
    keep). All counts are exact integers; ``keep`` applies DUP_TOKEN_MAX /
    TOP_BIGRAM_MAX via cross-multiplication.

    Scale shape: token counts are pure Column algebra (no shuffle); the
    bigram mode is ONE explode -> groupBy(id, bigram) count (map-side
    combine) -> per-doc max+sum — both shuffles keyed by id, no hotspot.
    """
    toks = tokens_col(text_col)
    base = docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )
    bigrams = docs.select(
        F.col(id_col),
        F.explode(ngrams_col(F.col(text_col), 2, distinct=False)).alias("bg"),
    )
    mode = (
        bigrams.groupBy(id_col, "bg")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.max("c").cast("long").alias("top_bigram_n"),
            F.sum("c").cast("long").alias("n_bigrams"),
        )
    )
    dt_n, dt_d = DUP_TOKEN_MAX
    tb_n, tb_d = TOP_BIGRAM_MAX
    out = base.join(mode, id_col)
    dup_bad = (F.col("n_tokens") - F.col("n_distinct_tokens")) * dt_d > dt_n * F.col("n_tokens")
    bg_bad = F.col("top_bigram_n") * tb_d > tb_n * F.col("n_bigrams")
    return out.select(
        id_col, "n_tokens", "n_distinct_tokens", "n_bigrams", "top_bigram_n",
        (~(dup_bad | bg_bad)).alias("keep"),
    )


# ----------------------------------------------------- stratified sampling


def stratified_sample(
    docs: DataFrame,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    k: int = 20,
    salt: int = 32,
) -> DataFrame:
    """Deterministic exact-k per-stratum sample: rank docs within each
    stratum by (md5(id), id) — a stable pseudo-random order both engines
    reproduce — and keep the first k. Output: (stratum, id, rk).

    Scale shape: a naive ``Window.partitionBy(stratum)`` funnels a whole
    stratum (possibly 10^9 rows for `lang='en'`) through one partition, so
    this runs the exact two-phase top-k: phase 1 ranks within
    (stratum, hash(id) % salt) and keeps k per salted group — the true
    per-stratum top-k by the md5 key is always a subset of the union of
    per-salt top-k, so the prune is lossless — leaving <= salt*k survivors
    per stratum for phase 2's exact window. Same pattern as the frontier's
    distributed budget cut (operators/ranking.py).
    """
    key = F.md5(F.col(id_col).cast("string"))
    salted = Window.partitionBy(
        stratum_col, F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt))
    ).orderBy(key, F.col(id_col))
    survivors = (
        docs.select(stratum_col, id_col)
        .withColumn("__srk", F.row_number().over(salted))
        .filter(F.col("__srk") <= k)
        .drop("__srk")
    )
    exact = Window.partitionBy(stratum_col).orderBy(key, F.col(id_col))
    return (
        survivors.withColumn("rk", F.row_number().over(exact))
        .filter(F.col("rk") <= k)
        .select(stratum_col, id_col, F.col("rk").cast("int").alias("rk"))
    )


# ----------------------------------------------------- line-level dedup


def line_dedup(
    docs: DataFrame,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Line-level (paragraph) deduplication, the CCNet/C4 boilerplate
    remover (public protocol): a line that appears in >= ``min_docs``
    DISTINCT documents is boilerplate (nav bars, cookie banners, footers)
    and is stripped from every document; surviving lines are reassembled in
    their original order.

    Output: (id, n_lines, n_kept, n_removed, text_clean) — exact integers
    and byte-exact reassembled text, so a DuckDB twin agrees bit-for-bit.

    Scale shape (100 TB): the dup-line table is built by ONE
    groupBy(md5(line)) with a map-side-combined distinct-doc count, then
    FILTERED to hashes with >= min_docs docs BEFORE any join — at web scale
    the boilerplate set is many orders smaller than the line universe, so
    the second pass is a left-anti join of lines against that reduced set
    (AQE broadcasts it when it fits). Reassembly is one groupBy(id) whose
    collect_list holds only the doc's OWN lines — bounded by doc size, never
    by corpus size. Keys are md5 hashes: uniform, no skewed reducer.
    """
    parts = F.split(F.col(text_col), sep)
    base = docs.select(F.col(id_col), F.size(parts).cast("long").alias("n_lines"))
    lines = docs.select(
        F.col(id_col), F.posexplode(parts).alias("pos", "line")
    ).withColumn("lh", F.md5("line"))
    dup_hashes = (
        lines.groupBy("lh")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("lh")
    )
    kept = lines.join(dup_hashes, "lh", "left_anti")
    clean = kept.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("text_clean"),
    )
    return base.join(clean, id_col, "left").select(
        F.col(id_col),
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).cast("long").alias("n_removed"),
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
    )


# ------------------------------------------------------- mixture sampling


def mixture_quotas(weights: dict[str, int], total: int) -> dict[str, int]:
    """Per-stratum quotas: floor(total * w / sum(w)) in exact integer
    arithmetic. Computed ONCE in Python and embedded as literals in both
    the Spark plan and the SQL twin — no float division in either engine."""
    wsum = sum(weights.values())
    return {s: (total * w) // wsum for s, w in weights.items()}


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, int],
    total: int,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: int = 32,
) -> DataFrame:
    """Weighted data-mixing sample: draw ~``total`` docs with per-stratum
    quotas proportional to integer ``weights`` (the training-mixture
    primitive — e.g. upweight `en`, downweight boilerplate-heavy sources).
    Strata not in ``weights`` are excluded. A stratum smaller than its
    quota contributes everything it has (both engines agree).

    Scale shape: the weights table is rows-per-stratum tiny and BROADCAST;
    ranking reuses stratified_sample's salted two-phase top-k at
    k = max(quota), so no stratum ever funnels through one partition.
    """
    quotas = mixture_quotas(weights, total)
    kmax = max(quotas.values())
    in_mix = docs.filter(F.col(stratum_col).isin(list(weights)))
    ranked = stratified_sample(in_mix, stratum_col, id_col, k=kmax, salt=salt)
    qdf = local_frame(
        docs.sparkSession, sorted(quotas.items()), f"{stratum_col} string, __quota int"
    )
    return (
        ranked.join(F.broadcast(qdf), stratum_col)
        .filter(F.col("rk") <= F.col("__quota"))
        .select(stratum_col, id_col, "rk")
    )


def pack_sequences(
    df, budget: int, text_col: str = "text", id_col: str = "doc_id",
    caches: list | None = None,
):
    """GPT-style sequence packing: lay the corpus out as one contiguous
    token stream (deterministic doc_id order) and chunk it into
    ``budget``-token bins — the step a pretraining pipeline runs right
    before writing shards (docs straddle bin boundaries by design, exactly
    like GPT-2/3 packing; pad-free).

    Output per doc: (doc_id, n_tokens, stream_offset, bin_id, bin_offset)
    — all bigints; stream_offset is the exclusive prefix-sum of n_tokens,
    bin_id = offset DIV budget, bin_offset = offset % budget.

    Scale shape: the prefix-sum is `ranking.global_rank`'s two-pass
    distributed cumulative (range-partition, per-partition window, tiny
    driver-side offset table broadcast back) — NO single-partition window,
    NO driver merge; the same machinery the crawler's budget cut uses at
    10^10-URL scale. Token counting is one JVM size(split()) per doc.
    ``caches`` receives the prefix-sum's checkpoint (`ranking.global_rank`).
    """
    from . import ranking
    from .dedup import tokens_col

    toked = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_col(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    ranked = ranking.global_rank(
        toked, [F.asc("doc_id")], "__rank", cum_col_flag=F.col("n_tokens"),
        caches=caches,
    )
    return ranked.select(
        "doc_id",
        "n_tokens",
        F.col("__cum_before").alias("stream_offset"),
        F.expr(f"__cum_before DIV {int(budget)}").alias("bin_id"),
        (F.col("__cum_before") % int(budget)).alias("bin_offset"),
    )


def pack_sequences_sql(
    budget: int, text_expr: str, id_expr: str, from_table: str
) -> str:
    """DuckDB twin of pack_sequences (single-node window is fine for the
    oracle)."""
    from .textstats import whitespace_tokens_sql

    toks = whitespace_tokens_sql(text_expr)
    return f"""
        WITH toked AS (
            SELECT {id_expr} AS doc_id, len({toks})::BIGINT AS n_tokens
            FROM {from_table}
        )
        SELECT doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0)::BIGINT AS stream_offset,
               (coalesce(sum(n_tokens) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) // {int(budget)})::BIGINT AS bin_id,
               (coalesce(sum(n_tokens) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) % {int(budget)})::BIGINT AS bin_offset
        FROM toked
    """


#: C4 cleaning thresholds (Raffel et al., JMLR 2020 S2.2)
C4_MIN_WORDS_PER_LINE = 5
C4_MIN_LINES = 3
#: terminal punctuation accepted at end-of-line (period, !, ?, closing quote)
C4_TERMINAL_RE = "[.!?\"]$"


def c4_clean(df, text_col: str = "text", id_col: str = "doc_id"):
    """C4 line-level cleaning (Raffel et al., JMLR 2020 S2.2): retain only
    lines that end in terminal punctuation AND contain >= 5 words; drop the
    whole page when fewer than 3 lines survive, or when it contains
    "lorem ipsum" (any case) or a curly brace (code leak). The bad-words
    and three-sentence-span rules are covered elsewhere (pii_scrub /
    substring dedup families).

    Output: (doc_id, n_lines, n_kept, keep, clean_text) — clean_text joins
    surviving lines with a newline, '' when the page is dropped.

    Pure JVM Column algebra (split + higher-order filter + regexp), zero
    shuffles, whole-stage codegen — the map-only filter shape every
    line-rule pass should have at 100 TB.
    """
    from pyspark.sql import functions as F

    lines = F.split(F.col(text_col), "\n")
    good = F.filter(
        lines,
        lambda l: F.trim(l).rlike(C4_TERMINAL_RE)
        & (F.size(F.split(F.trim(l), "[ ]+")) >= C4_MIN_WORDS_PER_LINE),
    )
    keep = (
        (F.size(good) >= C4_MIN_LINES)
        & ~F.lower(F.col(text_col)).contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
    )
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(good).cast("long").alias("n_kept"),
        keep.alias("keep"),
        F.when(keep, F.array_join(good, chr(10))).otherwise(F.lit("")).alias(
            "clean_text"
        ),
    )


def c4_clean_sql(text_expr: str, id_expr: str, from_table: str) -> str:
    """DuckDB twin of c4_clean (same regex class, same word split)."""
    lines = f"string_split({text_expr}, chr(10))"
    good = (
        f"list_filter({lines}, l -> regexp_matches(trim(l), '[.!?\"]$') "
        f"AND len(string_split_regex(trim(l), '[ ]+')) >= {C4_MIN_WORDS_PER_LINE})"
    )
    keep = (
        f"(len({good}) >= {C4_MIN_LINES} "
        f"AND NOT contains(lower({text_expr}), 'lorem ipsum') "
        f"AND NOT contains({text_expr}, chr(123)))"
    )
    return f"""
        SELECT {id_expr} AS doc_id,
               len({lines})::BIGINT AS n_lines,
               len({good})::BIGINT AS n_kept,
               {keep} AS keep,
               CASE WHEN {keep} THEN array_to_string({good}, chr(10))
                    ELSE '' END AS clean_text
        FROM {from_table}
    """


# ------------------------------------- DSIR importance-weighted selection

#: fixed-point scale for the integerized per-bucket importance ratio — six
#: decimal digits of ratio resolution, far below any doc-score tie the
#: selection could care about, and (tgt+1)*SCALE stays << 2^63 at any
#: conceivable corpus size (tgt <= raw <= token count; 10^14 tokens * 10^6
#: = 10^20 would overflow, so the ratio is computed per BUCKET where counts
#: are ~tokens/n_buckets — raise n_buckets with corpus size).
DSIR_SCALE = 1_000_000


def dsir_select(
    df: DataFrame,
    target,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    k: int = 100,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al., NeurIPS
    2023, arXiv:2302.03169), integerized: score each document by how much
    its hashed-unigram distribution looks like a TARGET subset of the corpus
    (``target`` is a boolean Column over ``df``, e.g. ``F.col('lang') ==
    'en'``), then keep the top-k. Extension operator beyond the reference's
    surface — the standard "select raw web data that resembles a trusted
    corpus" curation step.

    Deviation from the paper, documented: the paper weights w(x) =
    prod_t p_target(t)/p_raw(t) and resamples; computing log-weights
    cross-engine is a float hazard (libm ln differs in ulps between the JVM
    and DuckDB), so the weight is integerized — per-bucket ratio w_b =
    ((tgt_b + 1) * DSIR_SCALE) div (raw_b + 1) (add-one smoothed, exact
    integer arithmetic in both engines) and the doc score is the SUM of
    w_b over its token occurrences (the monotone additive analog of the
    log-product). Selection is deterministic top-k (score DESC, id ASC)
    rather than Gumbel resampling — the reproducible variant.

    Scale shape (100 TB): one explode->groupBy(bucket) shuffle builds the
    weight table (n_buckets rows — tiny, broadcast back), one
    groupBy(id) shuffle scores docs; token text never leaves the scan
    (tokens collapse to a 60-bit md5-prefix bucket before any shuffle).
    h(t) is the proven minhash/hash_embed md5-prefix arithmetic.

    Output: (id_col, score:bigint) top-k.
    """
    toks = df.select(
        F.col(id_col),
        target.cast("int").alias("__t"),
        F.explode(tokens_col(F.col(text_col))).alias("__tok"),
    )
    bucketed = toks.select(
        id_col,
        "__t",
        (F.conv(F.substring(F.md5("__tok"), 1, 15), 16, 10).cast("long")
         % n_buckets).alias("__b"),
    )
    weights = (
        bucketed.groupBy("__b")
        .agg(F.count("*").alias("__raw"), F.sum("__t").alias("__tgt"))
        .select(
            "__b",
            F.expr(f"((__tgt + 1) * {DSIR_SCALE}) div (__raw + 1)").alias("__w"),
        )
    )
    scored = (
        bucketed.join(F.broadcast(weights), "__b")
        .groupBy(id_col)
        .agg(F.sum("__w").alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def dsir_select_sql(
    text_expr: str,
    id_expr: str,
    target_sql: str,
    from_table: str,
    n_buckets: int = 1024,
    k: int = 100,
) -> str:
    """DuckDB twin of dsir_select: same md5-prefix bucket hash, same add-one
    smoothed integer ratio (// == Spark's div on positive BIGINTs), same
    deterministic top-k cut."""
    toks = whitespace_tokens_sql(text_expr)
    return f"""
        WITH toks AS (
            SELECT {id_expr} AS doc_id,
                   (CASE WHEN {target_sql} THEN 1 ELSE 0 END) AS is_t,
                   unnest({toks}) AS tok
            FROM {from_table}
        ),
        b AS (
            SELECT doc_id, is_t,
                   (('0x' || substr(md5(tok), 1, 15))::BIGINT % {n_buckets}) AS bucket
            FROM toks
        ),
        w AS (
            SELECT bucket,
                   (((sum(is_t)::BIGINT + 1) * {DSIR_SCALE})
                    // (count(*)::BIGINT + 1)) AS w
            FROM b GROUP BY bucket
        ),
        scored AS (
            SELECT doc_id, sum(w)::BIGINT AS score
            FROM b JOIN w USING (bucket) GROUP BY doc_id
        )
        SELECT doc_id, score FROM scored
        ORDER BY score DESC, doc_id ASC LIMIT {k}
    """


# ------------------------------------------------- training-shard writing

def write_training_shards(
    df: DataFrame,
    out_dir: str,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    bins_per_shard: int = 1024,
) -> dict:
    """The curation pipeline's last mile: materialize the pack_sequences
    layout as TRAINING SHARDS — parquet partitioned by shard_id, each shard
    holding ``bins_per_shard`` consecutive ``budget``-token bins, rows
    sorted by (bin_id, bin_offset) so a shard reader streams the token
    stream in order without a sort. A trainer maps shard -> worker and
    replays bins sequentially; shard boundaries are bin boundaries, so no
    sequence straddles two shards' files (a doc may straddle BINS — that is
    GPT-style packing — but every bin lives in exactly one shard).

    Scale shape: one doc_id-keyed join brings the text to the layout (the
    layout side is slim bigints), one repartition("shard_id") colocates each
    shard, partitionBy writes one directory per shard. The joined rows are
    persisted by the write, so the stats read that cache instead of
    recomputing the layout and the join; every cache is released before
    return. Returns stats {docs, tokens, bins, shards}.
    """
    from ..session import CACHE_LEVEL, release

    caches: list = []
    try:
        layout = pack_sequences(df, budget, text_col, id_col, caches=caches)
        joined = df.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        ).join(layout, "doc_id")
        shards = joined.withColumn(
            "shard_id", F.expr(f"bin_id DIV {int(bins_per_shard)}")
        ).persist(CACHE_LEVEL)
        caches.append(shards)
        (
            shards.repartition("shard_id")
            .sortWithinPartitions("shard_id", "bin_id", "bin_offset")
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(out_dir)
        )
        agg = shards.agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            (F.max("bin_id") + 1).alias("bins"),
            F.countDistinct("shard_id").alias("shards"),
        ).collect()[0]
    finally:
        release(caches)
    return {
        "docs": agg["docs"],
        "tokens": int(agg["tokens"] or 0),
        "bins": int(agg["bins"] or 0),
        "shards": agg["shards"],
        "out": out_dir,
    }

"""Deterministic sampling / splitting operators for training-data
pipelines.

Two primitives every large-scale corpus pipeline needs and that must be
REPRODUCIBLE across runs, engines, and cluster sizes — so both key off a
content-derived hash (functions/hashing.h60), never off Spark's
partition-dependent `rand()`/`monotonically_increasing_id()`:

- hash_split: train/val/test assignment by hash bucket. A document's
  split is a pure function of its id, so re-running the pipeline (or
  adding data) never migrates an existing document between splits —
  the property that prevents silent eval-set leakage across dataset
  versions.
- stratified_sample: fixed-size per-stratum quota (e.g. N docs per
  language), taking the lowest hash ranks inside each stratum. The
  hash order is a deterministic uniform shuffle, so the quota is an
  unbiased sample that is stable across runs.

Scale shape: hash_split is a pure projection (no shuffle, no state —
it composes into any scan). stratified_sample is one shuffle on the
stratum key + a per-stratum sort bounded by stratum size; with heavily
skewed strata the rank window is the textbook place for a pre-filter
(keep only hashes below quota/|stratum| * safety before ranking), noted
inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hogflare_spark.functions.hashing import h60

# Salt folded into the split hash so that independent uses of hash_split
# and stratified_sample over the same ids draw independent "randomness".
SPLIT_SALT = "hash-split:"
SAMPLE_SALT = "stratified-sample:"


def hash_split(
    df: DataFrame,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Adds (bucket, split): bucket = h60(salt || id) % 100, split =
    'train' below train_pct, 'val' below train_pct+val_pct, else 'test'.

    Integer-percent buckets keep the boundary decision exact (no float
    thresholds that could round differently across engines).
    """
    bucket = (
        h60(F.concat(F.lit(SPLIT_SALT), F.col(id_col).cast("string"))) % 100
    ).cast("long")
    return df.withColumn("bucket", bucket).withColumn(
        "split",
        F.when(F.col("bucket") < train_pct, F.lit("train"))
        .when(F.col("bucket") < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def hash_split_sql(id_expr: str, train_pct: int = 80, val_pct: int = 10) -> tuple[str, str]:
    """DuckDB mirrors of hash_split's (bucket, split) expressions."""
    from hogflare_spark.functions.hashing import h60_sql

    hashed = h60_sql(f"'{SPLIT_SALT}' || CAST({id_expr} AS VARCHAR)")
    bucket = f"({hashed} % 100)"
    split = (
        f"CASE WHEN {bucket} < {train_pct} THEN 'train' "
        f"WHEN {bucket} < {train_pct + val_pct} THEN 'val' ELSE 'test' END"
    )
    return bucket, split


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    n_per_stratum: int,
    prefilter_min_stratum: int = 100_000,
    safety: float = 4.0,
) -> DataFrame:
    """Keeps the `n_per_stratum` lowest-hash rows of each stratum.

    Deterministic: the rank key is (h60(salt || id), id) — the id
    tiebreak makes the order total even under (astronomically unlikely)
    hash collisions, so the kept set is engine-independent.

    Mega-stratum pre-filter (the 100 TB path): when any stratum exceeds
    `prefilter_min_stratum` rows, rows of such strata are pre-filtered
    to `sample_hash <= 2^60 * n * safety / |stratum|` BEFORE the ranking
    window, so the per-stratum sort ranks an expected n*safety-row
    superset instead of the whole stratum. EXACT by construction, not in
    expectation: the filter keeps EVERY row below the threshold, so if a
    stratum retains >= min(n, |stratum|) rows its true n lowest hashes
    are all present; strata where the hash draw undershot (probability
    ~ e^-n at safety 4, but nonzero) are detected by a grouped count and
    re-ranked over their FULL rows, so the result equals the plain
    window bit-for-bit on every input. Strata at or below the size
    cutoff skip the filter entirely — the common/test path adds only one
    partial-aggregated stratum count.
    """
    sample_hash = h60(F.concat(F.lit(SAMPLE_SALT), F.col(id_col).cast("string")))
    w = Window.partitionBy(stratum_col).orderBy(sample_hash, F.col(id_col))

    def plain(frame: DataFrame) -> DataFrame:
        return (
            frame.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= n_per_stratum)
            .drop("_rk")
        )

    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_sn"))
    big = counts.where(F.col("_sn") > F.lit(prefilter_min_stratum))
    if big.isEmpty():
        return plain(df)

    h_max = float(1 << 60)
    thr = F.least(
        F.lit(h_max),
        F.ceil(F.lit(h_max * n_per_stratum * safety) / F.col("_sn")),
    )
    pre = (
        df.join(F.broadcast(counts), stratum_col)
        .where(
            (F.col("_sn") <= prefilter_min_stratum) | (sample_hash <= thr)
        )
        .select(*df.columns)  # USING-join moved the key column first
    )
    kept = plain(pre)
    # exactness guard: a pre-filtered stratum is correct iff it retained
    # at least min(n, |stratum|) rows — otherwise re-rank its FULL rows
    deficient = (
        big.join(  # LEFT from big: a stratum with ZERO kept rows must
            # still be flagged — an inner join would drop its group
            kept.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_kn")),
            stratum_col,
            "left",
        )
        .where(
            F.coalesce(F.col("_kn"), F.lit(0))
            < F.least(F.lit(n_per_stratum), F.col("_sn"))
        )
        .select(stratum_col)
    )
    if deficient.isEmpty():
        return kept
    refill = plain(df.join(F.broadcast(deficient), stratum_col, "semi"))
    return (
        kept.join(F.broadcast(deficient), stratum_col, "anti")
        .select(*df.columns)
        .unionByName(refill.select(*df.columns))
    )


def stratified_sample_sql(
    table: str, id_expr: str, stratum_expr: str, n_per_stratum: int
) -> str:
    """DuckDB mirror: the same (hash, id)-ranked per-stratum quota."""
    from hogflare_spark.functions.hashing import h60_sql

    hash_expr = h60_sql(f"'{SAMPLE_SALT}' || CAST({id_expr} AS VARCHAR)")
    return (
        f"SELECT * EXCLUDE (_rk) FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {stratum_expr} "
        f"ORDER BY {hash_expr}, {id_expr}) AS _rk FROM {table}"
        f") WHERE _rk <= {n_per_stratum}"
    )


def _distributed_prefix_sum(
    df: DataFrame, value_col: str, order_cols: list[str]
) -> DataFrame:
    """Adds `cumsum` = running total of `value_col` over the global
    `order_cols` order WITHOUT a single-reducer window.

    A two-phase running sum: (1) range-partition + sort on the order
    key, so partition i holds keys strictly below partition i+1; (2)
    partition-local running sums via a window partitioned by the
    physical partition id (no cross-partition exchange — the range
    shuffle already placed the rows); (3) add the total of all lower
    partitions, a running sum over one row per partition (bounded by
    cluster width). A bare
    `Window.orderBy(...)` cumsum funnels every row through one reducer —
    fine at test scale, fatal for a 100 TB corpus.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    local = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = local.withColumn("_local_cum", F.sum(value_col).over(w))
    totals = local.groupBy("_pid").agg(F.sum(value_col).alias("_ptotal"))
    offsets = totals.select(
        "_pid",
        F.coalesce(
            F.sum("_ptotal").over(
                Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_offset"),
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("cumsum", (F.col("_local_cum") + F.col("_offset")).cast("long"))
        .drop("_pid", "_local_cum", "_offset")
    )


PACK_SALT = "pack:"


def pack_sequences(
    df: DataFrame, id_col: str, token_count_col: str, target_tokens: int
) -> DataFrame:
    """Greedy sequence packing for pretraining batches: documents are
    laid out in a deterministic hash order and cut into consecutive
    ~target_tokens bins; each document is assigned to the bin where it
    starts. Returns (id, n_tokens, bin_id, bin_offset).

    The hash order is a deterministic uniform shuffle (so bins mix
    sources/lengths without a true random pass), and bin assignment is a
    pure function of the running token total — integer arithmetic only,
    so the layout is identical across engines and cluster widths. The
    prefix sum is the distributed two-phase scheme above, not a global
    single-reducer window.
    """
    key = h60(F.concat(F.lit(PACK_SALT), F.col(id_col).cast("string")))
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(token_count_col).cast("long").alias("n_tokens"),
        key.alias("_pk"),
    )
    summed = _distributed_prefix_sum(base, "n_tokens", ["_pk", "id"])
    start = F.col("cumsum") - F.col("n_tokens")
    return summed.select(
        "id",
        "n_tokens",
        F.floor(start / F.lit(target_tokens)).cast("long").alias("bin_id"),
        (start % F.lit(target_tokens)).cast("long").alias("bin_offset"),
    )


def pack_sequences_sql(
    table: str, id_expr: str, token_count_expr: str, target_tokens: int
) -> str:
    """DuckDB mirror: one global window cumsum over the same hash order."""
    from hogflare_spark.functions.hashing import h60_sql

    key = h60_sql(f"'{PACK_SALT}' || CAST({id_expr} AS VARCHAR)")
    return f"""
    WITH b AS (
      SELECT {id_expr} AS id, CAST({token_count_expr} AS BIGINT) AS n_tokens,
             {key} AS pk
      FROM {table}
    ), c AS (
      SELECT id, n_tokens,
             sum(n_tokens) OVER (ORDER BY pk, id
                                 ROWS UNBOUNDED PRECEDING) AS cumsum
      FROM b
    )
    SELECT id, n_tokens,
           CAST(floor((cumsum - n_tokens) / {target_tokens}.0) AS BIGINT) AS bin_id,
           CAST((cumsum - n_tokens) % {target_tokens} AS BIGINT) AS bin_offset
    FROM c
    """


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Splits documents into fixed-size token chunks with overlap — the
    context-window preparation step between corpus filtering and
    training (HF tokenizers' return_overflowing_tokens shape): chunk k
    starts at token 1 + k*stride; the run of starts covers every token,
    so the final chunk may be shorter than `chunk_tokens`.

    Output: (doc_id, chunk_idx, start_token, n_chunk_tokens, chunk_text),
    one row per chunk, 1-based start. Pure projection + posexplode — no
    shuffle, no state; chunk boundaries are a function of the row alone,
    so the op composes into any scan at any scale.
    """
    from hogflare_spark.functions import text as T

    # NULL text must not diverge from the oracle: un-coalesced, Spark's
    # size(NULL)=-1 still yields one garbage chunk row while DuckDB's
    # generate_series(NULL) yields zero. '' makes both emit one empty
    # chunk — identical on both sides.
    tok = T.tokens(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size(tok)
    # number of strided chunks after the first = ceil(max(0, n - chunk) / stride)
    extra = F.floor(
        (F.greatest(n - F.lit(chunk_tokens), F.lit(0)) + F.lit(stride - 1))
        / F.lit(stride)
    ).cast("int")
    starts = F.sequence(F.lit(0), extra).cast("array<int>")
    out = df.select(
        F.col(id_col).alias("doc_id"), tok.alias("_tok"), F.posexplode(starts)
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("chunk_idx"),
        (F.col("col") * stride + 1).cast("long").alias("start_token"),
        F.least(
            F.lit(chunk_tokens),
            F.size("_tok") - (F.col("col") * stride),
        ).cast("long").alias("n_chunk_tokens"),
        F.array_join(
            F.slice("_tok", F.col("col") * stride + 1, chunk_tokens), " "
        ).alias("chunk_text"),
    )
    return out


def chunk_documents_sql(
    table: str,
    text_expr: str,
    id_expr: str,
    chunk_tokens: int = 32,
    stride: int = 24,
) -> str:
    """DuckDB mirror of chunk_documents: same starts, same slices."""
    from hogflare_spark.functions import text as T

    tok = T.tokens_sql(f"coalesce({text_expr}, '')")
    return f"""
    WITH d AS (
      SELECT {id_expr} AS doc_id, {tok} AS tok FROM {table}
    ), s AS (
      SELECT doc_id, tok,
             unnest(generate_series(0,
               CAST(floor((greatest(len(tok) - {chunk_tokens}, 0)
                           + {stride - 1}) / {stride}.0) AS INT))) AS k
      FROM d
    )
    SELECT doc_id,
           CAST(k AS BIGINT) AS chunk_idx,
           CAST(k * {stride} + 1 AS BIGINT) AS start_token,
           CAST(least({chunk_tokens}, len(tok) - k * {stride}) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(list_slice(tok, k * {stride} + 1,
                                      k * {stride} + {chunk_tokens}), ' ')
             AS chunk_text
    FROM s
    """


def domain_mixture(
    df: DataFrame,
    domain_col: str,
    text_col: str,
    sample_n: int = 10_000,
) -> DataFrame:
    """Per-domain sampling weights for corpus mixing: token-share with a
    sqrt temperature (τ = 0.5) — the standard flattening used for
    multilingual / multi-source training mixes (sampling p_s ∝ share^τ
    suppresses the head domain and upweights the tail; cf. mBERT/XLM-R
    exponent-smoothed sampling) — plus the integer document quota a
    `sample_n`-document mix would draw from each domain.

    Determinism across engines is engineered, not hoped for: token
    counts are exact BIGINTs; sqrt is IEEE-exact (unlike pow, which is
    why τ is 0.5 and not 0.7); the weight is quantized to a BIGINT
    (floor(sqrt(n_tokens) * 1e6)) BEFORE normalization so the
    normalizing sum is an order-independent integer sum; the quota is
    pure integer arithmetic (w * N div Σw) carried in decimal(38,0) —
    w_int reaches ~9.2e14 at an 8.5e17-token domain, so both the
    weight-sum over many domains and w_int * sample_n can exceed
    signed-64; int64 would overflow SILENTLY exactly at the 100 TB
    corpus scale this operator exists for. The DuckDB mirror carries
    the same two quantities in HUGEINT (int128), so both engines
    floor-divide exact integers and agree bit-for-bit.

    Scale shape: one partial-aggregated groupBy on the domain key (the
    output is |domains| rows), one broadcast of the 1-row total.
    """
    from hogflare_spark.operators.text_analysis import ws_token_count

    per = (
        df.groupBy(F.col(domain_col).alias("domain"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(ws_token_count(F.col(text_col))).cast("long").alias("n_tokens"),
        )
        .withColumn(
            "w_int",
            F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1e6).cast("long"),
        )
    )
    return mixture_weights(per, sample_n)


def mixture_weights(per: DataFrame, sample_n: int) -> DataFrame:
    """Normalization + quota over a (domain, n_docs, n_tokens, w_int)
    frame. Split out from domain_mixture so the overflow-safe integer
    math is testable with PLANTED near-int64-max token counts (no test
    corpus can physically contain 8.5e17 tokens)."""
    total = per.agg(
        F.sum(F.col("w_int").cast("decimal(38,0)")).alias("w_total")
    )
    return per.crossJoin(F.broadcast(total)).select(
        "domain",
        "n_docs",
        "n_tokens",
        (
            F.floor(
                F.col("w_int").cast("double") / F.col("w_total").cast("double") * 1e6
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("weight"),
        # decimal(38,0) * int stays decimal(38,0); `div` floor-divides
        # decimals to BIGINT — no intermediate ever touches int64.
        F.expr(f"CAST(w_int AS DECIMAL(38,0)) * {sample_n} div w_total")
        .cast("long")
        .alias("quota"),
    )


def mixture_weights_sql(table: str, sample_n: int) -> str:
    """DuckDB mirror of mixture_weights over a pre-aggregated
    (domain, n_docs, n_tokens, w_int) table — lets tests plant
    near-int64-max counts and check both engines' int128 quota math."""
    return f"""
    WITH t AS (SELECT sum(w_int::HUGEINT) AS w_total FROM {table})
    SELECT domain, n_docs, n_tokens,
           floor(w_int::DOUBLE / w_total::DOUBLE * 1000000 + 0.5) / 1000000
             AS weight,
           CAST((w_int::HUGEINT * {sample_n}) // w_total AS BIGINT) AS quota
    FROM {table}, t
    """


def domain_mixture_sql(
    table: str, domain_expr: str, text_expr: str, sample_n: int = 10_000
) -> str:
    """DuckDB mirror: identical integer quantization and quota math."""
    from hogflare_spark.operators.text_analysis import ws_token_count_sql

    tc = ws_token_count_sql(text_expr)
    return f"""
    WITH per AS (
      SELECT {domain_expr} AS domain, count(*) AS n_docs,
             CAST(sum({tc}) AS BIGINT) AS n_tokens
      FROM {table} GROUP BY 1
    ), w AS (
      SELECT *, CAST(floor(sqrt(n_tokens::DOUBLE) * 1000000) AS BIGINT) AS w_int
      FROM per
    ), t AS (SELECT sum(w_int::HUGEINT) AS w_total FROM w)
    SELECT domain, n_docs, n_tokens,
           floor(w_int::DOUBLE / w_total::DOUBLE * 1000000 + 0.5) / 1000000
             AS weight,
           -- HUGEINT (int128) mirror of Spark's decimal(38,0) quota:
           -- w_int * sample_n overflows int64 for domains past ~8.5e17
           -- tokens, so neither engine may touch int64 mid-expression.
           CAST((w_int::HUGEINT * {sample_n}) // w_total AS BIGINT) AS quota
    FROM w, t
    """


def budget_select(df: DataFrame, text_col: str, id_col: str, token_budget: int) -> DataFrame:
    """Quality-ranked token-budget selection — the "assemble the
    training mix" step that closes the curation pipeline: score every
    document against the corpus LM (text_analysis.unigram_lm_scores),
    rank by (score DESC, doc_id ASC), and keep documents from the top
    until the cumulative token count exceeds `token_budget` (a document
    is kept iff the running total THROUGH it stays within budget).

    Scale shape: the ranking order is realized as a range partition on
    the (already 1e-6-rounded) score key, and the running token total is
    the two-phase `_distributed_prefix_sum` — partition-local window
    sums plus a broadcast of per-partition offsets — so no single
    reducer ever sees the corpus, unlike a bare `Window.orderBy`
    cumsum. The budget cut is then a pure filter on the prefix sum.

    Output: (doc_id, n_tokens, mean_tok_prob, cum_tokens), kept rows
    only.
    """
    from hogflare_spark.operators.text_analysis import unigram_lm_scores

    scores = unigram_lm_scores(df, text_col, id_col).select(
        "doc_id",
        "n_tokens",
        "mean_tok_prob",
        # negate the rounded score so the global order is a plain ASC
        # composite key (rounding to 1e-6 makes the negation exact)
        (-F.col("mean_tok_prob")).alias("_neg"),
    )
    cum = _distributed_prefix_sum(scores, "n_tokens", ["_neg", "doc_id"])
    return (
        cum.where(F.col("cumsum") <= token_budget)
        .select(
            "doc_id",
            "n_tokens",
            "mean_tok_prob",
            F.col("cumsum").alias("cum_tokens"),
        )
    )


def budget_select_sql(
    table: str, text_expr: str, id_expr: str, token_budget: int
) -> str:
    """DuckDB mirror: the same score CTE and one window cumsum over the
    same total order."""
    from hogflare_spark.operators.text_analysis import unigram_lm_scores_sql

    inner = unigram_lm_scores_sql(table, text_expr, id_expr)
    return f"""
    WITH s AS ({inner}),
    c AS (
      SELECT doc_id, n_tokens, mean_tok_prob,
             CAST(sum(n_tokens) OVER (
               ORDER BY mean_tok_prob DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM s
    )
    SELECT doc_id, n_tokens, mean_tok_prob, cum_tokens
    FROM c WHERE cum_tokens <= {token_budget}
    """


MIX_SALT = "mixture-draw:"


def mixture_materialize(
    df: DataFrame,
    domain_col: str,
    text_col: str,
    id_col: str,
    sample_n: int = 10_000,
    prefilter_min_domain: int = 100_000,
    safety: float = 4.0,
) -> DataFrame:
    """Materialize the domain mixture: draw each domain's integer quota
    (domain_mixture's sqrt-temperature token-share allocation) as the
    quota lowest-hash documents of that domain — turning the weights
    table into the actual sampled corpus a training run reads. A domain
    whose quota exceeds its document count contributes everything it
    has.

    Deterministic: the draw key is (h60(salt || id), id), so the kept
    set is engine- and partitioning-independent, and growing the corpus
    only ever appends to a domain's draw order (the same growth-stable
    property hash_split relies on).

    Mega-domain pre-filter (the 100 TB path — the per-quota
    generalization of stratified_sample's): when a domain exceeds
    `prefilter_min_domain` rows, its rows are pre-filtered to
    `hash <= 2^60 * quota * safety / n_docs` BEFORE the ranking window,
    so the per-domain sort ranks an expected quota*safety-row superset
    instead of the whole domain. Exact by construction: every row below
    the threshold is kept, so a domain retaining >= min(quota, n_docs)
    rows has its true lowest hashes present; undershot domains are
    detected by a grouped count and re-ranked over their full rows.

    Output: (doc_id, domain, draw_rank), draw_rank = 1..quota within
    the domain's hash order.
    """
    quotas = domain_mixture(df, domain_col, text_col, sample_n).select(
        F.col("domain").alias(domain_col), "quota", F.col("n_docs").alias("_dn")
    )
    sample_hash = h60(F.concat(F.lit(MIX_SALT), F.col(id_col).cast("string")))
    w = Window.partitionBy(domain_col).orderBy(sample_hash, F.col(id_col))
    base = df.select(id_col, domain_col).join(F.broadcast(quotas), domain_col)

    def plain(frame: DataFrame) -> DataFrame:
        return (
            frame.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= F.col("quota"))
            .select(
                F.col(id_col).alias("doc_id"),
                F.col(domain_col).alias("domain"),
                F.col("_rk").cast("int").alias("draw_rank"),
            )
        )

    big = quotas.where(F.col("_dn") > F.lit(prefilter_min_domain)).select(domain_col)
    if big.isEmpty():
        return plain(base)

    h_max = float(1 << 60)
    thr = F.least(
        F.lit(h_max),
        F.ceil(
            F.lit(h_max * safety) * F.col("quota").cast("double") / F.col("_dn")
        ),
    )
    pre = base.where(
        (F.col("_dn") <= prefilter_min_domain) | (sample_hash <= thr)
    )
    kept = plain(pre)
    deficient = (
        big.join(
            kept.groupBy(F.col("domain").alias(domain_col)).agg(
                F.count(F.lit(1)).alias("_kn")
            ),
            domain_col,
            "left",
        )
        .join(F.broadcast(quotas), domain_col)
        .where(
            F.coalesce(F.col("_kn"), F.lit(0))
            < F.least(F.col("quota"), F.col("_dn"))
        )
        .select(domain_col)
    )
    if deficient.isEmpty():
        return kept
    refill = plain(base.join(F.broadcast(deficient), domain_col, "semi"))
    return (
        kept.join(
            F.broadcast(deficient.withColumnRenamed(domain_col, "domain")),
            "domain",
            "anti",
        )
        .select("doc_id", "domain", "draw_rank")
        .unionByName(refill)
    )


def mixture_materialize_sql(
    table: str,
    domain_expr: str,
    text_expr: str,
    id_expr: str,
    sample_n: int = 10_000,
) -> str:
    """DuckDB mirror: the quota CTE plus one per-domain row_number over
    the same (hash, id) draw order."""
    from hogflare_spark.functions.hashing import h60_sql

    quotas = domain_mixture_sql(table, domain_expr, text_expr, sample_n)
    hash_expr = h60_sql(f"'{MIX_SALT}' || CAST({id_expr} AS VARCHAR)")
    return f"""
    WITH q AS ({quotas}),
    ranked AS (
      SELECT d.{id_expr} AS doc_id, d.{domain_expr} AS domain, q.quota,
             row_number() OVER (
               PARTITION BY d.{domain_expr}
               ORDER BY {hash_expr.replace(id_expr, 'd.' + id_expr)}, d.{id_expr}
             ) AS _rk
      FROM {table} d JOIN q ON q.domain = d.{domain_expr}
    )
    SELECT doc_id, domain, CAST(_rk AS INT) AS draw_rank
    FROM ranked WHERE _rk <= quota
    """


SHUFFLE_SALT = "global-shuffle:"


def global_shuffle(
    df: DataFrame, id_col: str, n_shards: int = 64
) -> DataFrame:
    """Deterministic global training-order shuffle: (doc_id, shard, pos).

    Every training run starts by shuffling the corpus into shards whose
    within-shard order is random but REPRODUCIBLE — what tf.data /
    webdataset-style loaders consume. shard = h60(salt || id) %
    n_shards is a content-derived uniform assignment (same device as
    hash_split, so it is stable under corpus growth and engine choice);
    pos is the rank within the shard by (h60(salt2 || id), id) — a
    second independent hash order with the id tiebreak, so ordering is
    total and engine-independent.

    Scale shape: one projection computes both hashes; the only shuffle
    is the hash-partition by shard for the per-shard rank window — each
    reducer sorts ~|corpus|/n_shards rows, so n_shards sized to the
    cluster keeps the sort partition-local and bounded. No driver
    traffic, no global sort: the (shard, pos) pair IS the shuffled
    order, consumed shard-by-shard exactly as a loader reads it."""
    shard = (
        h60(F.concat(F.lit(SHUFFLE_SALT), F.col(id_col).cast("string")))
        % n_shards
    ).cast("int")
    order = h60(
        F.concat(F.lit(SHUFFLE_SALT + "pos:"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy("shard").orderBy("_ord", id_col)
    return (
        df.select(
            F.col(id_col).alias("doc_id"), shard.alias("shard"), order.alias("_ord")
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


def global_shuffle_sql(
    table: str, id_expr: str, n_shards: int = 64
) -> str:
    """DuckDB mirror of global_shuffle."""
    from hogflare_spark.functions.hashing import h60_sql

    shard_hash = h60_sql(f"'{SHUFFLE_SALT}' || CAST({id_expr} AS VARCHAR)")
    shard = f"({shard_hash} % {n_shards})"
    ordh = h60_sql(f"'{SHUFFLE_SALT}pos:' || CAST({id_expr} AS VARCHAR)")
    return f"""
    SELECT {id_expr} AS doc_id, CAST({shard} AS INT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY {shard} ORDER BY {ordh}, {id_expr}
           ) AS BIGINT) AS pos
    FROM {table}
    """


INTERLEAVE_SALT = "mixture-interleave:"


def mixture_interleave(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    weights: dict[str, int],
) -> DataFrame:
    """Weighted round-robin training order across domains:
    (doc_id, domain, okey) where sorting by (okey, domain, doc_id)
    yields a stream that interleaves domains proportionally to their
    integer weights — the standard "mixture schedule" consumed after
    quotas are materialized (llm_mixture_materialize picks WHAT to
    train on; this orders it).

    okey = within-domain draw rank r (1-based, by the deterministic
    (h60, id) order) divided by the domain's weight: a weight-2w domain
    emits two docs for every one of a weight-w domain at any prefix of
    the stream — the classic deficit-round-robin key. The divide is ONE
    int/int IEEE operation per row (exactly rounded), so okey is
    engine-independent; ties break on (domain, doc_id).

    Scale shape: one per-domain rank window (hash-partition by domain —
    the same skew note as every per-domain window: a mega-domain sorts
    on one reducer, and the documented relaxation is pre-bucketing a
    mega domain by hash range) + one projection. The global order is
    carried as a KEY, not materialized as a global sort — consumers
    range-partition on okey to read the stream in order."""
    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in (kv[0], int(kv[1]))]
    )
    order = h60(
        F.concat(F.lit(INTERLEAVE_SALT), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy("domain").orderBy("_ord", "doc_id")
    ranked = (
        df.where(F.col(domain_col).isin(list(weights)))
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(domain_col).alias("domain"),
            order.alias("_ord"),
        )
        .withColumn("_rk", F.row_number().over(w).cast("long"))
    )
    okey = F.col("_rk").cast("double") / wmap[F.col("domain")].cast("double")
    # floor-based round9, the repo's cross-engine rounding convention
    # (F.round's HALF_UP BigDecimal path vs DuckDB round() could differ
    # at half-ulp boundaries)
    okey9 = F.floor(okey * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)
    return ranked.select("doc_id", "domain", okey9.alias("okey"))


def mixture_interleave_sql(
    table: str,
    id_expr: str,
    domain_expr: str,
    weights: dict[str, int],
) -> str:
    """DuckDB mirror of mixture_interleave."""
    from hogflare_spark.functions.hashing import h60_sql

    ordh = h60_sql(f"'{INTERLEAVE_SALT}' || CAST({id_expr} AS VARCHAR)")
    domains = ", ".join(f"'{d}'" for d in weights)
    wcase = " ".join(
        f"WHEN '{d}' THEN {int(v)}" for d, v in weights.items()
    )
    return f"""
    WITH ranked AS (
      SELECT {id_expr} AS doc_id, {domain_expr} AS domain,
             row_number() OVER (
               PARTITION BY {domain_expr} ORDER BY {ordh}, {id_expr}
             ) AS _rk
      FROM {table} WHERE {domain_expr} IN ({domains})
    )
    SELECT doc_id, domain,
           floor(_rk::DOUBLE / (CASE domain {wcase} END)::DOUBLE
                 * 1000000000 + 0.5) / 1000000000 AS okey
    FROM ranked
    """


WEIGHTED_SALT = "weighted-sample:"
WEIGHT_CAP = 128


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    weight_cap: int = WEIGHT_CAP,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: keep the n
    rows with the highest priority, where row i's inclusion odds are
    proportional to its integer weight — quality-weighted corpus
    selection (sample more from high-quality strata without hard
    cutoffs) with a reproducible, engine-independent kept set.

    This is Efraimidis-Spirakis A-ES with the transcendental removed:
    A-ES keeps the top-n by u_i^(1/w_i), whose CDF is x^w — the SAME
    law as the maximum of w independent uniforms. So the priority here
    is max_{j=1..w} h60(salt||id||'#'||j): pure integer hashing, no
    libm pow/ln whose last-ulp engine differences would flip hash
    gates at per-row evaluation counts (the risk retrieval.py's idf
    note quantifies — tolerable at O(|query|) evaluations, not at
    O(corpus)). Weights are clamped to [0, weight_cap]; w = 0 rows are
    excluded; ties (astronomically unlikely 60-bit collisions) break
    by id.

    Spark shape: a map-only O(w)-per-row projection (transform over a
    sequence literal — JVM-side, no Python), then ONE global top-n via
    orderBy+limit, which Catalyst executes as TakeOrderedAndProject —
    per-partition heaps of n rows, no full sort, no full shuffle.
    """
    w = F.least(
        F.greatest(F.col(weight_col).cast("long"), F.lit(0)),
        F.lit(int(weight_cap)),
    )
    pri = F.array_max(
        F.transform(
            F.sequence(F.lit(1), w),
            lambda j: h60(
                F.concat(
                    F.lit(WEIGHTED_SALT),
                    F.col(id_col).cast("string"),
                    F.lit("#"),
                    j.cast("string"),
                )
            ),
        )
    )
    return (
        df.withColumn("_w", w)
        .where(F.col("_w") > 0)
        .withColumn("priority", pri)
        .orderBy(F.desc("priority"), F.col(id_col))
        .limit(n)
        .drop("_w")
    )


def weighted_sample_sql(
    table: str,
    id_expr: str,
    weight_expr: str,
    n: int,
    weight_cap: int = WEIGHT_CAP,
) -> str:
    """DuckDB mirror: same clamped weight, same max-of-w-hashes
    priority, same (priority DESC, id) cut. The clamped weight is
    computed ONCE in an inner subquery and referenced as `_w` by both
    the series bound and the filter, so an expensive (or side-effecting)
    `weight_expr` is evaluated a single time and the two uses can never
    drift apart under future edits."""
    from hogflare_spark.functions.hashing import h60_sql

    h = h60_sql(
        f"'{WEIGHTED_SALT}' || CAST({id_expr} AS VARCHAR) || '#' "
        f"|| CAST(j AS VARCHAR)"
    )
    return f"""
    SELECT * EXCLUDE (_w) FROM (
      SELECT *,
             list_max(list_transform(
               generate_series(1, _w),
               j -> {h})) AS priority
      FROM (
        SELECT *,
               LEAST(GREATEST(CAST({weight_expr} AS BIGINT), 0), {weight_cap}) AS _w
        FROM {table}
      )
    ) WHERE _w > 0
    ORDER BY priority DESC, {id_expr} LIMIT {n}
    """


def next_event_examples(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
    history: int = 5,
    label_filter: str | None = None,
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Supervised training examples from behavioral sequences: for each
    event, (context = the up-to-`history` previous event types of the
    same user, label = the current event type) — the example-construction
    step of next-action prediction / behavioral-cloning datasets, and
    the sequence twin of pack_sequences (which packs TOKEN streams; this
    windows EVENT streams).

    Spark shape: ONE window per user ordered by (ts, tiebreak) with a
    bounded ROWS frame (-history .. -1) collecting the context — a
    single shuffle on user_id, the same partitioning sessionization
    uses, so at 100 TB this co-schedules with every other per-user
    pass. The bounded frame keeps window state O(history) per row (an
    unbounded collect would buffer whole users). Context transports as
    a space-joined string, not an array: the example is consumed as
    text anyway and the string form is bit-stable across engines.

    Rows with an empty context (a user's first event) are dropped —
    they carry no signal. `label_filter` optionally restricts examples
    to one predicted event type (e.g. 'purchase'); the filter applies
    AFTER context construction, so preceding events of other types
    still appear in contexts.
    """
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, order_tiebreak)
        .rowsBetween(-int(history), -1)
    )
    # NULL event names are dropped BEFORE windowing (they carry no
    # signal as label or context, and Spark's collect_list silently
    # skips NULLs while DuckDB's list() keeps them — filtering first
    # makes the two frames see identical sequences).
    events = events.where(F.col(event_col).isNotNull())
    out = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.array_join(F.collect_list(F.col(event_col)).over(w), " ").alias(
            "context"
        ),
        F.col(event_col).alias("label"),
    ).where(F.length("context") > 0)
    if label_filter is not None:
        out = out.where(F.col("label") == label_filter)
    return out


def next_event_examples_sql(
    table: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
    history: int = 5,
    label_filter: str | None = None,
    order_tiebreak: str = "event_id",
) -> str:
    """DuckDB mirror: same bounded frame, same tiebreak, same string
    transport, same empty-context drop."""
    label_pred = (
        f"AND label = '{label_filter}'" if label_filter is not None else ""
    )
    return f"""
    SELECT * FROM (
      SELECT {user_col} AS user_id, {ts_col} AS ts,
             array_to_string(list({event_col}) OVER (
               PARTITION BY {user_col} ORDER BY {ts_col}, {order_tiebreak}
               ROWS BETWEEN {int(history)} PRECEDING AND 1 PRECEDING), ' ')
               AS context,
             {event_col} AS label
      FROM {table} WHERE {event_col} IS NOT NULL
    ) WHERE len(context) > 0 {label_pred}
    """

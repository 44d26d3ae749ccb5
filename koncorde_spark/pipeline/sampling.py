"""Dataset assembly operators: deterministic splits and test-set
decontamination — the last-mile ops of a training-data pipeline.

Scale design (100 TB):
- deterministic_split: one md5 per row (JVM-side), no shuffle, no state —
  the split assignment is a pure function of (seed, id), so it is stable
  across reruns, re-partitions, and engine versions, and any row's split
  can be recomputed independently (auditable lineage).
- contamination_pairs: the eval set is small by construction, so its
  distinct shingles broadcast; the train side is filtered to colliding
  shingles BEFORE any aggregation — the big table is touched by one scan
  + one broadcast semi-join-shaped probe, never an all-pairs join.

Both have DuckDB twins sharing every constant and hash formula.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _shingles_from_hashes, _shingles_sql, _token_hashes_spark
from .text import tokens_col, tokens_sql

SPLIT_BUCKETS = 1_000_000  # split granularity: 1e-6 weight resolution


def _split_bucket_expr(id_col: str, seed: str):
    """Deterministic bucket in [0, SPLIT_BUCKETS) from md5(seed:id) —
    60-bit prefix, same derivation in the SQL twin."""
    key = F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    return F.pmod(h, F.lit(SPLIT_BUCKETS))


def deterministic_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: str = "koncorde",
) -> DataFrame:
    """Assign every row a stable split label (e.g. train/val/test).

    ``weights`` maps label → fraction (must sum to ≤ 1; any remainder
    falls into the LAST label). Assignment is a pure function of
    (seed, id): rerunning, repartitioning, or growing the table never
    reassigns an existing row."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    bucket = _split_bucket_expr(id_col, seed)
    labels = list(weights)
    cum = 0.0
    expr = None
    for label in labels[:-1]:
        cum += weights[label]
        cond = bucket < int(round(cum * SPLIT_BUCKETS))
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    expr = F.lit(labels[-1]) if expr is None else expr.otherwise(F.lit(labels[-1]))
    return df.withColumn("split", expr)


def deterministic_split_sql(
    table: str,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: str = "koncorde",
) -> str:
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    labels = list(weights)
    bucket = (
        f"(('0x' || substr(md5('{seed}:' || CAST({id_col} AS VARCHAR)), 1, 15))"
        f"::BIGINT % {SPLIT_BUCKETS})"
    )
    case = "CASE "
    cum = 0.0
    for label in labels[:-1]:
        cum += weights[label]
        case += f"WHEN {bucket} < {int(round(cum * SPLIT_BUCKETS))} THEN '{label}' "
    case += f"ELSE '{labels[-1]}' END"
    return f"SELECT *, {case} AS split FROM {table}"


def contamination_pairs(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    train_id: str = "doc_id",
    test_id: str = "doc_id",
    shingle_k: int = 3,
    min_overlap_frac: float = 0.5,
) -> DataFrame:
    """Test-set decontamination: (test_id, train_id, overlap, overlap_frac)
    for train docs sharing ≥ ``min_overlap_frac`` of a test doc's distinct
    token k-gram shingles (the standard n-gram contamination check run
    before training).

    The test side (small) is broadcast; the train scan keeps only
    shingles colliding with the test vocabulary before any aggregation,
    so the cost is one pass over the corpus + tiny joins. Shingle ids are
    the same per-token-md5 Horner fold as MinHash (bit-identical in the
    DuckDB twin)."""

    def shingled(df: DataFrame, id_col: str, out_id: str):
        return (
            df.select(F.col(id_col).alias(out_id), tokens_col(text_col).alias("__t"))
            .select(F.col(out_id), _token_hashes_spark("__t").alias("__th"))
            .select(
                F.col(out_id),
                F.explode(
                    F.array_distinct(_shingles_from_hashes("__th", shingle_k))
                ).alias("s"),
            )
        )

    te = shingled(test, test_id, "__test_id").persist()
    te_sizes = te.groupBy("__test_id").agg(F.count("*").alias("__n_test"))
    tr = shingled(train, train_id, "__train_id")
    overlaps = (
        tr.join(F.broadcast(te), "s")
        .groupBy("__test_id", "__train_id")
        .agg(F.count("*").alias("overlap"))
        .join(F.broadcast(te_sizes), "__test_id")
        .select(
            F.col("__test_id").alias("test_id"),
            F.col("__train_id").alias("train_id"),
            F.col("overlap"),
            (F.col("overlap") / F.col("__n_test")).alias("overlap_frac"),
        )
        .where(F.col("overlap_frac") >= min_overlap_frac)
    )
    return overlaps


def contamination_pairs_sql(
    train_table: str,
    test_table: str,
    text_col: str = "text",
    train_id: str = "doc_id",
    test_id: str = "doc_id",
    shingle_k: int = 3,
    min_overlap_frac: float = 0.5,
) -> str:
    """DuckDB twin of contamination_pairs (same shingle formula; the
    overlap fraction is an exact int/int double division — no rounding
    needed for cross-engine hashing)."""
    sh = _shingles_sql(text_col, shingle_k, distinct=True)
    return f"""
    WITH te AS (
      SELECT {test_id} AS test_id, unnest({sh}) AS s FROM {test_table}
    ),
    te_sizes AS (SELECT test_id, count(*) AS n_test FROM te GROUP BY test_id),
    tr AS (
      SELECT {train_id} AS train_id, unnest({sh}) AS s FROM {train_table}
    ),
    ov AS (
      SELECT te.test_id, tr.train_id, count(*) AS overlap
      FROM tr JOIN te USING (s)
      GROUP BY te.test_id, tr.train_id
    )
    SELECT ov.test_id, ov.train_id, ov.overlap,
           ov.overlap / te_sizes.n_test AS overlap_frac
    FROM ov JOIN te_sizes USING (test_id)
    WHERE ov.overlap / te_sizes.n_test >= {min_overlap_frac!r}
    """


# ---------------------------------------------------------------------------
# sequence packing (token-budget bins for training batches)
# ---------------------------------------------------------------------------


PACK_PARTITIONS_DEFAULT = 32


def pack_sequences(
    df: DataFrame,
    capacity: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_partitions: int | None = PACK_PARTITIONS_DEFAULT,
    seed: str = "pack",
) -> DataFrame:
    """Assign each document to a token-budget pack: (id, n_tokens, pack_id,
    pack_offset) — the greedy fill-in-order packing used to build fixed-
    length training batches, made deterministic and shuffle-bounded.

    DEFAULT (``n_partitions`` set): documents are bucketed by a
    deterministic md5 of (seed, id) and packed independently per bucket —
    the window is PARTITIONED, so the sort and running sum stay
    partition-local and no single task ever holds the whole table (the
    unpartitioned form makes Spark move ALL rows to one partition —
    WindowExec "No Partition Defined"). pack_id = local_pack * n_partitions
    + bucket stays globally unique and is still a pure function of the
    data, so reruns and repartitions never reassign a row. Raise
    ``n_partitions`` with corpus size (keep tokens-per-bucket in task
    memory).

    ``n_partitions=None``: the single-sequence reference semantics —
    pack_id = floor(prev_cumsum / capacity) over ONE global
    (n_tokens desc, id asc) order. Correct but serializes on one task;
    reserved for small data and the oracle twin.

    Documents are never split; a pack may overflow ``capacity`` by at most
    (its last doc's n_tokens - 1) — the standard no-splitting tradeoff,
    and the desc ordering keeps the overflow small per bucket (large docs
    lead, the tail packs densely).
    """
    from .text import tokens_col

    toks = df.select(F.col(id_col), F.size(tokens_col(text_col)).alias("n_tokens"))
    if n_partitions is None:
        w = Window.orderBy(F.desc("n_tokens"), F.asc(id_col)).rowsBetween(
            Window.unboundedPreceding, -1
        )
        prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        return toks.select(
            id_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.floor(prev / capacity).cast("long").alias("pack_id"),
            F.pmod(prev, F.lit(capacity)).cast("long").alias("pack_offset"),
        )
    # same md5 bucket derivation as deterministic_split (60-bit prefix) —
    # exactly reproducible in the DuckDB twin
    key = F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    toks = toks.withColumn("__bucket", F.pmod(h, F.lit(n_partitions)))
    w = (
        Window.partitionBy("__bucket")
        .orderBy(F.desc("n_tokens"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return toks.select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.floor(prev / capacity) * n_partitions + F.col("__bucket"))
        .cast("long")
        .alias("pack_id"),
        F.pmod(prev, F.lit(capacity)).cast("long").alias("pack_offset"),
    )


def pack_sequences_sql(
    table: str,
    capacity: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_partitions: int | None = PACK_PARTITIONS_DEFAULT,
    seed: str = "pack",
) -> str:
    """DuckDB twin of pack_sequences (same tokenizer rule, same md5 bucket,
    same window — partitioned by default, global when n_partitions=None)."""
    from .text import tokens_sql

    t = tokens_sql(text_col)
    if n_partitions is None:
        return f"""
        WITH toks AS (
          SELECT {id_col}, len({t})::BIGINT AS n_tokens FROM {table}
        ),
        cum AS (
          SELECT {id_col}, n_tokens,
                 coalesce(sum(n_tokens) OVER (
                   ORDER BY n_tokens DESC, {id_col} ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS prev
          FROM toks
        )
        SELECT {id_col}, n_tokens,
               (prev // {capacity})::BIGINT AS pack_id,
               (prev % {capacity})::BIGINT AS pack_offset
        FROM cum
        """
    bucket = (
        f"(('0x' || substr(md5('{seed}:' || CAST({id_col} AS VARCHAR)), 1, 15))"
        f"::BIGINT % {n_partitions})"
    )
    return f"""
    WITH toks AS (
      SELECT {id_col}, len({t})::BIGINT AS n_tokens, {bucket} AS bucket
      FROM {table}
    ),
    cum AS (
      SELECT {id_col}, n_tokens, bucket,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY bucket
               ORDER BY n_tokens DESC, {id_col} ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS prev
      FROM toks
    )
    SELECT {id_col}, n_tokens,
           ((prev // {capacity}) * {n_partitions} + bucket)::BIGINT AS pack_id,
           (prev % {capacity})::BIGINT AS pack_offset
    FROM cum
    """


# ---------------------------------------------------------------------------
# per-source frequency capping + stratified sampling (corpus composition
# controls: cap boilerplate-heavy domains, rebalance strata — the knobs a
# web-crawl training mix is tuned with)
# ---------------------------------------------------------------------------


def cap_per_source(
    df: DataFrame,
    cap: int = 100,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "cap",
) -> DataFrame:
    """Deterministic per-source frequency cap: (id, source, source_rank,
    kept). Each source keeps its ``cap`` lowest-ranked documents, where
    rank order is md5(seed:id) (ties by id) — a pure function of the
    data, so reruns and repartitions never swap which rows survive, and
    growing a source only ever evicts by the same fixed order.

    Scale shape: ONE partitioned window (partition = source). Source
    cardinality is huge on a crawl (domains), so partitions stay small;
    a single pathological mega-source serializes only its own partition
    — at that point pre-filter it explicitly rather than raising cap."""
    key = F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    w = Window.partitionBy(source_col).orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    return (
        df.select(F.col(id_col), F.col(source_col), h.alias("__h"))
        .withColumn("source_rank", F.row_number().over(w).cast("long"))
        .select(
            id_col,
            source_col,
            "source_rank",
            (F.col("source_rank") <= cap).alias("kept"),
        )
    )


def cap_per_source_sql(
    table: str,
    cap: int = 100,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "cap",
) -> str:
    """DuckDB twin of cap_per_source (same md5 rank key, same tie order)."""
    h = (
        f"(('0x' || substr(md5('{seed}:' || CAST({id_col} AS VARCHAR)), 1, 15))"
        f"::BIGINT)"
    )
    return f"""
    SELECT {id_col}, {source_col},
           row_number() OVER (
             PARTITION BY {source_col} ORDER BY {h} ASC, {id_col} ASC
           )::BIGINT AS source_rank,
           (row_number() OVER (
             PARTITION BY {source_col} ORDER BY {h} ASC, {id_col} ASC
           ) <= {cap}) AS kept
    FROM {table}
    """


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    seed: str = "strat",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sampling: keep each row of stratum ``v``
    with probability ``rates[v]`` (``default_rate`` for unlisted strata,
    including NULL), decided by the same md5(seed:id) bucket as
    deterministic_split — a pure function of (seed, id), so samples are
    stable under reruns/repartitions/appends and strata can be re-weighted
    without reshuffling rows already kept at a lower rate (monotone
    thresholds on one bucket). Zero shuffle: scan → filter."""
    bucket = _split_bucket_expr(id_col, seed)
    expr = None
    for v, r in rates.items():
        cond = F.col(stratum_col) == F.lit(v)
        keep = bucket < int(round(r * SPLIT_BUCKETS))
        expr = F.when(cond, keep) if expr is None else expr.when(cond, keep)
    default_keep = bucket < int(round(default_rate * SPLIT_BUCKETS))
    expr = default_keep if expr is None else expr.otherwise(default_keep)
    return df.where(expr)


def stratified_sample_sql(
    table: str,
    rates: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    seed: str = "strat",
    default_rate: float = 0.0,
) -> str:
    """DuckDB twin of stratified_sample (same bucket, same thresholds;
    CASE falls through to the default branch for NULL strata exactly like
    Spark's when/otherwise)."""
    bucket = (
        f"(('0x' || substr(md5('{seed}:' || CAST({id_col} AS VARCHAR)), 1, 15))"
        f"::BIGINT % {SPLIT_BUCKETS})"
    )
    case = "CASE "
    for v, r in rates.items():
        case += (
            f"WHEN {stratum_col} = '{v}' "
            f"THEN {bucket} < {int(round(r * SPLIT_BUCKETS))} "
        )
    case += f"ELSE {bucket} < {int(round(default_rate * SPLIT_BUCKETS))} END"
    return f"SELECT * FROM {table} WHERE {case}"


def mix_by_token_budget(
    df: DataFrame,
    budgets: dict[str, int],
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Deterministic data mixing: give each source a TOKEN budget and
    keep its md5-ordered prefix of documents whose cumulative token
    count stays within it (inclusive cumsum <= budget — never
    overshoots). Sources absent from ``budgets`` are dropped: the output
    is exactly the declared mixture. Returns (id, source, n_tokens,
    cum_tokens, kept) for auditability; downstream filters on ``kept``.

    The order is md5(seed:id) with id tie-break — a pure function of the
    data, so RERUNS and repartitions always keep the same rows. Corpus
    GROWTH is different from cap_per_source: the kept bit depends on the
    cumulative tokens of every earlier-ranked row, so a new doc that
    ranks before the budget cut pushes later boundary docs out — budgets
    select a token PREFIX, not a stable per-row property (re-derive the
    mixture per corpus snapshot). Scale shape: one partitioned window
    per source (exact global cumsum is order-defined — same trade as the
    reference form of sequence packing); per-source partitions are the
    honest cost of an exact budget, and a pathological mega-source
    serializes only its own partition."""
    if not budgets:
        raise ValueError("budgets must be non-empty")
    key = F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    budget_map = F.create_map(
        *[x for s, b in sorted(budgets.items()) for x in (F.lit(s), F.lit(int(b)))]
    )
    w = (
        Window.partitionBy(source_col)
        .orderBy(F.col("__h").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(
            F.col(id_col),
            F.col(source_col),
            F.size(tokens_col(text_col)).cast("long").alias("n_tokens"),
            h.alias("__h"),
        )
        .where(F.col(source_col).isin(list(budgets)))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .select(
            id_col,
            source_col,
            "n_tokens",
            "cum_tokens",
            (F.col("cum_tokens") <= budget_map[F.col(source_col)]).alias("kept"),
        )
    )


def mix_by_token_budget_sql(
    table: str,
    budgets: dict[str, int],
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "mix",
) -> str:
    """DuckDB twin of :func:`mix_by_token_budget`."""

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = ", ".join(
        f"({q(s)}, {int(b)})" for s, b in sorted(budgets.items())
    )
    srcs = ", ".join(q(s) for s in sorted(budgets))
    seed = seed.replace("'", "''")
    return f"""
    WITH b(src, budget) AS (VALUES {vals}),
    d AS (
      SELECT {id_col}, {source_col},
             len({tokens_sql(text_col)})::BIGINT AS n_tokens,
             (('0x' || substr(md5('{seed}:' || CAST({id_col} AS VARCHAR)), 1, 15))::BIGINT) AS h
      FROM {table}
      WHERE {source_col} IN ({srcs})
    ),
    c AS (
      SELECT {id_col}, {source_col}, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY {source_col}
               ORDER BY h ASC, {id_col} ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             )::BIGINT AS cum_tokens
      FROM d
    )
    SELECT {id_col}, {source_col}, n_tokens, cum_tokens,
           (cum_tokens <= b.budget) AS kept
    FROM c JOIN b ON b.src = c.{source_col}
    """

"""Deterministic sampling operators for training-data curation.

Two samplers, both reproducible bit-for-bit across engines (the keep/rank
decision is a pure function of the row key via Spark's xxhash64, whose
pure-Python twin lives in `cypher_guard_spark.oracle`):

- `stratified_sample`: Bernoulli-by-hash with a per-stratum rate — the
  map-only workhorse for "keep 100% of long docs, 12.5% of short ones"
  rebalancing. NO shuffle at any scale: the keep predicate is evaluated at
  the scan, so at 100 TB this is a single pass that prunes rows before
  anything wide happens downstream.
- `balanced_sample`: EXACTLY k rows per stratum, chosen by hash order
  (i.e. a uniform random draw that every engine reproduces). Per-stratum
  top-k is the classic skew trap — a window over 5 strata sorts 20 TB per
  stratum on one task — so it runs as a salted two-phase top-k: local
  top-k per (stratum, salt) then top-k of the ≤ n_salts*k survivors.
  Exact by the pigeonhole argument: the global k smallest hash values
  within a stratum each survive their own salt's local top-k.

Neither sampler uses `rand()` (non-reproducible across retries — a
re-executed lost task would sample differently, corrupting exactly-once
semantics at scale). Hash-of-key sampling is the standard trick for
re-runnable pipelines (same guarantee `TABLESAMPLE ... REPEATABLE`
aims for, but stable under task retry and engine-portable).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import adjacent_pairs, tokens

SAMPLE_DENOM = 1 << 20  # power of two: per-stratum rates are exact


def _hash_keep(key_col: str, threshold):
    """pmod(xxhash64(key), SAMPLE_DENOM) < threshold: a reproducible
    Bernoulli keep at rate threshold / SAMPLE_DENOM."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(SAMPLE_DENOM)) < threshold


def _salted_top_k(
    df: DataFrame,
    group: str,
    salt,
    order: list,
    k: int,
    rank_col: str,
) -> DataFrame:
    """The first `k` rows of each `group` under the total `order` plus
    their 1-based `rank_col`: local top-k per (group, `salt` Column),
    then top-k of the survivors per group (see `balanced_sample`)."""
    w1 = Window.partitionBy(group, "_salt").orderBy(*order)
    survivors = (
        df.withColumn("_salt", salt)
        .withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy(group).orderBy(*order)
    return survivors.withColumn(rank_col, F.row_number().over(w2)).where(
        F.col(rank_col) <= k
    )


def _exclusive_sum(col: str, w):
    """Sum of `col` over the rows before this one in window `w` (0 first)."""
    frame = w.rowsBetween(Window.unboundedPreceding, -1)
    return F.coalesce(F.sum(col).over(frame), F.lit(0))


def length_bucket(
    text_col: str = "text", bucket_tokens: int = 16, n_buckets: int = 4
):
    """Token-length stratum: floor(n_tokens / bucket_tokens), clamped to
    n_buckets-1. A standard curation axis (short docs are low-signal)."""
    return (
        F.least(
            F.floor(F.size(tokens(F.col(text_col))) / bucket_tokens),
            F.lit(n_buckets - 1),
        )
        .cast("int")
    )


def stratified_sample(
    df: DataFrame,
    stratum,
    fractions: dict,
    default_fraction: float = 0.0,
    key_col: str = "doc_id",
) -> DataFrame:
    """Rows of `df` + `stratum`, kept iff
    pmod(xxhash64(key), DENOM) < round(fraction[stratum] * DENOM).

    The threshold map is computed on the DRIVER in exact integer space and
    enters the plan as literals — no float multiply inside the engine, so
    the oracle twin cannot drift on rounding. Map-only; Catalyst pushes
    the stratum expression and the predicate into the scan's codegen stage.
    """
    thresholds = [
        x
        for s, f in fractions.items()
        for x in (F.lit(s), F.lit(int(round(f * SAMPLE_DENOM))))
    ]
    thr = F.coalesce(
        F.create_map(*thresholds)[F.col("stratum")],
        F.lit(int(round(default_fraction * SAMPLE_DENOM))),
    )
    return df.withColumn("stratum", stratum).where(_hash_keep(key_col, thr))


def balanced_sample(
    df: DataFrame,
    stratum,
    k: int,
    key_col: str = "doc_id",
    n_salts: int = 16,
) -> DataFrame:
    """Exactly k rows per stratum (fewer iff the stratum is smaller),
    drawn by xxhash64 order — a reproducible uniform draw. Output adds
    `stratum` and `rnk` (1-based position in the stratum's hash order).

    Two-phase: phase 1 takes the local top-k within (stratum, salt) —
    n_salts parallel sorts per stratum instead of one giant one — and
    phase 2 ranks the ≤ n_salts*k survivors per stratum (tiny). The salt
    is pmod(key, n_salts): salt quality only affects balance, never
    correctness, so the cheapest deterministic spreader wins. Ties in the
    hash order are broken by the key itself, making `rnk` total and the
    result set unique.
    """
    return _salted_top_k(
        df.withColumn("stratum", stratum),
        "stratum",
        F.pmod(F.col(key_col), F.lit(n_salts)),
        [F.xxhash64(F.col(key_col)).asc(), F.col(key_col).asc()],
        k,
        "rnk",
    )


def token_budget_mixture(
    df: DataFrame,
    weights: dict,
    total_tokens: int,
    text_col: str = "text",
    key_col: str = "doc_id",
    source_col: str = "source",
    n_buckets: int = 64,
) -> DataFrame:
    """(doc_id, source, n_tokens, tok_cum) — the Pile/Llama-style mixture
    step: given per-source target weights and a total token budget, keep
    the deterministic document subset that fills each source's quota
    (`floor(weight * total_tokens)` tokens, computed on the driver in
    exact integer space and baked in as literals).

    Within a source, documents are drawn in xxhash64(key) order (a
    reproducible uniform shuffle — same determinism contract as
    `stratified_sample`/`balanced_sample`: re-runnable under task retry,
    engine-portable via the pure-Python xxhash64 twin); a doc survives
    iff the EXCLUSIVE prefix-sum of tokens before it, `tok_cum`, is still
    under the quota — so the quota-crossing doc is included and every
    source overshoots by at most one document (the standard fill rule).
    Sources without a weight get quota 0 and are dropped.

    Scale posture — the naive shape (one window per source) sorts an
    entire source on ONE task, the same trap `balanced_sample` documents;
    at 10^12 docs a 30%-weight source is ~0.3 of the corpus. Instead the
    prefix-sum is two-level: an arithmetic `shiftright(h, 64 - log2
    n_buckets)` maps the signed hash order onto `n_buckets` CONTIGUOUS
    ranges, sharding each source; a window per (source, bucket)
    computes local exclusive sums (each task sorts one bucket), the
    per-bucket totals (sources x n_buckets rows — tiny) get their own
    offsets via a driver-scale window, and a broadcast join adds the
    bucket offset back: tok_cum = bucket_offset + local_cum. One corpus
    exchange (the repartition implied by the (source, bucket) window) +
    one broadcast — `n_buckets` is the dial exactly like
    `pack_sequences.n_shards`. The final filter is a map-only predicate,
    so downstream consumers see a pruned scan. `n_buckets` must be a
    power of two >= 2: at 1 the shift would be 64, a no-op in Spark."""
    if n_buckets < 2 or n_buckets & (n_buckets - 1):
        raise ValueError(
            f"n_buckets must be a power of two >= 2, got {n_buckets!r}"
        )
    shift = 64 - (n_buckets.bit_length() - 1)
    quotas = [
        x
        for s, w in weights.items()
        for x in (F.lit(s), F.lit(int(math.floor(w * total_tokens))))
    ]
    quota = F.coalesce(
        F.create_map(*quotas)[F.col(source_col)].cast("long"), F.lit(0).cast("long")
    )
    h = F.xxhash64(F.col(key_col))
    base = df.select(
        F.col(key_col),
        F.col(source_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
        h.alias("_h"),
        # arithmetic shift: contiguous blocks of the SIGNED hash order
        F.shiftright(h, shift).alias("_b"),
    )
    w_local = Window.partitionBy(source_col, "_b").orderBy(
        F.col("_h").asc(), F.col(key_col).asc()
    )
    # the windowed output is referenced twice (row side of the final join
    # + the bucket-totals aggregate); without a checkpoint, column pruning
    # strips the unused window column from the offsets branch and the
    # optimizer re-expands it into a SECOND corpus scan + tokenize. The
    # lazy localCheckpoint materializes the post-shuffle rows once — ids
    # and ints only, never text — and Spark preserves the checkpointed
    # plan's outputPartitioning, so the bucket-totals groupBy on
    # (source, _b) plans WITHOUT an exchange on top of it
    # (plan-locked by test_token_budget_mixture_single_corpus_pass).
    local = base.withColumn(
        "_local_cum", _exclusive_sum("n_tokens", w_local)
    ).localCheckpoint(eager=False)
    offsets = (
        local.groupBy(source_col, "_b")
        .agg(F.sum("n_tokens").alias("_bt"))
        .withColumn(
            "_off",
            _exclusive_sum("_bt", Window.partitionBy(source_col).orderBy("_b")),
        )
        .select(source_col, "_b", "_off")
    )
    return (
        local.join(F.broadcast(offsets), [source_col, "_b"])
        .select(
            key_col,
            source_col,
            "n_tokens",
            (F.col("_off") + F.col("_local_cum")).cast("long").alias("tok_cum"),
        )
        .where(F.col("tok_cum") < quota)
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 256,
    n_shards: int = 8,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, shard, seq_id, n_tokens, tok_offset) — deterministic
    sequence packing for pretraining: documents are concatenated in
    doc_id order within a hash-assigned shard, and each document lands in
    training sequence `seq_id` at token offset `tok_offset`, where
    sequences hold `budget` tokens (the standard concat-then-chunk packing
    — a document crossing a boundary spills into the next sequence, which
    is exactly what chunked pretraining tokenization does).

    Everything is a pure function of the row keys: shard =
    pmod(xxhash64(doc_id), n_shards) (re-runnable under task retry,
    engine-portable via the pure-Python xxhash64 twin), seq_id/offset from
    an exclusive prefix-sum window within the shard. One shuffle (hash
    repartition to shards) + one per-shard ordered window — the window
    sorts ONE SHARD per task, so n_shards is the scale dial (at 10^12
    docs pick n_shards ~ corpus_tokens / (10^8) to keep each sort
    executor-sized; packing quality is unaffected by the shard count).
    """
    nt = F.size(tokens(F.col(text_col)))
    base = df.select(
        F.col(key_col),
        nt.alias("n_tokens"),
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int").alias("shard"),
    )
    cum_excl = _exclusive_sum(
        "n_tokens", Window.partitionBy("shard").orderBy(key_col)
    )
    return base.select(
        key_col,
        "shard",
        F.floor(cum_excl / budget).cast("long").alias("seq_id"),
        "n_tokens",
        F.pmod(cum_excl, F.lit(budget)).cast("long").alias("tok_offset"),
    )


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    seed: int = 0,
    key_col: str = "doc_id",
) -> DataFrame:
    """All input columns + (shard, pos): a deterministic seeded GLOBAL
    SHUFFLE for training-data export — the "randomize document order and
    cut into fixed shards" step every pretraining pipeline runs last.

    shard = pmod(xxhash64(key, seed), n_shards); pos = dense 0-based rank
    within the shard by (xxhash64(key, seed), key) — i.e. reading shards
    in pos order replays one uniform seeded permutation of the corpus.
    No `rand()` anywhere: the permutation is a pure function of (key,
    seed), so lost-task retries reproduce it exactly and a different
    `seed` yields an independent epoch order.

    100-TB posture: ONE exchange (hash by shard) + one per-shard sort —
    identical shape to `pack_sequences`; n_shards is the scale dial (pick
    corpus_bytes / ~1 GB so each sort stays task-sized). The window's sort
    key is (hash, key), so hub-free by construction (hashes are uniform).
    """
    h = F.xxhash64(F.col(key_col), F.lit(int(seed)))
    base = df.withColumn(
        "shard", F.pmod(h, F.lit(n_shards)).cast("int")
    ).withColumn("__h", h)
    w = Window.partitionBy("shard").orderBy(F.col("__h"), F.col(key_col))
    return base.withColumn(
        "pos", (F.row_number().over(w) - 1).cast("long")
    ).drop("__h")


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    seed: int = 0,
    key_col: str = "doc_id",
) -> None:
    """Materialize `shuffle_shards` as an at-rest shard-partitioned
    parquet table (`shard=K/` directories, rows in pos order within each
    file): the final export a trainer's data loader reads sequentially.
    The window already hashes rows to their shard and emits them sorted
    by pos, so partitionBy adds NO extra exchange — each window task
    writes whole shards."""
    sharded = shuffle_shards(df, n_shards, seed=seed, key_col=key_col)
    sharded.write.mode("overwrite").partitionBy("shard").parquet(path)


def weighted_sample(
    df: DataFrame,
    weight,
    key_col: str = "doc_id",
) -> DataFrame:
    """Rows kept with probability = `weight` (a Column in [0,1] — e.g. a
    quality score), decided by pmod(xxhash64(key), 2^20) < round(w * 2^20):
    continuous importance sampling (DCLM/quality-weighted style), the
    generalization of `stratified_sample` from per-stratum rates to a
    per-ROW rate. Deterministic, retry-safe, map-only — the keep
    predicate evaluates at the scan, so at 100 TB this prunes before
    anything wide. Output adds the integer `keep_threshold` actually
    used, so the decision is auditable and the oracle exact (the
    threshold is integer arithmetic; no float comparison at the cut)."""
    thr = F.round(weight * SAMPLE_DENOM).cast("long")
    return df.withColumn("keep_threshold", thr).where(
        _hash_keep(key_col, F.col("keep_threshold"))
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 256,
    stride: int = 192,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, chunk_id, start_tok, n_tokens, chunk_text) — sliding
    token-window chunking: document `doc_id` is split into windows of
    `chunk_tokens` tokens starting every `stride` tokens (overlap =
    chunk_tokens - stride), the context-window splitting step that both
    RAG ingestion and long-document pretraining run before packing.
    The final window may be shorter (it covers the tail); a document
    shorter than one window emits exactly one chunk, so no text is ever
    dropped and every doc_id survives into the chunk table.

    MAP-ONLY with ZERO exchanges: tokenize -> per-row sequence of chunk
    indices -> explode -> slice/rejoin, all JVM built-ins riding the
    first scan. Row amplification is ~n_tokens/stride per doc — the
    explode happens after any pushed filters, and downstream shuffles
    see chunk-sized rows, never whole documents. Chunk boundaries are a
    pure function of the token array, so retried tasks reproduce them
    bit-for-bit and the DuckDB oracle is exact.
    """
    if not (1 <= stride <= chunk_tokens):
        raise ValueError("need 1 <= stride <= chunk_tokens")
    toks = tokens(F.col(text_col))
    base = df.select(F.col(key_col), toks.alias("_toks"))
    n = F.size(F.col("_toks"))
    # n <= chunk -> 1 window; else 1 + ceil((n - chunk)/stride) windows
    n_chunks = (
        F.when(n <= chunk_tokens, F.lit(1))
        .otherwise(
            F.floor((n - chunk_tokens + (stride - 1)) / stride).cast("int") + 1
        )
        .cast("int")
    )
    exploded = base.select(
        key_col,
        "_toks",
        n.alias("_n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * stride
    return exploded.select(
        key_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        start.cast("int").alias("start_tok"),
        F.least(F.lit(chunk_tokens), F.col("_n") - start)
        .cast("int")
        .alias("n_tokens"),
        F.array_join(F.slice(F.col("_toks"), start + 1, chunk_tokens), " ").alias(
            "chunk_text"
        ),
    )


def _hashed_gram_buckets(
    df: DataFrame, text_col: str, buckets: int
) -> DataFrame:
    """(doc_id, bucket) — one row per word unigram AND bigram occurrence,
    hashed into `buckets` via the engine-portable md5-prefix bucket
    (conv(substr(md5(g),1,15),16,10) % B — DuckDB computes the identical
    value as CAST('0x'||substr(md5(g),1,15) AS BIGINT) % B). Map-only:
    tokenize, build the gram array, explode, hash — no shuffle here."""
    t = tokens(F.col(text_col))
    bi = adjacent_pairs(t, lambda a, b: F.concat_ws(" ", a, b), "array<string>")
    grams = F.concat(t, bi)
    return df.select("doc_id", F.explode(grams).alias("__g")).select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("__g"), 1, 15), 16, 10).cast("long")
            % F.lit(buckets)
        ).alias("bucket"),
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    buckets: int = 4096,
) -> DataFrame:
    """(doc_id, n_feats, t_hits, r_hits, lift) — hashed n-gram importance
    weights for data selection (DSIR — Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score each
    raw document by how target-like its hashed unigram+bigram feature
    profile is, where `target` is a small exemplar corpus (the domain you
    want more of) and `raw` is the crawl you are selecting from.
    Downstream selection is `weighted_sample(weight=F.col("lift"))` or a
    top-k — resampling by these weights shifts the raw corpus toward the
    target distribution, the DSIR recipe.

    Scoring (exact-arithmetic variant): DSIR's per-doc log-likelihood
    ratio sum Σ_b cnt_b·log(p_t(b)/q_r(b)) is an FP fold whose result is
    partition-order-dependent and transcendental (libm log differs in the
    last ULP across engines) — unusable as a bit-stable oracle contract.
    This operator publishes the cleared-denominator RATIO-OF-MEANS
    instead (the module's PMI-lift/bigram-cohesion precedent):

        lift = ((t_hits + n_feats) · (r_total + B))
             / ((r_hits + n_feats) · (t_total + B))

    where t_hits = Σ_b cnt_b·tcnt_b and r_hits = Σ_b cnt_b·rcnt_b are
    EXACT integer sums (doc feature counts weighted by the corpus bucket
    counts), n_feats adds Laplace add-1 smoothing in both numerator and
    denominator, and the totals normalize the two corpora. One pair of
    correctly-rounded IEEE multiplies + one division + one 6dp rounding:
    bit-identical in any engine at any partitioning. lift > 1 ⇔ the doc's
    features are on average more frequent in the target than in the raw
    corpus; log(lift) is a monotone client-side rescale, so top-k
    selection is unchanged vs publishing the log.

    Scale posture: feature extraction is map-only explode+hash; the only
    corpus-sized exchange is the (doc_id, bucket) partial agg. Both
    distribution tables are ≤ B rows (B = `buckets` caps model state — the
    entire point of hashed features in DSIR) and broadcast to the per-doc
    join; totals ride a 1-row crossJoin. Nothing all-pairs, no Python.
    At extreme corpus sizes (Σ cnt_b·rcnt_b approaching 2^63) swap the two
    hit sums to double partial aggs and accept FP-assocativity wobble in
    the 6th decimal, or shrink B — documented tradeoff, same knob family
    as kmeans_centroids(train_fraction=)."""
    feats = (
        _hashed_gram_buckets(raw, text_col, buckets)
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    # raw distribution DERIVED from the per-doc features, not a second
    # tokenize+hash pass over the corpus: the (doc_id, bucket) exchange is
    # shared (ReuseExchange), so the raw corpus is scanned/hashed once and
    # rstats is one extra partial agg over it (measured ~2× on the bench)
    rstats = feats.groupBy("bucket").agg(F.sum("cnt").alias("rcnt"))
    tstats = (
        _hashed_gram_buckets(target, text_col, buckets)
        .groupBy("bucket")
        .agg(F.count("*").alias("tcnt"))
    )
    totals = (
        rstats.agg(F.sum("rcnt").cast("long").alias("r_total"))
        .crossJoin(tstats.agg(F.sum("tcnt").cast("long").alias("t_total")))
    )
    agg = (
        feats.join(F.broadcast(tstats), "bucket", "left")
        .join(F.broadcast(rstats), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_feats"),
            F.sum(F.col("cnt") * F.coalesce("tcnt", F.lit(0)))
            .cast("long")
            .alias("t_hits"),
            F.sum(F.col("cnt") * F.coalesce("rcnt", F.lit(0)))
            .cast("long")
            .alias("r_hits"),
        )
    )
    num = (F.col("t_hits") + F.col("n_feats")).cast("double") * (
        F.col("r_total") + F.lit(buckets)
    ).cast("double")
    den = (F.col("r_hits") + F.col("n_feats")).cast("double") * (
        F.col("t_total") + F.lit(buckets)
    ).cast("double")
    return agg.crossJoin(F.broadcast(totals)).select(
        "doc_id",
        "n_feats",
        "t_hits",
        "r_hits",
        F.round(num / den, 6).alias("lift"),
    )


def source_cap(
    docs: DataFrame,
    cap: int = 100,
    score_col: str | None = "n_chars",
    salt: int = 16,
) -> DataFrame:
    """(doc_id, source, keep_rank) — per-source saturation cap, the
    RefinedWeb / C4-family anti-domination guard: keep at most `cap`
    documents per source, preferring higher `score_col` (quality proxy)
    then smaller doc_id, so one crawled domain cannot own the training
    mixture no matter how many pages it contributed.

    Two-phase top-cap, the skew-safe shape: phase 1 ranks within
    (source, salt-bucket) and keeps `cap` per bucket, phase 2 ranks the
    ≤ salt·cap survivors per source. The output is IDENTICAL to a single
    per-source window — any row in the global top-cap also ranks ≤ cap
    inside its own bucket, so phase 1 never discards a winner — but the
    per-source window only ever sees salt·cap rows, even when one domain
    owns half the corpus; the unsalted single window would drag every
    row of the hub source through one task. (Same candidate-pruning move
    as the LSH band join; the DuckDB twin runs the single-window form,
    so the oracle gate doubles as the two-phase == one-phase equality
    proof.) Determinism: total order (score DESC, doc_id ASC); ties in
    the score resolve by id, so the kept set is a pure function of the
    table."""
    order = ([F.desc(score_col)] if score_col else []) + [F.asc("doc_id")]
    return _salted_top_k(
        docs,
        "source",
        F.pmod(F.xxhash64("doc_id"), F.lit(salt)),
        order,
        cap,
        "keep_rank",
    ).select("doc_id", "source", F.col("keep_rank").cast("long").alias("keep_rank"))

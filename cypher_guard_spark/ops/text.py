"""Text analysis operators over a document corpus.

All hot paths are built-in pyspark.sql.functions (JVM, whole-stage
codegen); the one Python operator is `compression_ratios`, an
Arrow-batched mapInPandas UDF (DEFLATE has no Catalyst expression). Each
operator has a matching ANSI-SQL oracle in __spark_entry__.oracle_sql().
The text building blocks (digest, bound token array, word n-grams,
quality, language, adjacent pairs, ranks) are written here once each.
"""

from __future__ import annotations

import functools
import re
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..oracle import spark_xxhash64

# Tiny per-language function-word lists for the n-gram/stopword language-ID
# heuristic. The heuristic IS the operator contract (the corpus's `lang`
# column is a synthetic label, not a property of the text).
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un"],
    "es": ["el", "la", "los", "y", "es", "un"],
}


def _norm(col):
    return F.lower(F.trim(col))


def tokens(col):
    """Whitespace tokenization of normalized text."""
    return F.split(_norm(col), r"\s+")


def py_tokens(text: str) -> list[str]:
    """Serial twin of `tokens` (`split(lower(trim(text)), '\\s+')`).
    Pinned to the SAME character classes as the Java regex: Java `\\s` is
    ASCII-only ([ \\t\\n\\x0b\\f\\r]) and Spark `trim` strips 0x20 only —
    so this uses `re.ASCII` and `.strip(' ')`, not Unicode-whitespace
    semantics. Residual engine-vs-twin divergence is confined to
    locale-special lowercasings (e.g. 'İ'); the synthetic corpus is ASCII,
    and non-ASCII corpora share every other code path."""
    return re.split(r"\s+", text.strip(" ").lower(), flags=re.ASCII)


def norm_digest(text_col: str):
    """md5 of the normalized text: the exact-duplicate key."""
    return F.md5(_norm(F.col(text_col)))


def _bound_tokens(text_col: str, body: str) -> str:
    """SQL for `body` over `ws`, the token array of `text_col` bound ONCE
    by the single-element-array lambda trick: a direct split would be
    inlined by CollapseProject into every element access."""
    return (
        f"transform(array(split(lower(trim({text_col})), '\\\\s+')), ws -> "
        f"{body})[0]"
    )


def _shingles_sql(text_col: str, n: int) -> str:
    """SQL for the word n-grams of `text_col`, in order. `arr[i]` is
    0-based and the loop 1-based (as in the DuckDB oracle), hence
    `i - 1 + k`; sequence(1, 0) counts DOWN, so the CASE guard gives
    sub-n-token docs an empty array."""
    concat = " || ' ' || ".join(f"ws[i - 1 + {k}]" for k in range(n))
    return _bound_tokens(
        text_col,
        f"CASE WHEN size(ws) < {n} THEN array() "
        f"ELSE transform(sequence(1, size(ws) - {n - 1}), i -> {concat}) END",
    )


def word_shingles(text_col: str, n: int = 3):
    """Array of n-word shingles of the normalized text (JVM transform).

    Tokenizer parity: Java regex `\\s` is ASCII-only, as is DuckDB/RE2's —
    and the pure-Python oracles pin `re.ASCII` to match (`py_tokens`).
    Residual divergence is limited to locale-special lowercasings outside
    ASCII."""
    return F.expr(_shingles_sql(text_col, n))


def _quality(text_col: str):
    """(toks, n_tokens, punct_ratio, quality) Columns of the quality
    heuristic, quality = least(n_tokens/32, 1) · (1 − punct_ratio)."""
    t = _norm(F.col(text_col))
    toks = F.split(t, r"\s+")
    n_tokens = F.size(toks)
    n_chars = F.length(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    quality = F.round(
        F.least(n_tokens / F.lit(32.0), F.lit(1.0)) * (F.lit(1.0) - punct_ratio), 6
    )
    return toks, n_tokens, punct_ratio, quality


def _dup_token_ratio(toks, n_tokens):
    """Fraction of tokens that repeat an earlier token, 6dp."""
    return F.round(
        F.lit(1.0) - F.size(F.array_distinct(toks)) / F.greatest(n_tokens, F.lit(1)), 6
    )


def _lang_pred(text_col: str):
    """The stopword language classifier as ONE bound-lambda expression:
    the distinct-token array would otherwise be inlined by
    CollapseProject into every per-language hit count."""

    def hit(lang):
        arr = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        return f"size(array_intersect(ts, array({arr})))"

    best = f"greatest({', '.join(hit(lang) for lang in LANG_STOPWORDS)})"
    case = f"CASE WHEN {best} <= 0 THEN 'und' " + " ".join(
        f"WHEN {hit(lang)} = {best} THEN '{lang}'" for lang in sorted(LANG_STOPWORDS)
    ) + " END"
    return F.expr(
        f"transform(array(array_distinct(split(lower(trim({text_col})), '\\\\s+'))), "
        f"ts -> {case})[0]"
    )


def adjacent_pairs(t, pair, empty_type: str):
    """Array of `pair(t[i], t[i + 1])` over array Column `t`; an empty
    `empty_type` array below two elements (sequence(0, -1) counts DOWN)."""
    sz = F.size(t)
    return F.when(
        sz >= 2,
        F.transform(
            F.sequence(F.lit(0), sz - 2),
            lambda i: pair(F.get(t, i), F.get(t, i + 1)),
        ),
    ).otherwise(F.array().cast(empty_type))


def _group_ranked(df: DataFrame, group: str, order: list) -> DataFrame:
    """`df` + __r, the 1-based rank within `group` under the total
    `order`, and __n, the group's size (sorts one group per task)."""
    w = Window.partitionBy(group).orderBy(*order)
    return df.withColumn("__r", F.row_number().over(w)).withColumn(
        "__n", F.count("*").over(Window.partitionBy(group))
    )


def _ranked_top_k(df: DataFrame, order: list, k: int, rank_col: str) -> DataFrame:
    """The first `k` rows of `df` under the total `order` plus their
    1-based `rank_col`. orderBy().limit(k) is TakeOrderedAndProject
    (per-task partial top-k), so the window ranks k rows only."""
    return (
        df.orderBy(*order)
        .limit(k)
        .withColumn(rank_col, F.row_number().over(Window.orderBy(*order)))
    )


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_chars_norm)."""
    return df.select(
        "doc_id",
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
        F.length(_norm(F.col(text_col))).alias("n_chars_norm"),
    )


def bpe_ish_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_subword) — BPE-ish proxy: alnum runs + punctuation marks
    each count as a token (regexp-only, JVM-side)."""
    pieces = F.regexp_extract_all(_norm(F.col(text_col)), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0)
    return df.select("doc_id", F.size(pieces).alias("n_subword"))


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, punct_ratio, stopword_ratio, quality) — simple
    length/punctuation/stopword quality heuristic, ratios rounded to 6dp
    for cross-engine comparability."""
    toks, n_tokens, punct_ratio, quality = _quality(text_col)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(LANG_STOPWORDS["en"])))
    stop_ratio = F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6)
    return df.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


def quality_floor(
    df: DataFrame,
    q: float = 0.2,
    text_col: str = "text",
    source_col: str = "source",
    exact: bool = False,
) -> DataFrame:
    """(doc_id, source, quality) — survivors after dropping each source's
    worst q-fraction by the `quality_scores` heuristic: the per-source
    ADAPTIVE floor (a global threshold over-prunes clean sources and
    under-prunes noisy ones — the standard curation refinement).

    ``exact=True`` (oracle mode) pins a discrete rule: within a source of
    n docs, rank docs by (quality, doc_id) ascending and drop ranks
    1..floor(q*n) — integer arithmetic, engine-portable, but the
    per-source rank window SORTS ONE SOURCE PER TASK (the balanced_sample
    skew hazard). The DEFAULT mode computes each source's
    `approx_percentile(quality, q)` threshold — one partial-agg sketch
    shuffle — and keeps quality >= threshold via a broadcast join of the
    tiny per-source threshold table: no per-source sort anywhere, the
    10^12-doc plan; boundary docs within the sketch's error band may
    differ from the exact rule (same fast-vs-exact contract as
    `length_quantiles`)."""
    # quality as a Column so the operator stays single-scan — joining
    # quality_scores back on doc_id would be a corpus-vs-corpus exchange
    quality = _quality(text_col)[3]
    base = df.select(
        "doc_id", F.col(source_col).alias("source"), quality.alias("quality")
    )
    if exact:
        return (
            _group_ranked(base, "source", ["quality", "doc_id"])
            .where(F.col("__r") > F.floor(F.lit(q) * F.col("__n")))
            .select("doc_id", "source", "quality")
        )
    thr = base.groupBy("source").agg(
        F.percentile_approx("quality", q).alias("__thr")
    )
    return (
        base.join(F.broadcast(thr), "source")
        .where(F.col("quality") >= F.col("__thr"))
        .select("doc_id", "source", "quality")
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, lang_pred) — argmax of per-language stopword hits; ties and
    zero-hit docs resolve to 'und' (deterministic); see `_lang_pred`."""
    return df.select("doc_id", _lang_pred(text_col).alias("lang_pred"))


def fingerprints(df: DataFrame, text_col: str = "text", prefix_tokens: int = 8) -> DataFrame:
    """(doc_id, fingerprint) — md5 of the first N normalized tokens; a
    cheap, engine-portable document fingerprint."""
    toks = tokens(F.col(text_col))
    head = F.array_join(F.slice(toks, 1, prefix_tokens), " ")
    return df.select("doc_id", F.md5(head).alias("fingerprint"))


def top_ngrams(
    df: DataFrame, text_col: str = "text", n: int = 2, k: int = 20
) -> DataFrame:
    """(ngram, n_docs, n_occurrences) — the corpus's k most frequent word
    n-grams (boilerplate detection: headers/footers that repeat across a
    crawl surface as high-doc-count n-grams). Ties broken by ngram text so
    the top-k is total and engine-portable.

    Scale posture: explode → partial-aggregating groupBy (map-side combine
    collapses each task's n-grams before the single shuffle on the ngram
    key) → global top-k via one final ordered take. The shuffle carries
    (ngram, partial counts), never documents. Hot n-grams are exactly the
    point (they ARE the boilerplate), and a count aggregation is
    skew-immune: partials combine associatively, no single reduce task
    sees raw rows.
    """
    per_doc = df.select(
        "doc_id", F.explode(word_shingles(text_col, n)).alias("ngram")
    )
    return (
        per_doc.groupBy("ngram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram"))
        .limit(k)
    )


def repetition_scores(df: DataFrame, text_col: str = "text", n: int = 2) -> DataFrame:
    """(doc_id, n_tokens, dup_token_ratio, top_ngram_ratio) — Gopher-style
    repetitiousness signals for quality filtering: the fraction of tokens
    that are repeats of an earlier token, and the fraction of word n-grams
    taken by the single most frequent n-gram (machine-generated and
    boilerplate text scores high on both).

    Map-only, zero shuffle: the most-frequent-n-gram count is computed
    per-row as the longest run in the SORTED n-gram array via one
    sequential fold — O(L log L) JVM work per doc, nothing leaves the
    task. (The explode→groupBy alternative would shuffle every n-gram of
    a 100-TB corpus to compute a per-doc statistic.) The token and n-gram
    arrays are each bound once with the single-element-array lambda trick
    so CollapseProject cannot inline the regex split into every
    consumer."""
    top_ratio = F.expr(
        f"transform(array(array_sort({_shingles_sql(text_col, n)})), gs -> "
        "round(aggregate(gs, "
        "named_struct('prev', cast(null as string), 'run', 0, 'best', 0), "
        "(acc, x) -> named_struct('prev', x, "
        "'run', IF(x <=> acc.prev, acc.run + 1, 1), "
        "'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1, 1))), "
        "acc -> acc.best) / greatest(size(gs), 1), 6))[0]"
    )
    toks = tokens(F.col(text_col))
    n_tokens = F.size(toks)
    return df.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        _dup_token_ratio(toks, n_tokens).alias("dup_token_ratio"),
        top_ratio.alias("top_ngram_ratio"),
    )


def source_mix(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(source, lang, n_docs, n_unique, avg_chars, dup_ratio) — corpus
    composition report by provenance cell: how much each (source, lang)
    slice contributes and how internally duplicated it is (exact-dup rate
    via distinct normalized-text digests). The first table a curation run
    looks at when deciding mixture weights.

    One partial-aggregating shuffle on the low-cardinality (source, lang)
    key; the digest distinct-count is a partial agg too (Spark rewrites
    countDistinct into a two-stage expand+agg — partials combine, no raw
    rows cross). avg_chars divides two exactly-summed integers, so the
    double is engine-portable without ordering caveats."""
    base = df.select(
        "source",
        "lang",
        F.length(_norm(F.col(text_col))).alias("nc"),
        norm_digest(text_col).alias("digest"),
    )
    return (
        base.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("digest").alias("n_unique"),
            F.round(F.sum("nc") / F.count("*"), 6).alias("avg_chars"),
        )
        .select(
            "source",
            "lang",
            "n_docs",
            "n_unique",
            "avg_chars",
            F.round(
                F.lit(1.0) - F.col("n_unique") / F.col("n_docs"), 6
            ).alias("dup_ratio"),
        )
    )


# Conservative, RE2-and-Java-identical patterns (no backrefs, no lookaround,
# ASCII classes only) so the DuckDB oracle matches byte-for-byte.
PII_PATTERNS = {
    "n_emails": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+",
    "n_urls": r"https?://[^\s]+",
    "n_long_digit_runs": r"[0-9]{6,}",
}


def pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_emails, n_urls, n_long_digit_runs, has_pii) — per-doc
    counts of conservative PII-shaped patterns (the redaction pre-scan of
    a training-data pipeline: route has_pii docs to scrubbing). Map-only,
    pure JVM regex; the patterns are restricted to the RE2 ∩ Java-regex
    common subset so the oracle is exact."""
    t = _norm(F.col(text_col))
    cols = [
        F.size(F.regexp_extract_all(t, F.lit(pat), 0)).alias(name)
        for name, pat in PII_PATTERNS.items()
    ]
    out = df.select("doc_id", *cols)
    flag = None
    for name in PII_PATTERNS:
        c = F.col(name) > 0
        flag = c if flag is None else (flag | c)
    return out.withColumn("has_pii", flag.cast("int"))


def doc_token_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, token, tf) — one row per DISTINCT token per document with
    its in-document count. The shared front half of every corpus-statistics
    scorer (TF-IDF, rarity): duplicates collapse INSIDE the row (the tf
    count is a row-local array fold), so what leaves the map stage is one
    row per distinct (doc, token) — the explode→groupBy(doc_id, token)
    alternative would shuffle every token occurrence of a 100-TB corpus to
    compute a per-row statistic.

    The token array is bound once via the single-element-array lambda
    trick (CollapseProject would otherwise inline the regex split into
    the distinct AND every filter-count — O(tokens²) regex work per row).
    Per-token counting is O(distinct × tokens) JVM comparisons per row,
    fine at document lengths; row-local, nothing leaves the task."""
    pairs = F.expr(
        _bound_tokens(
            text_col,
            "transform(array_distinct(ws), t -> "
            "named_struct('token', t, 'tf', size(filter(ws, x -> x = t))))",
        )
    )
    return df.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.token", "p.tf"
    )


def _token_doc_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """(token, doc_id, tf, doc_freq): `doc_token_freqs` joined to each
    token's corpus document frequency."""
    per = doc_token_freqs(df, text_col)
    dfreq = per.groupBy("token").agg(F.count("*").alias("doc_freq"))
    return per.join(dfreq, "token")


def tfidf_keywords(
    df: DataFrame, text_col: str = "text", k: int = 5
) -> DataFrame:
    """(doc_id, token, tf, doc_freq, score, rnk) — each document's top-k
    keywords by TF-IDF. The idf is the BM25 rational form WITHOUT the log:
    ``score = tf * (N - df + 0.5) / (df + 0.5)`` — monotone in the same
    (tf↑, df↓) direction as ln-idf, but built only from IEEE-exact ops
    (+, -, ×, ÷ are correctly rounded; ln is not), so the 6dp-rounded
    double is bit-identical across Spark/DuckDB/Python and the oracle is
    exact. Swapping in ln((N-df+0.5)/(df+0.5)) is a one-line change where
    cross-engine hashing isn't a contract. Ties (equal tf and df) break
    by token text, so the top-k is total.

    Scale posture: doc-frequency is one partial-aggregating shuffle on the
    token key over the distinct-(doc,token) rows (counts combine map-side;
    a hot token is skew-immune — partials are associative). The score join
    re-shuffles the same rows on token (the df table is vocab-sized — a
    web-scale vocabulary is NOT broadcastable, so the equi-join is the
    honest plan; AQE broadcasts it whenever a filtered vocab fits), and
    the per-doc top-k window is one shuffle on doc_id carrying only
    (doc_id, token, tf, df) — never text. N is a driver scalar from a
    count(*) over parquet metadata, baked into the plan as a literal."""
    n_docs = df.count()
    score = F.round(
        F.col("tf")
        * (F.lit(float(n_docs)) - F.col("doc_freq") + F.lit(0.5))
        / (F.col("doc_freq") + F.lit(0.5)),
        6,
    )
    scored = _token_doc_freqs(df, text_col).select(
        "doc_id", "token", "tf", "doc_freq", score.alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= k
    )


def rarity_scores(
    df: DataFrame, text_col: str = "text", rare_max_df: int = 2
) -> DataFrame:
    """(doc_id, n_tokens, n_rare, rare_ratio, avg_doc_freq) — corpus-
    grounded rarity signals per document: the fraction of token
    OCCURRENCES whose corpus document-frequency is ≤ `rare_max_df`
    (gibberish / OCR noise / code-ish text scores high) and the
    tf-weighted mean document frequency (boilerplate scores high). This
    is the cheap exact-arithmetic proxy for CCNet's LM-perplexity bucket
    (the KenLM scorer is a drop-in replacement at the same join point:
    per-token corpus statistics joined back to the document); integer
    sums + one correctly-rounded division keep the oracle exact where a
    log-probability would not be.

    Scale posture: same two shuffles as tfidf_keywords (vocab partial
    agg on token, score join on token), then one groupBy(doc_id)
    re-aggregation of integer partials — every shuffle carries
    (doc_id, token, tf)-shaped rows, never text."""
    return (
        _token_doc_freqs(df, text_col)
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(
                F.when(F.col("doc_freq") <= rare_max_df, F.col("tf")).otherwise(
                    F.lit(0)
                )
            ).alias("n_rare"),
            F.sum(F.col("tf") * F.col("doc_freq")).alias("wsum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_rare",
            F.round(
                F.col("n_rare") / F.greatest(F.col("n_tokens"), F.lit(1)), 6
            ).alias("rare_ratio"),
            F.round(
                F.col("wsum") / F.greatest(F.col("n_tokens"), F.lit(1)), 6
            ).alias("avg_doc_freq"),
        )
    )


def length_quantiles(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    qs: tuple = (0.25, 0.5, 0.9, 0.99),
    exact: bool = False,
) -> DataFrame:
    """(source, q, n_tokens_q) — per-group token-length quantiles, the
    sequence-length-budgeting view a curation run reads before choosing
    pack_sequences' budget and truncation policy.

    Two modes, same contract as pagerank's exact/fast pair:
    - ``exact=True`` (the oracle gate): DISCRETE quantile pinned to one
      explicit rule — the value at row_number ``floor(q*(n-1)) + 1`` of
      the group's ascending (n_tokens, doc_id) order. Integer in, integer
      out, no interpolation, so the SQL oracle reproduces it exactly.
      Costs one full sort shuffle per group (window over the group) —
      correct but sort-heavy at corpus scale.
    - ``exact=False`` (default, the at-scale mode): ``approx_percentile``
      with a fixed accuracy — one partial-aggregating shuffle, no sort,
      the plan that survives 10^12 rows; answers within the sketch's
      rank-error bound of the exact mode (locked by test), not
      bit-identical.
    """
    toks = F.size(tokens(F.col(text_col)))
    base = df.select(F.col(group_col).alias("source"), toks.alias("n_tokens"), "doc_id")
    if not exact:
        agg = base.groupBy("source").agg(
            F.percentile_approx(
                "n_tokens", F.array(*[F.lit(q) for q in qs]), 10_000
            ).alias("vals")
        )
        pairs = F.arrays_zip(
            F.array(*[F.lit(q) for q in qs]).alias("q"), F.col("vals").alias("v")
        )
        return agg.select(
            "source", F.explode(pairs).alias("p")
        ).select(
            "source",
            F.col("p.q").alias("q"),
            F.col("p.v").cast("long").alias("n_tokens_q"),
        )

    ranked = _group_ranked(
        base, "source", [F.col("n_tokens").asc(), F.col("doc_id").asc()]
    )
    picks = None
    for q in qs:
        p = ranked.where(
            F.col("__r") == F.floor(F.lit(q) * (F.col("__n") - 1)) + 1
        ).select(
            "source", F.lit(float(q)).alias("q"), F.col("n_tokens").alias("n_tokens_q")
        )
        picks = p if picks is None else picks.unionByName(p)
    return picks


def write_inverted_index(
    df: DataFrame, path: str, text_col: str = "text", n_buckets: int = 64
) -> None:
    """Materialize a token inverted index AT REST: postings rows
    (token, doc_id, tf) written ``partitionBy("bucket")`` with
    ``bucket = pmod(xxhash64(token), n_buckets)`` under
    ``{path}/postings`` — the text-side sibling of
    similarity.write_ivf_index. A term lookup then reads ONLY the query
    terms' bucket directories (PartitionFilters, locked by
    tests/test_plans.py), not the corpus: the layout that makes
    "which documents contain these benchmark/PII/keyword terms" an
    O(postings-of-terms) query instead of a corpus scan.

    One write-side shuffle (`repartition("bucket")`) so each bucket's
    postings land in one task's output — without it every task writes a
    file into every bucket directory (n_tasks × n_buckets small files;
    the same reasoning as the IVF writer). `n_buckets` is the
    table-lifetime scale dial: size it so one bucket ≈ one DFS block at
    the target corpus. Token-frequency skew ('the') concentrates
    postings WITHIN a bucket but never concentrates the write (hash
    buckets) nor the lookup (a hot token is read, summed by partial agg,
    never re-shuffled raw)."""
    per = doc_token_freqs(df, text_col)
    postings = per.withColumn(
        "bucket", F.pmod(F.xxhash64("token"), F.lit(n_buckets))
    )
    postings.repartition("bucket").write.partitionBy("bucket").mode(
        "overwrite"
    ).parquet(f"{path}/postings")


def search_inverted_index(
    spark,
    path: str,
    terms: list[str],
    k: int = 10,
    n_buckets: int = 64,
) -> DataFrame:
    """(doc_id, n_terms_matched, total_tf, rnk) — top-k documents
    matching ANY of `terms` against a `write_inverted_index` layout,
    ranked by (distinct terms matched, total term frequency), ties by
    doc_id so the top-k is total.

    The terms' buckets are computed DRIVER-SIDE with the pure-Python
    xxhash64 twin (cypher_guard_spark.oracle — bit-parity with Spark's
    locked by test), so the bucket set is a literal isin predicate on
    the partition column and the scan prunes at planning time; the token
    filter then prunes within the bucket via parquet row-group stats.
    The only shuffle is a partial-aggregating groupBy(doc_id) over the
    matched postings — O(postings of the query terms), corpus-size-
    independent."""
    buckets = sorted({spark_xxhash64(t) % n_buckets for t in terms})
    post = spark.read.parquet(f"{path}/postings").where(
        F.col("bucket").isin(buckets) & F.col("token").isin(list(terms))
    )
    scored = post.groupBy("doc_id").agg(
        F.countDistinct("token").alias("n_terms_matched"),
        F.sum("tf").alias("total_tf"),
    )
    order = [
        F.col("n_terms_matched").desc(),
        F.col("total_tf").desc(),
        F.col("doc_id").asc(),
    ]
    return _ranked_top_k(scored, order, k, "rnk")


def curation_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, quality, dup_token_ratio, lang_pred) — every
    per-document curation signal in ONE projection over ONE scan: the
    composed recipe (corpus_curated) filters on these columns directly,
    so a 100-TB corpus is read once, not once per signal. Each expression
    is the bit-identical twin of its standalone operator (quality_scores,
    repetition_scores, language_id) — the standalone forms exist for
    per-signal reporting; this one exists for filtering."""
    toks, n_tokens, _punct_ratio, quality = _quality(text_col)
    return df.select(
        "doc_id",
        F.col(text_col),
        n_tokens.alias("n_tokens"),
        quality.alias("quality"),
        _dup_token_ratio(toks, n_tokens).alias("dup_token_ratio"),
        _lang_pred(text_col).alias("lang_pred"),
    )


def corpus_cardinality(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    exact: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """(source, n_docs, n_tokens, n_unique_texts, n_unique_tokens) — the
    cardinality profile a curation run reads first: how big is each
    source, how much of it is literal repeats, how rich is its vocabulary.

    The DEFAULT is the sketch mode (``exact=False``): both distinct
    counts run as `approx_count_distinct` — HyperLogLog++ sketches that
    COMBINE MAP-SIDE, so each of the two aggregations (doc-grain and
    token-grain) is a single partial-agg shuffle of fixed-size sketch
    rows per (source); at 10^12 docs the exact token distinct would
    shuffle the full (source, token) universe while the sketch ships
    ~1.5 KB per group-slot. ``rsd`` is the standard-error dial. The exact
    mode exists for the oracle gate and small corpora; same plan shape,
    but `countDistinct` pays the per-key dedup exchange.

    `n_unique_texts` counts distinct md5 digests of the normalized text
    (digest-only shuffle — never full payloads, mirroring exact dedup).
    """
    cd = (
        (lambda c, n: F.countDistinct(c).alias(n))
        if exact
        else (lambda c, n: F.approx_count_distinct(c, rsd).alias(n))
    )
    base = df.select(
        F.col(source_col).alias("source"),
        norm_digest(text_col).alias("digest"),
        tokens(F.col(text_col)).alias("toks"),
    )
    docs = base.groupBy("source").agg(
        F.count("*").alias("n_docs"), cd(F.col("digest"), "n_unique_texts")
    )
    toks = (
        base.select("source", F.explode("toks").alias("token"))
        .groupBy("source")
        .agg(F.count("*").alias("n_tokens"), cd(F.col("token"), "n_unique_tokens"))
    )
    return docs.join(toks, "source").select(
        "source", "n_docs", "n_tokens", "n_unique_texts", "n_unique_tokens"
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    window: int = 5,
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """(tok_a, tok_b, n_pairs, lift) — the top-k within-window token
    collocations of the corpus, scored by lift = N * c(a,b) / (c(a)*c(b))
    (the log-free monotone core of PMI, kept rational so the doubles are
    engine-exact like tfidf's idf). The standard template/boilerplate and
    multi-word-expression miner.

    Scale posture: pair generation is MAP-ONLY — a nested
    sequence/transform emits every unordered token pair within `window`
    positions straight from the token array (O(n_tokens * window) rows,
    no self-join, no shuffle until the count), then ONE partial-agg
    shuffle on the (a, b) pair key, a `min_count` filter BEFORE the
    unigram joins cuts the long tail, the two unigram-count joins are
    vocabulary-sized (AQE broadcasts them at any realistic vocab), the
    token total enters as a broadcast 1-row cross join (never a driver
    collect), and the final top-k is TakeOrderedAndProject with a total
    (n_pairs desc, tok_a, tok_b) order — deterministic output set.
    """
    # the token array MUST be materialized as a column before the nested
    # transform: HOF lambdas block common-subexpression elimination, so
    # referencing the split() expression directly re-tokenizes the string
    # on EVERY F.get element access (measured 51s -> 4.6s at sf0.1 for
    # the same 1.28M pairs when projected first)
    base = df.select(tokens(F.col(text_col)).alias("__toks"))
    t = F.col("__toks")
    sz = F.size(t)
    pair_arr = F.when(
        sz >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), sz - 2),
                lambda i: F.transform(
                    F.sequence(i + 1, F.least(i + window, sz - 1)),
                    lambda j: F.struct(
                        F.least(F.get(t, i), F.get(t, j)).alias("a"),
                        F.greatest(F.get(t, i), F.get(t, j)).alias("b"),
                    ),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    pairs = base.select(F.explode(pair_arr).alias("p")).select("p.a", "p.b")
    pc = (
        pairs.groupBy("a", "b")
        .agg(F.count("*").alias("n_pairs"))
        .where(F.col("n_pairs") >= min_count)
    )
    uni = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    total = uni.agg(F.sum("c").alias("total"))
    scored = (
        pc.join(uni.select(F.col("tok").alias("a"), F.col("c").alias("ca")), "a")
        .join(uni.select(F.col("tok").alias("b"), F.col("c").alias("cb")), "b")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("a").alias("tok_a"),
            F.col("b").alias("tok_b"),
            "n_pairs",
            F.round(
                F.col("total") * F.col("n_pairs") / (F.col("ca") * F.col("cb")), 6
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("n_pairs").desc(), F.col("tok_a"), F.col("tok_b")
    ).limit(k)


# C4-style line filters (Raffel et al. 2020 §2.2, the public recipe):
# terminal punctuation, minimum words, boilerplate blocklist.
_CLEAN_BLOCKLIST = ("cookie", "javascript", "lorem ipsum")


def clean_text(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
    keep_empty: bool = False,
    require_punct: bool = True,
) -> DataFrame:
    """(all columns) + clean_text / n_lines_kept / n_lines_dropped — the
    C4 line-level cleaner: keep only lines that end in terminal
    punctuation (``require_punct``; disable for corpora that aren't
    sentence-punctuated), carry >= `min_words` whitespace words, and
    contain no boilerplate blocklist phrase; survivors rejoin with
    '\\n'. Documents whose every line drops get clean_text='' (and are
    the natural next filter unless ``keep_empty``, mirroring C4
    dropping empty pages).

    Scale posture: MAP-ONLY — the line split, per-line predicates
    (higher-order `filter` over the line array, pure JVM: rlike +
    size(split) + contains), and rejoin all run inside the row, no
    shuffle, no Python; composes with `curation_features` upstream of
    any wide stage, so at 100 TB the cleaner rides the first scan free.
    """
    lines = F.split(F.col(text_col), "\n")

    def keep(l):  # noqa: E741
        blocked = functools.reduce(
            lambda x, y: x | y,
            [F.contains(F.lower(l), F.lit(b)) for b in _CLEAN_BLOCKLIST],
        )
        cond = (F.size(F.split(F.trim(l), r"\s+")) >= min_words) & ~blocked
        if require_punct:
            cond = cond & l.rlike(r'[.!?"]\s*$')
        return cond

    kept = F.filter(lines, keep)
    out = (
        df.withColumn("clean_text", F.array_join(kept, "\n"))
        .withColumn("n_lines_kept", F.size(kept))
        .withColumn("n_lines_dropped", F.size(lines) - F.size(kept))
    )
    if not keep_empty:
        out = out.where(F.col("n_lines_kept") > 0)
    return out


def doc_bigrams(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, w1, w2, tf) — per-document bigram frequencies over the
    standard tokenizer (map-only explode + one doc-local partial agg)."""
    base = df.select("doc_id", tokens(F.col(text_col)).alias("__t"))
    bg = adjacent_pairs(
        F.col("__t"),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        "array<struct<w1:string,w2:string>>",
    )
    return (
        base.select("doc_id", F.explode(bg).alias("b"))
        .groupBy("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count("*").alias("tf"))
    )


def _bigram_lm(bg: DataFrame) -> DataFrame:
    """(w1, w2, c12, c1) bigram LM counts of a `doc_bigrams` frame."""
    c12 = bg.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return c12.join(c1, "w1").select("w1", "w2", "c12", "c1")


def train_bigram_lm(df: DataFrame, path: str, text_col: str = "text") -> None:
    """Materialize the corpus bigram model as an at-rest table:
    (w1, w2, c12, c1) with c12 = corpus occurrences of the bigram and
    c1 = corpus occurrences of w1 as a bigram head — the count form of
    P(w2|w1) = c12/c1, stored as exact integers so every downstream
    consumer derives identical probabilities. Train ONCE, score many —
    the same shared-artifact pattern as `write_ivf_index` /
    `quantize_embeddings(ranges=)`. Two partial-agg shuffles + one
    vocabulary-sized join; rows are (token-pair, counts), never text."""
    _bigram_lm(doc_bigrams(df, text_col)).write.mode("overwrite").parquet(path)


def bigram_cohesion(
    df: DataFrame,
    text_col: str = "text",
    lm: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_bigrams, cohesion) — the tf-weighted mean corpus
    conditional-frequency of the document's transitions:
    cohesion = sum_b tf_b*c12_b / sum_b tf_b*c1_b. Fluent, templated
    text scores high (its word transitions are corpus-typical);
    shuffled/gibberish text scores low — the bigram-LM counterpart of
    `rarity_scores`' unigram proxy, and the exact-arithmetic stand-in
    for a KenLM perplexity bucket (the KenLM scorer drops in at the same
    join point). Integer numerator and denominator, one
    correctly-rounded division — the oracle is exact, where a mean of
    log-probabilities would be FP-order-dependent.

    ``lm`` — a (w1, w2, c12, c1) table from `train_bigram_lm` — scores
    against a PRE-TRAINED model (train once, score many streams/shards);
    None trains on `df` itself in-plan. Same shuffle shape as
    rarity_scores: vocab partial aggs + a vocabulary-keyed join + one
    per-doc integer re-aggregation.
    """
    bg = doc_bigrams(df, text_col)
    if lm is None:
        lm = _bigram_lm(bg)
    joined = bg.join(lm.select("w1", "w2", "c12", "c1"), ["w1", "w2"], "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.col("tf") * F.coalesce("c12", F.lit(0))).alias("__num"),
            F.sum(F.col("tf") * F.coalesce("c1", F.lit(0))).alias("__den"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("__num") / F.greatest(F.col("__den"), F.lit(1)), 6
            ).alias("cohesion"),
        )
    )


def build_vocab(
    df: DataFrame,
    vocab_size: int = 1000,
    min_count: int = 1,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """(token, token_id, n_occurrences, n_docs) — frequency-ranked
    vocabulary construction, the tokenizer-training prerequisite every
    text pipeline runs once per corpus (word-level here; the BPE merge
    loop would iterate on exactly this table).

    token_id is the 0-based rank under the TOTAL order (n_occurrences
    DESC, token ASC), so ids are deterministic across engines and runs —
    ties never reorder. Scale posture: explode -> one partial-aggregating
    shuffle on the token key (count + distinct-doc count; the doc-count
    grain is (token, doc) which count(distinct) handles with a second
    partial agg, never a per-token sort), then top-`vocab_size` via
    TakeOrderedAndProject, then the id-assigning window runs over the
    SURVIVOR set only — vocab_size rows (~10^5 for real tokenizers)
    regardless of corpus size, so the single-partition rank window is a
    driver-bounded constant, not a corpus-sized sort.
    """
    tok = df.select(
        F.col(key_col).alias("_doc"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    counts = (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("_doc").alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= min_count)
    )
    top = _ranked_top_k(
        counts,
        [F.col("n_occurrences").desc(), F.col("token").asc()],
        vocab_size,
        "token_id",
    )
    return top.select(
        "token",
        (F.col("token_id") - 1).alias("token_id"),
        "n_occurrences",
        "n_docs",
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list,
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_matched, score, rnk) — the corpus' top-k documents for a
    query term set under BM25 with the RATIONAL idf (same exact-arithmetic
    substitution as tfidf_keywords: ``idf = (N - df + 0.5)/(df + 0.5)``
    instead of its log — monotone-identical ranking, but built only from
    correctly-rounded IEEE ops so the 6dp-rounded score is bit-identical
    across Spark/DuckDB/Python; swap in ln() where cross-engine hashing
    isn't a contract). This is the retrieval view over the curation
    corpus — "which documents should a human audit for this topic" — and
    the scoring half of a dedup-aware search index.

    Two corpus passes, both MAP-ONLY on the corpus side:
      1. stats pass — per-row (dl, per-term tf) computed row-locally
         (the split is bound ONCE via the single-element-array lambda
         trick, like doc_token_freqs), partial-aggregated to ONE row
         (N, Σdl, per-term df) — map-side combine, a few dozen bytes to
         the driver;
      2. score pass — idf/avgdl baked back as PLAN LITERALS, the
         document score a fixed-order chain over the query terms (FP
         determinism: the sum order is the term-list order on both
         engines), then global top-k via orderBy+limit —
         TakeOrderedAndProject, per-partition heaps, no full sort
         shuffle. Query terms are query-sized (10s), never corpus-sized;
         zero-match documents are dropped before the top-k so the result
         is support-only.
    """
    terms = [t.lower() for t in query_terms]
    if not terms:
        raise ValueError("bm25_topk requires at least one query term")
    tf_exprs = ", ".join(
        "size(filter(ws, x -> x = '{}'))".format(t.replace("'", "''"))
        for t in terms
    )
    row = F.expr(
        _bound_tokens(
            text_col, f"named_struct('dl', size(ws), 'tfs', array({tf_exprs}))"
        )
    )
    base = df.select("doc_id", row.alias("r")).select(
        "doc_id", F.col("r.dl").alias("dl"), F.col("r.tfs").alias("tfs")
    )
    stats = base.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(
                (F.element_at("tfs", i + 1) > 0).cast("long")
            ).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    n_docs = stats["n"]
    if n_docs == 0:
        return df.sparkSession.createDataFrame(
            [], "doc_id long, n_matched int, score double, rnk int"
        )
    avgdl = stats["sum_dl"] / n_docs  # exact same division the oracle runs
    dl_d = F.col("dl").cast("double")
    score = None
    matched = None
    for i in range(len(terms)):
        dfreq = stats[f"df_{i}"]
        idf = (n_docs - dfreq + 0.5) / (dfreq + 0.5)
        tf = F.element_at("tfs", i + 1).cast("double")
        term_score = (
            F.lit(idf)
            * (tf * F.lit(k1 + 1.0))
            / (tf + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * dl_d / F.lit(avgdl)))
        )
        hit = (F.element_at("tfs", i + 1) > 0).cast("int")
        score = term_score if score is None else score + term_score
        matched = hit if matched is None else matched + hit

    scored = base.select(
        "doc_id",
        matched.alias("n_matched"),
        F.round(score, 6).alias("score"),
    ).where(F.col("n_matched") > 0)
    return _ranked_top_k(
        scored, [F.col("score").desc(), F.col("doc_id")], topk, "rnk"
    )


def oov_rates(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, n_oov, oov_rate) — per-document out-of-
    vocabulary share against a vocabulary table (`build_vocab` output or
    any (token, …) table): the tokenizer-QA metric every ingestion
    pipeline publishes — a source whose OOV rate jumps is a new language,
    a new boilerplate family, or an encoding bug, caught before it
    poisons tokenizer training downstream.

    Same tokenizer as `build_vocab` (shared `tokens()` expression), so
    the rate measures the vocabulary, not a tokenization mismatch.
    Plan: explode → LEFT join the vocab keyed by token with a broadcast
    hint (the vocab is vocabulary-sized — the train-once/broadcast
    pattern; at open-vocab scale drop the hint and it becomes one token-
    keyed shuffle) → one doc-keyed partial agg. Counts are integers; the
    rate is one rounded division — oracle-exact. Empty documents
    (zero tokens after normalization) report rate 0.0."""
    tok = df.select(
        F.col(key_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    ).where(F.col("token") != "")
    v = vocab.select(F.col("token"), F.lit(1).alias("__in"))
    joined = tok.join(F.broadcast(v), "token", "left")
    per_doc = joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).alias("n_oov"),
    )
    keys = df.select(F.col(key_col).alias("doc_id")).distinct()
    return keys.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        F.when(F.coalesce("n_tokens", F.lit(0)) == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
                6,
            )
        )
        .alias("oov_rate"),
    )


def compression_ratios(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id", level: int = 6
) -> DataFrame:
    """(doc_id, raw_bytes, compressed_bytes, ratio) — per-document zlib
    compression ratio, the repetitiveness signal modern curation stacks
    (FineWeb/DCLM-family heuristics) gate on: templated or looping text
    compresses far below natural prose, and the ratio catches what
    n-gram repetition scores miss (long-range structure). ratio =
    compressed/raw rounded 6dp; empty documents report ratio 0.0.

    This is deliberately a Pandas-UDF operator — DEFLATE is byte-level
    work no Catalyst expression covers, which is exactly the "UDFs are
    the slow path, use them only where built-ins can't express the
    semantics" carve-out: Arrow-batched mapInPandas (never per-row
    Python), map-only, payload text stays in the scan's batches and the
    output is 3 numbers per row. Determinism: zlib with a pinned `level`
    is deterministic for a given library build; the oracle twin runs the
    same stdlib zlib, and a cross-build drift would surface as a hash
    mismatch rather than silently passing."""
    sel = df.select(F.col(key_col).alias("doc_id"), F.col(text_col).alias("t"))
    schema = StructType(
        [
            # preserve key type
            StructField("doc_id", sel.schema["doc_id"].dataType),
            StructField("raw_bytes", LongType()),
            StructField("compressed_bytes", LongType()),
            StructField("ratio", DoubleType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            raws, comps, ratios = [], [], []
            for t in pdf["t"]:
                b = (t or "").encode("utf-8")
                c = len(zlib.compress(b, level))
                raws.append(len(b))
                comps.append(c)
                ratios.append(0.0 if not b else round(c / len(b), 6))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": pd.array(raws, dtype="int64"),
                    "compressed_bytes": pd.array(comps, dtype="int64"),
                    "ratio": ratios,
                }
            )

    return sel.mapInPandas(batches, schema)


PII_REDACTIONS = [
    ("n_emails", "<EMAIL>"),
    ("n_urls", "<URL>"),
    ("n_long_digit_runs", "<DIGITS>"),
]


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, text_redacted, n_redactions) — the scrubbing step behind
    `pii_counts`' pre-scan: each PII pattern is replaced by an UPPERCASE
    placeholder in a FIXED chain order (emails → urls → digit runs; the
    order is the contract — a URL containing an email-shaped substring
    redacts under whichever pattern fires first in the chain, and the
    oracle mirrors the chain exactly). Same RE2 ∩ Java-regex pattern
    subset as the counts, applied to the same normalized text.

    `n_redactions` counts the PLACEHOLDERS SURVIVING in the final text,
    not the replacements performed (ADVICE r4): when a later chain
    pattern swallows an earlier placeholder — e.g.
    'http://x.com/a@b.com' → the email replaces first, then the URL
    pattern consumes 'http://x.com/<EMAIL>' into one '<URL>' — two
    replacements leave ONE surviving placeholder, and n_redactions
    reports 1. Surviving-placeholder count is the quantity a consumer
    can audit against text_redacted itself; placeholders cannot collide
    with input (normalization lowercases, placeholders are uppercase).
    Map-only, pure JVM."""
    red = _norm(F.col(text_col))
    for name, token in PII_REDACTIONS:
        red = F.regexp_replace(red, PII_PATTERNS[name], token)
    marker = "|".join(tok for _n, tok in PII_REDACTIONS)
    return df.select(
        "doc_id",
        red.alias("text_redacted"),
        F.size(F.regexp_extract_all(red, F.lit(marker), 0)).alias(
            "n_redactions"
        ),
    )


def vocab_growth(df: DataFrame, text_col: str = "text", n_checkpoints: int = 10) -> DataFrame:
    """(checkpoint, n_docs_cum, n_tokens_cum, vocab_cum) — the Heaps-law
    vocabulary-growth curve: at each of `n_checkpoints` doc-id
    checkpoints, how many documents and token occurrences the corpus
    prefix holds and how many DISTINCT token types have appeared. The
    curve's shape (V ≈ K·N^β, β≈0.4-0.6 for natural language) is a
    corpus health check — a crawl whose vocabulary grows linearly is
    exploding with noise (serial numbers, boilerplate mutations), one
    whose curve flattens early is template spam; it also sizes tokenizer
    vocabularies and predicts OOV rates at larger data scales.

    Checkpoints are id-order prefixes: c_i = floor(max_id·i/n), and a
    row with id v belongs to the first checkpoint ≥ v via EXACT integer
    ceil division ((v·n + max_id - 1) div max_id, clamped to ≥ 1) — no
    FP anywhere in the operator, so the oracle contract is pure-integer.
    Doc ids are ingestion-ordered in this corpus, making the prefix
    curve a time curve; any other order is a caller-side id remap.

    Scale: one vocabulary-sized partial agg (token → MIN(doc_id), the
    first-occurrence table — the same exchange build_vocab pays), one
    map-only per-doc token count, and two n-row cumulative windows over
    the checkpoint spine. The corpus-sized shuffle carries (token,
    partial min) pairs only; MIN is skew-immune (map-side combine).
    max_id rides a 1-row broadcast crossJoin."""
    toks = tokens(F.col(text_col))
    mx = df.agg(F.max("doc_id").cast("long").alias("__mx"))
    n = int(n_checkpoints)

    def _ck(col_name: str):  # first checkpoint index covering id v (1-based)
        return F.expr(
            f"greatest(CAST((CAST({col_name} AS BIGINT) * {n} + __mx - 1)"
            f" div __mx AS INT), 1)"
        )

    # spine: checkpoint i ↦ doc-id bound floor(max_id*i/n)
    spine = mx.select(
        F.explode(F.sequence(F.lit(1), F.lit(n))).alias("__i"), "__mx"
    ).select(
        "__i",
        F.expr(f"(__i * __mx) div {n}").cast("long").alias("checkpoint"),
    )
    per_doc = (
        df.select(F.col("doc_id"), F.size(toks).cast("long").alias("__nt"))
        .crossJoin(F.broadcast(mx))
        .groupBy(_ck("doc_id").alias("__i"))
        .agg(
            F.count("*").cast("long").alias("__docs"),
            F.sum("__nt").cast("long").alias("__toks"),
        )
    )
    first = (
        df.select("doc_id", F.explode(toks).alias("__t"))
        .groupBy("__t")
        .agg(F.min("doc_id").cast("long").alias("__fd"))
        .crossJoin(F.broadcast(mx))
        .groupBy(_ck("__fd").alias("__i"))
        .agg(F.count("*").cast("long").alias("__vocab"))
    )
    w = Window.orderBy("__i").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(per_doc, "__i", "left")
        .join(first, "__i", "left")
        .select(
            "checkpoint",
            F.sum(F.coalesce("__docs", F.lit(0))).over(w).alias("n_docs_cum"),
            F.sum(F.coalesce("__toks", F.lit(0))).over(w).alias("n_tokens_cum"),
            F.sum(F.coalesce("__vocab", F.lit(0))).over(w).alias("vocab_cum"),
        )
    )


def lexical_diversity(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_types, ttr, simpson) — per-document lexical
    diversity: type-token ratio and the Simpson repeat-concentration
    index D = Σ tf_t·(tf_t−1) / (N·(N−1)) (the probability two tokens
    drawn without replacement are the same type). Low-TTR/high-D docs
    are keyword-stuffed or template spam even when `repetition_scores`'
    line/n-gram duplication misses them (the repeats need not be
    adjacent); D is also the collision rate a downstream hashed-feature
    consumer (DSIR, minhash shingles) will actually see.

    Exactness: both indices are ratios of EXACT integers (tf sums) with
    one correctly-rounded division + 6dp rounding each — no FP fold, no
    transcendental, deterministic at any partitioning (the module's
    bigram-cohesion pattern). Sub-2-token docs report simpson 0.0
    (try_divide null → coalesce), single-type docs report D = 1.0.

    Scale: one corpus-sized (doc_id, token) partial-agg exchange + a
    per-doc re-agg — the same shuffle shape as rarity_scores, nothing
    vocabulary-broadcast, no Python."""
    tf = (
        df.select("doc_id", F.explode(tokens(F.col(text_col))).alias("__t"))
        .groupBy("doc_id", "__t")
        .agg(F.count("*").alias("__tf"))
    )
    agg = tf.groupBy("doc_id").agg(
        F.sum("__tf").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.col("__tf") * (F.col("__tf") - 1)).cast("long").alias("__rep"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(F.try_divide(F.col("n_types"), F.col("n_tokens")), 6).alias(
            "ttr"
        ),
        F.coalesce(
            F.round(
                F.try_divide(
                    F.col("__rep"), F.col("n_tokens") * (F.col("n_tokens") - 1)
                ),
                6,
            ),
            F.lit(0.0),
        ).alias("simpson"),
    )


def frequency_spectrum(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """(bucket, min_count, max_count, n_types, total_occurrences,
    cum_types) — the corpus frequency spectrum with types binned by
    ⌊log2(count)⌋: the Zipf-profile view of the vocabulary (for a
    Zipfian corpus, n_types falls ~geometrically across buckets;
    deviations localize tokenizer pathologies, boilerplate floods and
    synthetic-text spikes), and the direct planning input for min_count
    cutoffs — bucket sums tell exactly how many types and occurrences a
    cutoff at any power of two keeps. Complements `build_vocab` (the
    head of the distribution) and `vocab_growth` (Heaps' law over doc
    order) with the full count histogram.

    Exactness: everything is integer. The bucket index is
    length(bin(count)) − 1 — the binary bit-length, never a float log2
    that can land on 2.9999… at exact powers of two; the oracle twin
    uses an integer CASE ladder for the same reason. min/max/cum are
    MIN/MAX/SUM of integers; no FP anywhere, so the result is
    bit-identical in any engine and partitioning.

    Scale posture: one (token) partial-aggregating exchange for the
    per-type counts (the `build_vocab` shuffle shape — hub tokens
    combine map-side), then one ≤64-key partial agg for the buckets; the
    cumulative-types window runs over those ≤64 rows. Unlike a
    rank-based Zipf table there is NO global total-order window — the
    spectrum needs only counts, so nothing ever single-partition-sorts
    the vocabulary."""
    tok = df.select(
        F.col(key_col).alias("_doc"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    counts = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    bucketed = counts.select(
        (F.length(F.bin(F.col("cnt"))) - 1).cast("int").alias("bucket"),
        "cnt",
    )
    spec = bucketed.groupBy("bucket").agg(
        F.min("cnt").alias("min_count"),
        F.max("cnt").alias("max_count"),
        F.count("*").alias("n_types"),
        F.sum("cnt").alias("total_occurrences"),
    )
    w = Window.orderBy(F.col("bucket").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return spec.select(
        "bucket",
        "min_count",
        "max_count",
        "n_types",
        "total_occurrences",
        F.sum("n_types").over(w).alias("cum_types"),
    )

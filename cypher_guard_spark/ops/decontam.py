"""Benchmark decontamination: flag training documents that share word
n-grams with a held-out evaluation/benchmark set.

The standard LLM-data hygiene pass (n-gram collision decontamination à la
the GPT-3/Llama data notes): any training document containing an n-gram
that also appears in an evaluation benchmark is suspect and gets dropped
or audited before pretraining.

Scale posture: the benchmark side is SMALL relative to the corpus (a few
10^5-10^6 distinct n-grams even for a large eval suite) — it is exploded,
deduplicated, and BROADCAST, so the 100-TB corpus side stays map-only:
scan → explode distinct per-doc n-grams → broadcast-hash-join → partial
count aggregation. The single shuffle carries (doc_id, partial counts),
never text or n-grams. If the benchmark outgrows broadcast range, the same
plan degrades gracefully to a shuffle join where the corpus side is
already salted by doc_id cardinality; nothing else changes.

No Python anywhere — pure built-in functions, whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import band_rows, shingle_jaccard
from .text import word_shingles


def benchmark_ngrams(benchmark: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(ngram) — the distinct word n-grams of the benchmark set."""
    return (
        benchmark.select(
            F.explode(F.array_distinct(word_shingles(text_col, n))).alias("ngram")
        )
        .distinct()
    )


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_ngrams, n_contaminated, contamination, contaminated) —
    per-document benchmark n-gram overlap. `n_ngrams` counts the DISTINCT
    n-grams of the doc (so contamination is a set-overlap ratio in [0,1]);
    `contaminated` flags any overlap at all (the usual drop criterion).

    Documents shorter than n tokens have zero n-grams and report
    (0, 0, 0.0, 0) — explode_outer keeps them in the result.
    """
    grams = F.array_distinct(word_shingles(text_col, n))
    bench = F.broadcast(benchmark_ngrams(benchmark, n, text_col).withColumn("hit", F.lit(1)))
    exploded = docs.select("doc_id", F.explode_outer(grams).alias("ngram"))
    per_doc = (
        exploded.join(bench, "ngram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("ngram").alias("n_ngrams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_ngrams",
        "n_contaminated",
        F.round(
            F.col("n_contaminated") / F.greatest(F.col("n_ngrams"), F.lit(1)), 6
        ).alias("contamination"),
        (F.col("n_contaminated") > 0).cast("int").alias("contaminated"),
    )


def contamination_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_grams, n_contaminated, max_run, frac) — span-level
    decontamination (the GPT-3/Llama appendix recipe): instead of the
    binary any-overlap flag, report how MUCH of each document the
    benchmark covers — `n_grams` POSITIONAL n-grams (length-n+1 windows,
    duplicates counted, unlike `contamination_report`'s distinct sets),
    `n_contaminated` of them found in the benchmark set, `max_run` the
    longest run of CONSECUTIVE contaminated n-gram positions (a long run
    is a verbatim benchmark quote; scattered singleton hits are usually
    idiom collisions), and `frac` = n_contaminated/n_grams — the two
    numbers thresholds are actually tuned on.

    Scale posture: identical to `contamination_report` — the benchmark
    side is exploded/deduplicated/BROADCAST, the corpus side is scan →
    posexplode → broadcast-hash-join (map-only); the one shuffle is the
    per-doc regroup and carries (doc_id, pos, hit) int triples, never
    text. The run detection is a sorted-struct fold per doc (bounded by
    document length, the same bound `repetition_scores` relies on).
    Sub-n-token docs report (0, 0, 0, 0.0) via posexplode_outer."""
    grams = word_shingles(text_col, n)  # positional: runs need positions
    bench = F.broadcast(
        benchmark_ngrams(benchmark, n, text_col).withColumn("hit", F.lit(1))
    )
    exploded = docs.select(
        "doc_id", F.posexplode_outer(grams).alias("pos", "ngram")
    )
    marked = exploded.join(bench, "ngram", "left").select(
        "doc_id",
        "pos",
        F.when(F.col("ngram").isNotNull(), 1).otherwise(0).alias("is_gram"),
        F.coalesce("hit", F.lit(0)).alias("hit"),
    )
    hits_in_order = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "hit"))),
        lambda s: s.getField("hit"),
    )
    max_run = F.aggregate(
        hits_in_order,
        F.struct(F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda acc, h: F.struct(
            F.when(h == 1, acc.getField("run") + 1).otherwise(F.lit(0)).alias("run"),
            F.greatest(
                acc.getField("best"),
                F.when(h == 1, acc.getField("run") + 1).otherwise(F.lit(0)),
            ).alias("best"),
        ),
        lambda acc: acc.getField("best"),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.sum("is_gram").cast("long").alias("n_grams"),
            F.sum("hit").cast("long").alias("n_contaminated"),
            max_run.cast("long").alias("max_run"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            "max_run",
            F.round(
                F.col("n_contaminated") / F.greatest(F.col("n_grams"), F.lit(1)), 6
            ).alias("frac"),
        )
    )


def fuzzy_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """(doc_id, bench_id, sim) — DOC-LEVEL fuzzy decontamination (the
    Llama-2/GPT-4-appendix recipe next to exact n-gram collision): a
    training document is contaminated when its n-gram shingle set has
    Jaccard >= threshold with some BENCHMARK document — catching
    near-verbatim benchmark copies that token-level edits would slip
    past an exact n-gram filter.

    The bipartite variant of `dedup.minhash_near_duplicates`: both sides
    get the same K minhashes -> B banded bucket keys, candidates are
    (corpus doc, bench doc) pairs sharing a band bucket, survivors are
    verified with exact Jaccard on the real shingle sets.

    Scale posture: the BENCHMARK side is small (10^3-10^5 docs), so its
    banded table and its shingle sets are BROADCAST — the corpus side is
    scan -> minhash -> broadcast-hash-join, map-only; the only shuffle is
    the candidate dropDuplicates, O(candidate pairs). The corpus is
    re-shingled ONLY for candidate docs (leftsemi on candidate ids, same
    O(candidates) bound as the dedup operator)."""
    bench_bands = band_rows(benchmark, text_col, n, num_hashes, bands)
    # the candidate list is referenced three times (corpus-shingle
    # leftsemi, bench join, final select) and each reference would
    # re-evaluate the full-corpus minhash subtree under column pruning —
    # the §14/§16 pathology (docs/PERFORMANCE.md). Lazy checkpoint: the
    # corpus is minhashed ONCE; the materialized rows are id pairs only.
    cand = (
        band_rows(docs, text_col, n, num_hashes, bands)
        .join(
            F.broadcast(bench_bands.withColumnRenamed("doc_id", "bench_id")),
            ["band", "bh"],
        )
        .select("doc_id", "bench_id")
        .dropDuplicates(["doc_id", "bench_id"])
        .localCheckpoint(eager=False)
    )
    corpus_sh = docs.join(
        cand.select("doc_id"), "doc_id", "leftsemi"
    ).select(
        "doc_id", F.array_distinct(word_shingles(text_col, n)).alias("s_doc")
    )
    bench_sh = F.broadcast(
        benchmark.select(
            F.col("doc_id").alias("bench_id"),
            F.array_distinct(word_shingles(text_col, n)).alias("s_bench"),
        )
    )
    sim = shingle_jaccard(F.col("s_doc"), F.col("s_bench"))
    return (
        cand.join(corpus_sh, "doc_id")
        .join(bench_sh, "bench_id")
        .select("doc_id", "bench_id", sim.alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def fuzzy_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """The corpus minus fuzzy-contaminated docs (left-anti against the
    flagged id set — same broadcast-banded plan)."""
    flagged = fuzzy_contamination(
        docs, benchmark, text_col, n, num_hashes, bands, threshold
    ).select("doc_id").distinct()
    return docs.join(flagged, "doc_id", "left_anti")


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """The clean corpus: docs with NO benchmark n-gram overlap (left-anti
    join against the contaminated doc_id set — same broadcast plan)."""
    dirty = (
        docs.select("doc_id", F.explode(F.array_distinct(word_shingles(text_col, n))).alias("ngram"))
        .join(F.broadcast(benchmark_ngrams(benchmark, n, text_col)), "ngram", "leftsemi")
        .select("doc_id")
        .distinct()
    )
    return docs.join(dirty, "doc_id", "left_anti")

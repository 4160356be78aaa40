"""Mention detection + triple extraction over span sequences.

`posexplode(spans)` keeps per-span provenance (doc_id, span_idx) so the
span-sequence invariant (kind, text, media_ref, order) is verifiable per
row; extraction itself is a single Arrow-batched pandas UDF whose body is
vectorized `Series.str.extract` (C-speed regex, no per-row Python — the
input_hint contract).

Link scoring is a salted two-stage aggregation: hub entities (the corpus
has a Zipf-skewed hub person) make a naive groupBy(surface) shuffle skewed,
so mentions are pre-split by a deterministic salt, partially aggregated,
then merged (north_star's "salted repartitioning before the link-scoring
shuffle"). For the algebraic count/sum here Spark's map-side combine would
also cope, but the same two-stage shape is what keeps holistic per-entity
UDF aggregations alive at 1000-executor scale.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from .synth import _render_doc

TRIPLE_STRUCT = StructType(
    [
        StructField("subj", StringType()),
        StructField("pred", StringType()),
        StructField("obj", StringType()),
        StructField("subj_label", StringType()),
        StructField("obj_label", StringType()),
        StructField("conf", DoubleType()),
    ]
)

_PATTERNS = (
    (r"^(?P<s>.+) works for (?P<o>.+)\.$", "WORKS_FOR", "Person", "Company"),
    (r"^(?P<s>.+) knows (?P<o>.+)\.$", "KNOWS", "Person", "Person"),
    (r"^(?P<s>.+) is located in (?P<o>.+)\.$", "LOCATED_IN", "Company", "Location"),
)


def _extract_batch(series_iter: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """SCALAR_ITER pandas_udf body: vectorized `Series.str.extract` per
    Arrow batch. A scalar pandas UDF — NOT mapInPandas — because this Spark
    build never reuses python workers for mapInPandas tasks (one fork +
    pandas import per task ≈ 0.4 kernel-cpu-s each, measured as 2x user
    time in sys overhead at 32 cores), while scalar-UDF workers are pooled."""
    for texts in series_iter:
        n = len(texts)
        pred = pd.Series([None] * n, dtype=object)
        subj = pd.Series([None] * n, dtype=object)
        obj = pd.Series([None] * n, dtype=object)
        s_label = pd.Series([None] * n, dtype=object)
        o_label = pd.Series([None] * n, dtype=object)
        for pattern, rel, sl, ol in _PATTERNS:
            m = texts.str.extract(pattern)
            hit = m["s"].notna() & pred.isna()
            pred[hit] = rel
            subj[hit] = m.loc[hit, "s"]
            obj[hit] = m.loc[hit, "o"]
            s_label[hit] = sl
            o_label[hit] = ol
        conf = np.where(
            pred.notna(), 0.9 + 0.1 * np.minimum(texts.str.len().fillna(0) / 80.0, 1.0), np.nan
        )
        yield pd.DataFrame(
            {
                "subj": subj,
                "pred": pred,
                "obj": obj,
                "subj_label": s_label,
                "obj_label": o_label,
                "conf": conf,
            }
        )


# asNondeterministic: stops the optimizer from pushing the no-match filter
# below the UDF, which would plan a SECOND ArrowEvalPython and run the
# extraction twice per row (verified via executedPlan ArrowEvalPython count)
extract_udf = F.pandas_udf(_extract_batch, TRIPLE_STRUCT).asNondeterministic()


def text_spans(documents: DataFrame) -> DataFrame:
    """(doc_id, span_idx, text) for kind='text' spans. The span struct is
    pruned to `text` only — column pruning reaches the parquet scan."""
    return (
        documents.select("doc_id", F.posexplode("spans").alias("span_idx", "span"))
        .where(F.col("span.kind") == "text")
        .select("doc_id", "span_idx", F.col("span.text").alias("text"))
    )


def extract_triples_raw(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, span_idx, subj, pred, obj, subj_label, obj_label, conf)."""
    parsed = text_spans(documents).withColumn("t", extract_udf("text"))
    return parsed.where(F.col("t.pred").isNotNull()).select(
        "doc_id",
        "span_idx",
        F.col("t.subj").alias("subj"),
        F.col("t.pred").alias("pred"),
        F.col("t.obj").alias("obj"),
        F.col("t.subj_label").alias("subj_label"),
        F.col("t.obj_label").alias("obj_label"),
        F.col("t.conf").alias("conf"),
    )


# The serial twin's own spelling of the templates, kept apart from
# _PATTERNS on purpose: the oracle must not inherit an edit to the kernel's.
_PY_TEMPLATES = (
    (re.compile(r"^(.+) works for (.+)\.$"), "WORKS_FOR", "Person", "Company"),
    (re.compile(r"^(.+) knows (.+)\.$"), "KNOWS", "Person", "Person"),
    (re.compile(r"^(.+) is located in (.+)\.$"), "LOCATED_IN", "Company", "Location"),
)


def py_extract_triples(n_docs: int) -> list[tuple]:
    """Serial twin of `extract_triples_raw` over
    `synthesize_documents(n_docs)`: render each doc with the same
    deterministic generator, match each text span against the templates
    (first match wins) and apply the UDF's confidence formula in the same
    IEEE op order. Rows (doc_id, span_idx, subj, pred, obj, subj_label,
    obj_label, conf) in document then span order; span_idx counts ALL
    spans (text and media), like posexplode."""
    rows = []
    for i in range(n_docs):
        doc_id, spans = _render_doc(i)
        for span_idx, span in enumerate(spans):
            if span["kind"] != "text":
                continue
            for pat, rel, sl, ol in _PY_TEMPLATES:
                m = pat.match(span["text"])
                if m:
                    conf = 0.9 + 0.1 * min(len(span["text"]) / 80.0, 1.0)
                    rows.append(
                        (doc_id, span_idx, m.group(1), rel, m.group(2), sl, ol, conf)
                    )
                    break
    return rows


def mentions_from_triples(triples_raw: DataFrame) -> DataFrame:
    """(doc_id, span_idx, mention_id, surface, label, score) — subject and
    object mentions stacked; mention_id is a deterministic hash."""
    subj = triples_raw.select(
        "doc_id",
        "span_idx",
        F.col("subj").alias("surface"),
        F.col("subj_label").alias("label"),
        F.col("conf").alias("score"),
        F.lit("subj").alias("role"),
    )
    obj = triples_raw.select(
        "doc_id",
        "span_idx",
        F.col("obj").alias("surface"),
        F.col("obj_label").alias("label"),
        F.col("conf").alias("score"),
        F.lit("obj").alias("role"),
    )
    stacked = subj.unionByName(obj)
    return stacked.select(
        "doc_id",
        "span_idx",
        F.xxhash64("doc_id", "span_idx", "role", "surface").alias("mention_id"),
        "surface",
        "label",
        "score",
    )


def link_scores(mentions: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Per-(surface,label) mention stats via salted two-stage aggregation.

    Stage 1 groups on (surface, label, salt) — the hub surface's rows are
    spread across `salt_buckets` reducers; stage 2 merges the partials
    (salt_buckets rows per surface, never skewed).
    """
    salted = mentions.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id", "span_idx", "mention_id"), F.lit(salt_buckets))
    )
    partial = salted.groupBy("surface", "label", "salt").agg(
        F.count("*").alias("pn"), F.sum("score").alias("ps")
    )
    return partial.groupBy("surface", "label").agg(
        F.sum("pn").alias("n_mentions"),
        (F.sum("ps") / F.sum("pn")).alias("avg_score"),
    )


def py_mention_counts(triples) -> dict:
    """Serial twin of `link_scores`' n_mentions over `py_extract_triples`
    rows: {(label, surface): count}, one count per triple endpoint, keys
    in first-mention order."""
    counts: dict = {}
    for _d, _i, s, _r, o, sl, ol, _c in triples:
        counts[(sl, s)] = counts.get((sl, s), 0) + 1
        counts[(ol, o)] = counts.get((ol, o), 0) + 1
    return counts


def media_entity_links(documents: DataFrame, triples_raw: DataFrame) -> DataFrame:
    """(doc_id, media_ref, kind, span_idx, subj, pred, obj) — attach each
    media span to the triples extracted from its ADJACENT text spans
    (span_idx ± 1): the interleaved corpus's contract is that media is
    evidence for the facts stated around it, and these provenance edges
    are what lets the KG cite an image/audio/video for an entity or
    relation.

    Shapes: the span explode prunes to (kind, media_ref) only; the
    adjacency expansion is a 2-element generator (map-side); the join is
    an equi-join on (doc_id, span_idx) — the same co-partitioning every
    other per-span operator uses, so at scale both sides shuffle once on
    the compound key (or not at all when triples_raw is already bucketed
    by doc_id). Pure built-ins, no Python."""
    spans = documents.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    )
    media = spans.where(F.col("span.kind") != "text").select(
        "doc_id",
        F.col("span_idx").alias("media_idx"),
        F.col("span.kind").alias("kind"),
        F.col("span.media_ref").alias("media_ref"),
    )
    adj = media.select(
        "doc_id",
        "media_idx",
        "kind",
        "media_ref",
        F.explode(
            F.array(F.col("media_idx") - 1, F.col("media_idx") + 1)
        ).alias("span_idx"),
    )
    return adj.join(
        triples_raw.select("doc_id", "span_idx", "subj", "pred", "obj"),
        ["doc_id", "span_idx"],
    ).select("doc_id", "media_ref", "kind", "span_idx", "subj", "pred", "obj")

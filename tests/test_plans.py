"""Physical-plan regression locks for the scale-critical properties.

These assert the plan SHAPE the 100-TB posture depends on, so a future
refactor cannot silently reintroduce a pathology the code was built to
avoid: filters must reach the parquet scan, dimension joins must
broadcast, map-only operators must stay exchange-free, and the MinHash
band shuffle must carry ids only (never shingle payloads).
"""

import contextlib
import io

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from cypher_guard_spark.spark import build_session

    s = build_session("plan-tests", cores=2, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_relational_filters_pushed_and_dims_broadcast(spark):
    from cypher_guard_spark.ops import relational

    plan = plan_of(relational.q3_unshipped_revenue(spark, SF_DIR))
    assert "PushedFilters: [" in plan and "IsNotNull" in plan
    assert "BroadcastHashJoin" in plan
    # the date filters must reach the lineitem/orders scans
    assert plan.count("PushedFilters") >= 2


def test_text_ops_are_map_only(spark):
    from cypher_guard_spark.ops import text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for op in (text.token_count, text.quality_scores, text.language_id,
               text.fingerprints, text.bpe_ish_token_count):
        plan = plan_of(op(docs))
        assert "Exchange" not in plan, op.__name__


def test_canonicalize_join_broadcasts_entity_map(spark):
    from cypher_guard_spark.pipeline.canonicalize import canonicalize_triples
    from cypher_guard_spark.pipeline.mentions import extract_triples_raw
    from cypher_guard_spark.pipeline.synth import synthesize_documents

    docs = synthesize_documents(spark, 50)
    triples = extract_triples_raw(docs)
    emap = spark.createDataFrame(
        [("Person", "a b", "a b")], ["label", "surface", "canonical"]
    )
    plan = plan_of(canonicalize_triples(triples, emap))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_band_exchange_carries_ids_only(spark):
    """The band self-join must never shuffle shingle arrays: every
    exchange partitioned on (band, bh) carries only ids + band keys.
    Broadcasting is disabled for the check so the band join takes the
    shuffle path it would take at scale."""
    import re

    from cypher_guard_spark.ops.dedup import minhash_near_duplicates

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = plan_of(minhash_near_duplicates(docs, threshold=0.3))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # formatted mode: each "(N) Exchange" block lists its payload under
    # "Input [n]: [...]" and its keys under "Arguments: hashpartitioning(...)"
    blocks = re.findall(
        r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\s*\n"
        r"Arguments: hashpartitioning\(([^)]*)\)",
        plan,
    )
    band_exchanges = [
        payload for payload, keys in blocks if "band" in keys or "bh#" in keys
    ]
    assert band_exchanges, plan[:3000]
    for payload in band_exchanges:
        assert "sh#" not in payload, payload


def test_validate_udf_single_arrow_stage_no_exchange(spark):
    from cypher_guard_spark.pipeline.synth import pipeline_db_schema
    from cypher_guard_spark.spark import validate_dataframe

    df = spark.createDataFrame([("MATCH (p:Person) RETURN p.firstName",)], ["cypher"])
    plan = plan_of(validate_dataframe(spark, df, pipeline_db_schema()), "simple")
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan


def test_ivf_index_probe_prunes_partitions(spark, tmp_path):
    """VERDICT r2 #6: the at-rest IVF layout must actually prune — probing
    a 1-query/nprobe=2 workload against an 8-cell index has to plan a scan
    whose PartitionFilters restrict centroid_id to the probed cells (i.e.
    the 100-TB probe reads nprobe directories, not the corpus)."""
    from cypher_guard_spark.ops import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") == 0)
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(emb, path, n_centroids=8, iters=2)
    plan = plan_of(similarity.ivf_probe_indexed(spark, path, queries, k=5, nprobe=2))
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf_lines, plan
    hit = [ln for ln in pf_lines if "centroid_id" in ln and "IN (" in ln.upper()]
    assert hit, pf_lines
    # 1 query x nprobe=2 -> at most 2 of the 8 cells named in the predicate
    import re

    cells = re.findall(r"\d+", hit[0].split("IN")[-1])
    assert 1 <= len(set(cells)) <= 2, hit[0]


def test_similarity_topk_windows_plan_group_limits(spark):
    """Every per-query top-k rank window must plan under a
    WindowGroupLimit, so each partition keeps only k rows per query
    before the sort: at least one limit per Window node in the executed
    plan of each top-k kernel."""
    import re

    from cypher_guard_spark.ops import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    codebooks = similarity.train_pq(emb, m=4, k=16, iters=2)
    pq_queries = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    kernels = {
        "brute_force_topk": similarity.brute_force_topk(emb, queries, k=10),
        "ann_lsh_topk": similarity.ann_lsh_topk(emb, queries, k=5, bits=8),
        "ivf_topk": similarity.ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=2),
        "pq_topk": similarity.pq_topk(emb, codebooks, pq_queries, k=5),
        "ivfpq_topk": similarity.ivfpq_topk(
            emb, queries, k=5, n_centroids=8, nprobe=2, m=4, pq_k=16
        ),
        "hard_negatives": similarity.hard_negatives(
            emb, emb.where(F.col("vec_id") < 50), k=20, per_anchor=5
        ),
    }
    for name, df in kernels.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        windows = len(re.findall(r"\bWindow\b", plan))
        limits = plan.count("WindowGroupLimit")
        assert windows >= 1 and limits >= windows, (name, limits, windows, plan)


def test_sampling_and_pii_map_only_topngrams_take_ordered(spark):
    """stratified_sample and pii_counts must stay exchange-free (the keep
    predicate / regex counts evaluate inside the scan's codegen stage);
    top_ngrams must end in TakeOrderedAndProject (top-k without a global
    sort) over at most the two aggregation exchanges the countDistinct
    rewrite needs."""
    from cypher_guard_spark.ops.sample import length_bucket, stratified_sample
    from cypher_guard_spark.ops.text import pii_counts, top_ngrams

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(
        stratified_sample(docs, length_bucket(), {0: 1.0, 1: 0.5}).select(
            "doc_id", "stratum"
        )
    )
    assert "Exchange" not in plan, plan
    plan = plan_of(pii_counts(docs))
    assert "Exchange" not in plan, plan
    plan = plan_of(top_ngrams(docs, n=2, k=20), mode="simple")
    assert "TakeOrderedAndProject" in plan
    n_exchanges = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_exchanges <= 2, plan


def test_decontam_broadcasts_benchmark_and_repetition_map_only(spark):
    """The 100-TB postures of the new curation ops: the benchmark n-gram
    side of decontamination must BROADCAST (the corpus side stays map-only
    up to the single doc_id partial-agg shuffle, never a sort-merge join
    on n-grams), repetition_scores must be exchange-free (per-row sorted
    fold, no explode->groupBy), and source_mix must need at most the two
    exchanges of the countDistinct rewrite."""
    from cypher_guard_spark.ops.decontam import contamination_report
    from cypher_guard_spark.ops.text import repetition_scores, source_mix

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    plan = plan_of(contamination_report(corpus, bench, n=3))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    plan = plan_of(repetition_scores(docs))
    assert "Exchange" not in plan, plan

    plan = plan_of(source_mix(docs), mode="simple")
    n_exchanges = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_exchanges <= 2, plan


def test_semantic_dedup_no_cartesian_on_corpus(spark):
    """SemDeDup's pairwise stage must be an equi-join on centroid_id —
    the only nested-loop joins allowed are the k-row centroid broadcasts
    of the assignment step."""
    from cypher_guard_spark.ops.dedup import semantic_duplicates

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(semantic_duplicates(emb, n_clusters=4, threshold=0.3))
    assert "CartesianProduct" not in plan, plan


def test_quantize_map_only_and_line_dedup_broadcast_filter(spark):
    """int8 quantization with precomputed ranges must be a single map-only
    pass (the lo/span vectors live in the plan as literals — zero
    exchanges at any corpus size); line_dedup's boilerplate filter must
    anti-join via broadcast, never sort-merge on the digest."""
    from cypher_guard_spark.ops.dedup import line_dedup
    from cypher_guard_spark.ops.similarity import dim_ranges, quantize_embeddings

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ranges = dim_ranges(emb)
    plan = plan_of(quantize_embeddings(emb, ranges=ranges))
    assert "Exchange" not in plan, plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "text", F.regexp_replace(F.col("text"), r"((?:\S+\s+){7}\S+)\s+", "$1\n")
    )
    plan = plan_of(line_dedup(docs, min_docs=2))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_centroid_assignment_map_only(spark):
    """_assign bakes the k collected centroids into the plan as literals —
    the assignment of the (arbitrarily large) corpus must plan with ZERO
    exchanges (the old crossJoin+groupBy(vid) shape re-shuffled the full
    corpus per assignment call)."""
    from cypher_guard_spark.ops.similarity import (
        _assign,
        _to_double,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = kmeans_centroids(emb, k=4, iters=1)
    vecs = emb.select(
        F.col("vec_id").alias("vid"), _to_double("embedding").alias("v")
    )
    plan = plan_of(_assign(vecs, cents))
    assert "Exchange" not in plan, plan


def test_tfidf_rarity_column_pruned_scan_and_no_python(spark):
    """The shared doc_token_freqs base must (a) prune the documents scan
    to (doc_id, text) — a corpus-statistics pass never reads the other
    columns — and (b) stay pure-JVM (no ArrowEvalPython / BatchEvalPython
    anywhere in either scorer)."""
    from cypher_guard_spark.ops import text

    # another module may have cached the documents parquet; a matching
    # cached InMemoryRelation replaces the scan and carries ALL columns,
    # hiding exactly the pruning this test asserts
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for df in (
        text.tfidf_keywords(docs, k=3),
        text.rarity_scores(docs),
    ):
        plan = plan_of(df)
        assert "ReadSchema" in plan
        # the scan schema line must not mention the unused columns
        read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert read and all(
            "source" not in ln and "n_chars" not in ln for ln in read
        ), read
        assert "EvalPython" not in plan


def test_entity_similarity_no_cartesian(spark):
    """The shared-neighbor self-join must be an equi-join on the blocking
    neighbor key — never a cartesian/broadcast-nested-loop over entities."""
    from cypher_guard_spark.pipeline.graph_algo import entity_similarity

    e = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "y"), ("d", "y")],
        "src string, dst string",
    )
    plan = plan_of(entity_similarity(e, threshold=0.0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_negative_samples_single_explode_no_python_no_join(spark):
    """The alias table is plan literals: beyond the pair input, drawing is
    one generator explode + array lookups — no join, no Python eval."""
    from cypher_guard_spark.pipeline.graph_algo import walk_negative_samples

    pairs = spark.createDataFrame([("a", "b"), ("b", "c")], ["center", "context"])
    freq = spark.createDataFrame(
        [("a", 3), ("b", 2), ("c", 1)], ["vertex", "cnt"]
    )
    plan = plan_of(walk_negative_samples(pairs, freq, k=4))
    for bad in ("ArrowEvalPython", "BatchEvalPython", "SortMergeJoin",
                "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in plan, bad
    assert plan.count("Exchange") == 0  # map-only over the local pair relation


def test_entity_cooccurrence_broadcasts_freq_tables(spark):
    """The per-entity doc-frequency table joins back via broadcast, and no
    cartesian product appears anywhere in the pair generation."""
    from cypher_guard_spark.pipeline.graph_algo import entity_cooccurrence

    triples = spark.createDataFrame(
        [("d1", "a", "R", "b"), ("d2", "a", "R", "c")],
        "doc_id string, subj string, pred string, obj string",
    )
    plan = plan_of(entity_cooccurrence(triples))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # both freq joins broadcast


def test_dsir_broadcasts_distributions_no_python(spark):
    """DSIR: both ≤B-row distribution tables ride BroadcastHashJoins,
    totals ride broadcast-loop joins (1-row), the corpus never sorts
    through a SortMergeJoin, and no Python UDF appears anywhere."""
    from cypher_guard_spark.ops.sample import dsir_weights

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = dsir_weights(
        docs.where(F.col("doc_id") % 23 != 0),
        docs.where(F.col("doc_id") % 23 == 0),
        buckets=256,
    )
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_katz_no_python_no_cartesian(spark):
    """Katz: per-hop joins are equi-joins (no cartesian beyond none at
    all — the vertex-set fold joins are keyed), pure JVM."""
    from cypher_guard_spark.pipeline.graph_algo import katz_centrality

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("b", "d")], ["src", "dst"]
    )
    plan = plan_of(katz_centrality(spark, edges, k=3))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_vocab_growth_single_corpus_exchange_and_broadcast_max(spark):
    """vocab_growth: max_id rides a broadcast nested loop (1 row); the
    only corpus-sized exchanges are the two partial aggs (first-occurrence
    + per-doc checkpoint); no sort-merge join, no Python."""
    from cypher_guard_spark.ops.text import vocab_growth

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(vocab_growth(docs, n_checkpoints=10))
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row max_id crossJoin


def test_cross_source_matrix_pairs_side_joins_keyed(spark):
    """Matrix joins are id-keyed (no cartesian); the near-dup pair list
    is the only thing flowing into the final grouping."""
    from cypher_guard_spark.ops.dedup import cross_source_dup_matrix

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(cross_source_dup_matrix(docs, threshold=0.3))
    assert "CartesianProduct" not in plan


def test_pipeline_write_stage_plans_locked(spark, tmp_path, monkeypatch):
    """The optimized logical plans of the `merge_batches` and `verdicts`
    stage frames of one `run_pipeline` call at 4,000 synthesized docs,
    with expression ids stripped, equal the recorded ones in
    tests/golden/pipeline_write_plans.json: the statement rendering and
    the single Arrow verdict stage are the timed path of the pipeline
    benchmark, so a refactor of codegen or the guard UDF must leave them
    as they are. Regenerate the file only for a deliberate plan change."""
    import json
    import re
    from pathlib import Path

    from cypher_guard_spark.pipeline import lineage, run_pipeline, synthesize_documents

    plans = {}
    stage = lineage.CheckpointManager.stage

    def recording_stage(self, name, compute, key_cols, materialize=True):
        def build():
            df = compute()
            if name in ("merge_batches", "verdicts"):
                text = df._jdf.queryExecution().optimizedPlan().toString()
                plans[name] = re.sub(r"#\d+L?", "", text)
            return df

        return stage(self, name, build, key_cols, materialize)

    monkeypatch.setattr(lineage.CheckpointManager, "stage", recording_stage)
    run_pipeline(
        spark, synthesize_documents(spark, 4000), checkpoint_dir=str(tmp_path / "ck")
    )
    golden = Path(__file__).parent / "golden" / "pipeline_write_plans.json"
    assert plans == json.loads(golden.read_text())

"""Pipeline correctness (SURVEY.md §5.2 steps 3-4): span-sequence equality,
triple P/R ≥ 0.95, MERGE-batch validation gate, checkpoint/resume."""

import os
import shutil

import pytest

pyspark = pytest.importorskip("pyspark")

N_DOCS = 400


@pytest.fixture(scope="session")
def spark():
    from cypher_guard_spark.spark import build_session

    spark = build_session("pipeline-tests", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def corpus(spark):
    from cypher_guard_spark.pipeline import ground_truth_triples, synthesize_documents

    docs = synthesize_documents(spark, N_DOCS).cache()
    gt = ground_truth_triples(spark, N_DOCS).cache()
    return docs, gt


@pytest.fixture(scope="module")
def result(spark, corpus, tmp_path_factory):
    from cypher_guard_spark.pipeline import run_pipeline

    docs, _ = corpus
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    return run_pipeline(spark, docs, checkpoint_dir=ckpt), ckpt


def test_determinism_of_synthesis(spark, corpus):
    from cypher_guard_spark.pipeline import synthesize_documents

    docs, _ = corpus
    docs2 = synthesize_documents(spark, N_DOCS)
    a = {r["doc_id"]: r["spans"] for r in docs.collect()}
    b = {r["doc_id"]: r["spans"] for r in docs2.collect()}
    assert a == b


def test_span_sequence_invariant(spark, corpus, result):
    """(kind, text, media_ref, order) preserved per row through the
    checkpointed documents stage (input_hint per-row invariant)."""
    from cypher_guard_spark.pipeline.evaluate import span_sequence_check

    docs, _ = corpus
    out, _ = result
    assert span_sequence_check(docs, out["documents"]) == 0


def test_offsets_strictly_increasing(corpus):
    docs, _ = corpus
    from pyspark.sql import functions as F

    bad = docs.where(
        F.exists(
            F.expr("transform(slice(spans, 2, size(spans)), (s, i) -> s.offset <= spans[i].offset)"),
            lambda x: x,
        )
    ).count()
    assert bad == 0


def test_triple_precision_recall(spark, corpus, result):
    from cypher_guard_spark.pipeline.evaluate import triple_prf

    _, gt = corpus
    out, _ = result
    prf = triple_prf(out["triples"], gt)
    assert prf["precision"] >= 0.95, prf
    assert prf["recall"] >= 0.95, prf
    # and the task is not vacuous: some canonicalization actually happened
    variants = out["entity_map"].where("surface != canonical").count()
    assert variants > 0


def test_extraction_pr_entry_reports_contract(spark):
    """kg_extraction_pr — the north rule's headline metric as a queryable
    one-row entry — must clear the ≥0.95 floor at its contract corpus
    size (_PR_DOCS == this module's N_DOCS) and agree exactly with the
    serial twin's integer counts."""
    import __spark_entry__ as entry_mod

    assert entry_mod._PR_DOCS == N_DOCS
    row = entry_mod.q_kg_extraction_pr(spark, "").collect()[0].asDict()
    assert row["triple_precision"] >= 0.95, row
    assert row["triple_recall"] >= 0.95, row
    # exact-count agreement with the pure-Python twin
    e = {
        t[:4] for t in entry_mod._py_kg_canonical_triples(entry_mod._PR_DOCS)
    }
    g = set(entry_mod._py_gt_triples(entry_mod._PR_DOCS))
    assert row["emitted"] == len(e)
    assert row["ground_truth"] == len(g)
    assert row["matched"] == len(e & g)
    # f1 is the cleared-denominator identity over the same integers
    assert row["triple_f1"] == round(2.0 * len(e & g) / (len(e) + len(g)), 6)


def test_all_merge_batches_validate(result):
    out, _ = result
    v = out["verdicts"]
    assert v.count() > 0
    assert v.where("NOT is_valid").count() == 0


def test_merge_batches_stay_in_supported_grammar(result):
    """Every emitted batch must parse and validate in-process too (no
    Spark round-trip masking)."""
    from cypher_guard_spark.guard import has_valid_cypher
    from cypher_guard_spark.pipeline import pipeline_db_schema

    out, _ = result
    schema = pipeline_db_schema()
    for row in out["merge_batches"].limit(5).collect():
        assert has_valid_cypher(row["cypher"], schema), row["cypher"][:200]


def test_merge_batches_take_template_fast_path(result):
    """Every emitted batch is recognized by the codegen-MERGE template and
    parses to the full parser's AST: codegen drift cannot silently fall
    off the fast path."""
    from cypher_guard_spark.guard.parser.clauses import _parse_full
    from cypher_guard_spark.guard.parser.template import parse_codegen_merge

    out, _ = result
    batches = [r["cypher"] for r in out["merge_batches"].collect()]
    assert batches
    for cypher in batches:
        ast = parse_codegen_merge(cypher)
        assert ast is not None, cypher[:200]
        assert ast == _parse_full(cypher)


def test_lineage_rows_cover_all_stages(result):
    out, _ = result
    stages = {r["stage"] for r in out["lineage"]}
    assert {
        "documents",
        "triples_raw",
        "mentions",
        "link_stats",
        "entity_map",
        "triples",
        "merge_batches",
        "verdicts",
    } <= stages


WRITTEN_STAGES = (
    "triples_raw",
    "link_stats",
    "entity_map",
    "triples",
    "merge_batches",
    "verdicts",
)
ALL_STAGES = ("documents", "mentions") + WRITTEN_STAGES


def _checksums(lineage) -> dict:
    from cypher_guard_spark.pipeline.lineage import global_checksum

    return {s: global_checksum(lineage, s) for s in ALL_STAGES}


def test_fresh_run_lineage_finalize_starts_no_job(spark, corpus, tmp_path, monkeypatch):
    """On a fresh checkpointed run every stage's (rows, checksum) rode a
    write, so finalize() has nothing left to scan."""
    from cypher_guard_spark.pipeline import run_pipeline
    from cypher_guard_spark.pipeline.lineage import CheckpointManager

    sc = spark.sparkContext
    group = "lineage-finalize-test"
    finalize = CheckpointManager.finalize

    def grouped(self):
        sc.setJobGroup(group, group)
        try:
            finalize(self)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(CheckpointManager, "finalize", grouped)
    docs, _ = corpus
    out = run_pipeline(spark, docs, checkpoint_dir=str(tmp_path / "ckpt"))
    assert {r["stage"] for r in out["lineage"]} == set(ALL_STAGES)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_written_stages_have_one_lineage_row_with_table_count(spark, result):
    out, ckpt = result
    for stage in WRITTEN_STAGES:
        rows = [r for r in out["lineage"] if r["stage"] == stage]
        assert len(rows) == 1, (stage, rows)
        assert rows[0]["partition_id"] == -1
        table = spark.read.format(os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet"))
        assert rows[0]["rows"] == table.load(f"{ckpt}/{stage}").count(), stage


def test_lineage_table_reads_back_as_written(spark, result):
    """The `_lineage` parquet of the fresh run holds exactly its lineage
    rows, under the declared schema."""
    out, ckpt = result
    back = spark.read.parquet(f"{ckpt}/_lineage")
    assert back.schema.simpleString() == (
        "struct<stage:string,partition_id:bigint,rows:bigint,"
        "checksum:bigint,wall_ms:double>"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, out["lineage"]))


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_frame_schema_matches_list_path(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cypher_guard_spark.pipeline.lineage import LINEAGE_SCHEMA
    from cypher_guard_spark.spark.session import local_frame

    cases = [
        (
            [("verdicts", -1, 12, -(2**63), 1.5), ("documents", 3, 0, -7, 0.0)],
            LINEAGE_SCHEMA,
        ),
        ([], LINEAGE_SCHEMA),
        ([(None, None, None)], "label string, surface string, mapped_comp long"),
        ([("e", [1.0, None]), ("f", None)], "entity string, emb array<double>"),
        ([(2**63 - 1,), (-1,)], "`x y` long"),
        (
            [("a", 1), ("b", None)],
            StructType(
                [
                    StructField("k", StringType(), nullable=False),
                    StructField("v", LongType(), nullable=True),
                ]
            ),
        ),
    ]
    for rows, schema in cases:
        got = local_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema, schema
        assert [f.nullable for f in got.schema] == [f.nullable for f in want.schema]
        assert got.collect() == want.collect(), schema
        plan = _executed_plan(got)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_driver_built_frames_are_local_table_scans(spark, result, tmp_path, monkeypatch):
    """The entity-map fast path, the CC driver path's comp_map, the
    near-dup clusters' driver-path assignment and the `_lineage` frame
    reach the JVM as one Arrow batch: a LocalTableScan, no Python-RDD
    scan that would start workers to re-pickle the rows."""
    from cypher_guard_spark.ops.dedup import neardup_clusters
    from cypher_guard_spark.pipeline import lineage
    from cypher_guard_spark.pipeline.canonicalize import (
        build_entity_map,
        connected_components,
    )
    from cypher_guard_spark.spark.session import local_frame

    def local_only(df):
        plan = _executed_plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

    out, _ = result
    local_only(build_entity_map(spark, out["link_stats"]))

    # vertices come from the parquet table, so a LocalTableScan in the
    # result can only be comp_map
    vertices = out["link_stats"].select("label", "surface")
    (label, a), (_, b) = (
        vertices.where(vertices.label == "Person").orderBy("surface").take(2)
    )
    edges = local_frame(spark, [(label, a, b)], "label string, a string, b string")
    comps = connected_components(spark, vertices, edges)
    local_only(comps)
    assert comps.where(comps.surface.isin(a, b)).select("comp").distinct().count() == 1

    # documents come from parquet: the LocalTableScan is the assignment
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    clusters = neardup_clusters(spark, docs, threshold=0.3)
    local_only(clusters)
    assert clusters.where("cluster_size > 1").count() > 0

    built = []

    def spy(*args):
        built.append(local_frame(*args))
        return built[-1]

    monkeypatch.setattr(lineage, "local_frame", spy)
    cm = lineage.CheckpointManager(spark, str(tmp_path / "ckpt"))
    cm.lineage = list(out["lineage"])
    cm.write_lineage()
    (ldf,) = built
    local_only(ldf)


def test_pass_through_lineage_matches_independent_hash(spark, corpus, result):
    """documents/mentions are observed on their consumer's write (one
    partition_id=-1 row each); the values equal a direct hash of frames
    rebuilt from the corpus."""
    from pyspark.sql import functions as F

    from cypher_guard_spark.pipeline.lineage import global_checksum
    from cypher_guard_spark.pipeline.mentions import (
        extract_triples_raw,
        mentions_from_triples,
    )

    docs, _ = corpus
    out, _ = result
    mentions = mentions_from_triples(extract_triples_raw(docs))
    for stage, frame, key in (("documents", docs, "doc_id"), ("mentions", mentions, "mention_id")):
        assert [r["partition_id"] for r in out["lineage"] if r["stage"] == stage] == [-1]
        want = frame.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(key))).first()
        assert global_checksum(out["lineage"], stage) == (want[0], want[1]), stage


def test_in_memory_run_has_lineage_for_every_stage(spark, corpus, result):
    """checkpoint_dir=None: consumers are lazy localCheckpoints, which would
    complete a pass-through observation with 0 rows, so every stage is
    scanned — and agrees with the checkpointed run."""
    from cypher_guard_spark.pipeline import run_pipeline

    docs, _ = corpus
    out, _ = result
    mem = run_pipeline(spark, docs, checkpoint_dir=None)
    assert {r["stage"] for r in mem["lineage"]} == set(ALL_STAGES)
    assert _checksums(mem["lineage"]) == _checksums(out["lineage"])


@pytest.mark.parametrize("bad", [0, -1])
def test_run_pipeline_rejects_salt_buckets_below_one(spark, corpus, tmp_path, bad):
    from cypher_guard_spark.pipeline import run_pipeline

    docs, _ = corpus
    with pytest.raises(ValueError, match="salt_buckets"):
        run_pipeline(spark, docs, checkpoint_dir=str(tmp_path), salt_buckets=bad)
    assert list(tmp_path.iterdir()) == []


@pytest.mark.parametrize("bad", [0, -1])
def test_run_pipeline_rejects_statements_per_batch_below_one(spark, corpus, tmp_path, bad):
    from cypher_guard_spark.pipeline import run_pipeline

    docs, _ = corpus
    with pytest.raises(ValueError, match="statements_per_batch"):
        run_pipeline(spark, docs, checkpoint_dir=str(tmp_path), statements_per_batch=bad)
    assert list(tmp_path.iterdir()) == []


def test_resume_skips_completed_stages_and_reproduces(spark, corpus, result):
    """Kill-after-stage-N simulation: wipe downstream outputs, rerun, and
    require (a) upstream stages resumed not recomputed, (b) identical
    triples checksum (partition-invariant XOR)."""
    from cypher_guard_spark.pipeline import run_pipeline
    from cypher_guard_spark.pipeline.lineage import global_checksum

    docs, _ = corpus
    out, ckpt = result
    rows_before, csum_before = global_checksum(out["lineage"], "triples")

    # simulate a crash after entity_map: downstream outputs lost
    for stage in ("triples", "merge_batches", "verdicts"):
        shutil.rmtree(f"{ckpt}/{stage}", ignore_errors=True)

    out2 = run_pipeline(spark, docs, checkpoint_dir=ckpt)
    # documents/mentions are materialize=False (lineage-only pass-through
    # stages) so they recompute by design; every checkpointed upstream
    # stage must resume from its table instead of recomputing
    assert {
        "triples_raw",
        "link_stats",
        "entity_map",
    } <= set(out2["resumed_stages"])
    assert "triples" not in out2["resumed_stages"]
    rows_after, csum_after = global_checksum(out2["lineage"], "triples")
    assert (rows_before, csum_before) == (rows_after, csum_after)


def test_resumed_run_reproduces_every_stage_checksum(spark, corpus, result):
    """A rerun over complete checkpoints resumes every written stage, so
    the pass-through frames' consumers never write and documents/mentions
    fall back to the per-partition hash scan: all 8 stages' (rows,
    checksum) still equal the fresh run's."""
    from cypher_guard_spark.pipeline import run_pipeline

    docs, _ = corpus
    out, ckpt = result
    again = run_pipeline(spark, docs, checkpoint_dir=ckpt)
    assert set(again["resumed_stages"]) == set(WRITTEN_STAGES)
    for stage in ("documents", "mentions"):
        assert all(r["partition_id"] >= 0 for r in again["lineage"] if r["stage"] == stage)
    assert _checksums(again["lineage"]) == _checksums(out["lineage"])


def test_cc_driver_fast_path_matches_distributed_loop(spark):
    """The small-graph union-find fast path must be BIT-IDENTICAL to the
    iterative min-propagation loop — same (label, surface, comp) rows,
    including the min-xxhash64 component ids — so which path ran can never
    leak into checkpoints, resume checksums, or downstream canonical
    picks."""
    from cypher_guard_spark.pipeline.canonicalize import connected_components

    vertices = spark.createDataFrame(
        [
            ("Person", "john smith"),
            ("Person", "j. smith"),
            ("Person", "jane smith"),
            ("Person", "alice doe"),
            ("Company", "tech corp"),
            ("Company", "tech corp inc"),
            ("Company", "lone co"),
        ],
        schema="label string, surface string",
    )
    edges = spark.createDataFrame(
        [
            ("Person", "john smith", "j. smith"),
            ("Person", "j. smith", "jane smith"),
            ("Company", "tech corp", "tech corp inc"),
        ],
        schema="label string, a string, b string",
    )
    fast = connected_components(spark, vertices, edges)
    slow = connected_components(
        spark, vertices, edges, driver_smallgraph_max_edges=0
    )
    rows_fast = sorted(map(tuple, fast.collect()))
    rows_slow = sorted(map(tuple, slow.collect()))
    assert rows_fast == rows_slow
    # the chain {john, j., jane} collapses to ONE component; singletons
    # keep their own id
    comps = {r[1]: r[2] for r in rows_fast}
    assert comps["john smith"] == comps["j. smith"] == comps["jane smith"]
    assert comps["tech corp"] == comps["tech corp inc"]
    assert len({comps["lone co"], comps["alice doe"], comps["john smith"], comps["tech corp"]}) == 4


def test_entity_map_driver_path_matches_distributed(spark, corpus):
    """The small-vocabulary driver fast path (pure-Python blocking + CC +
    election) must produce EXACTLY the distributed DataFrame path's
    (label, surface, canonical) rows on a real corpus — including the
    minhash/LSH candidate set (hash-twin parity), the abbreviation
    popularity prior, and rep tiebreaks."""
    from cypher_guard_spark.pipeline.canonicalize import build_entity_map
    from cypher_guard_spark.pipeline.mentions import (
        extract_triples_raw,
        link_scores,
        mentions_from_triples,
    )

    docs, _ = corpus
    link_stats = link_scores(mentions_from_triples(extract_triples_raw(docs)))
    link_stats = link_stats.localCheckpoint()
    fast = build_entity_map(spark, link_stats)
    slow = build_entity_map(
        spark, link_stats, driver_smallmap_max_surfaces=0
    )
    rows_fast = sorted(map(tuple, fast.collect()))
    rows_slow = sorted(map(tuple, slow.collect()))
    assert rows_fast == rows_slow
    assert any(s != c for _, s, c in rows_fast)  # non-vacuous: variants map


def test_uncheckpointed_run_extracts_each_span_once(spark, monkeypatch):
    """Recompute-hazard regression (VERDICT r1 #3): with checkpoint_dir=None
    the flagship `entry()` path must not re-execute the extraction DAG per
    downstream consumer — lazy localCheckpoints + lineage-derived bucket
    hints mean every text span passes through the UDF exactly once."""
    from pyspark.sql import functions as F

    import cypher_guard_spark.pipeline.mentions as M
    from cypher_guard_spark.pipeline import run_pipeline, synthesize_documents
    from cypher_guard_spark.pipeline.mentions import text_spans

    acc = spark.sparkContext.accumulator(0)
    orig = M._extract_batch

    from collections.abc import Iterator

    import pandas as pd

    def counting_batch(
        series_iter: Iterator[pd.Series],
    ) -> Iterator[pd.DataFrame]:
        def counted(it):
            for s in it:
                acc.add(len(s))
                yield s

        yield from orig(counted(series_iter))

    monkeypatch.setattr(
        M, "extract_udf", F.pandas_udf(counting_batch, M.TRIPLE_STRUCT).asNondeterministic()
    )
    docs = synthesize_documents(spark, 60)
    n_spans = text_spans(docs).count()
    out = run_pipeline(spark, docs, checkpoint_dir=None)
    # consume the two terminal outputs like entry()/bench do
    out["verdicts"].write.format("noop").mode("overwrite").save()
    out["triples"].write.format("noop").mode("overwrite").save()
    assert acc.value == n_spans


def test_salted_link_scoring_spreads_hub_surface(spark):
    """VERDICT r2 #5 — skew stress for the salted link-scoring path
    (north_star names it): a corpus where ONE surface is 30% of all
    mentions.

    Max-task load is measured as rows-per-reduce-task via TaskContext
    inside the same grouped shuffle each plan uses — a deterministic
    stand-in for max-task wall (the per-row work here is uniform, so task
    wall is proportional to task rows; wall itself swings 2-3x on this
    host and would flake). Locks BEHAVIOR, not just plan shape:

    * unsalted groupBy(surface): the hub's rows all land on one reduce
      task (>= the 30% hub share);
    * salted groupBy(surface, salt): no task holds even half the hub;
    * the production operator's stats == the naive single-stage groupBy.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from cypher_guard_spark.pipeline import mentions as M

    n, hub_frac, buckets = 20_000, 0.3, 16
    hub_rows = int(n * hub_frac)
    base = spark.range(n).select(
        F.col("id").cast("string").alias("doc_id"),
        F.lit(0).alias("span_idx"),
        F.col("id").alias("mention_id"),
        F.when(F.col("id") < hub_rows, F.lit("Hub Corp"))
        .otherwise(F.concat(F.lit("Ent"), (F.col("id") % 500).cast("string")))
        .alias("surface"),
        F.lit("Company").alias("label"),
        ((F.col("id") % 97) / 100.0 + 0.01).alias("score"),
    )

    def rows_per_task(df, keys):
        def probe(pdf: pd.DataFrame) -> pd.DataFrame:
            from pyspark import TaskContext

            return pd.DataFrame(
                {"task_id": [TaskContext.get().partitionId()], "rows": [len(pdf)]}
            )

        per_group = df.groupBy(*keys).applyInPandas(probe, "task_id int, rows long")
        return (
            per_group.groupBy("task_id").agg(F.sum("rows").alias("rows")).toPandas()
        )

    # AQE's partition coalescing would merge this toy-sized shuffle into ONE
    # task and hide the skew entirely; at production scale partitions are
    # far above the advisory size and never coalesce away. Pin coalescing
    # off for the probe so the task layout has the at-scale shape.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key)
    try:
        spark.conf.set(coalesce_key, "false")
        unsalted = rows_per_task(base, ["surface", "label"])
        salted_input = base.withColumn(
            "salt",
            F.pmod(F.xxhash64("doc_id", "span_idx", "mention_id"), F.lit(buckets)),
        )
        salted = rows_per_task(salted_input, ["surface", "label", "salt"])
    finally:
        spark.conf.set(coalesce_key, prev)

    assert unsalted.rows.max() >= hub_rows  # the hub lands whole on one task
    assert salted.rows.max() < unsalted.rows.max() / 2  # salt spreads it
    assert salted.rows.sum() == unsalted.rows.sum() == n

    got = (
        M.link_scores(base, salt_buckets=buckets)
        .toPandas()
        .sort_values("surface")
        .reset_index(drop=True)
    )
    want = (
        base.groupBy("surface", "label")
        .agg(F.count("*").alias("n_mentions"), F.avg("score").alias("avg_score"))
        .toPandas()
        .sort_values("surface")
        .reset_index(drop=True)
    )
    assert (got.surface == want.surface).all()
    assert (got.n_mentions == want.n_mentions).all()
    assert (got.avg_score - want.avg_score).abs().max() < 1e-9
    hub_stat = got[got.surface == "Hub Corp"]
    assert int(hub_stat.n_mentions.iloc[0]) == hub_rows


def test_update_entity_map_incremental_rules(spark):
    from cypher_guard_spark.pipeline.canonicalize import update_entity_map

    old = spark.createDataFrame(
        [
            ("Company", "tech corp", "tech corp"),
            ("Company", "techh corp", "tech corp"),
            ("Person", "Mary Jones", "Mary Jones"),
        ],
        "label string, surface string, canonical string",
    )
    new_stats = spark.createDataFrame(
        [
            ("Company", "tech corp inc", 5),   # variant of an old entity
            ("Company", "zeta zeta systems", 3),  # novel cluster
            ("Company", "zeta zeta system", 1),
            ("Person", "M. Jones", 2),         # abbrev of an old full
            ("Person", "Mary Jones", 4),       # already known
            ("Company", "tech corp", 7),       # already known
        ],
        "label string, surface string, n_mentions long",
    )
    out = update_entity_map(spark, old, new_stats)
    got = {
        (r["label"], r["surface"]): (r["canonical"], r["status"])
        for r in out.collect()
    }
    assert got[("Company", "tech corp")] == ("tech corp", "existing")
    assert got[("Company", "techh corp")] == ("tech corp", "existing")
    assert got[("Person", "Mary Jones")] == ("Mary Jones", "existing")
    assert got[("Company", "tech corp inc")] == ("tech corp", "linked")
    assert got[("Person", "M. Jones")] == ("Mary Jones", "linked")
    assert got[("Company", "zeta zeta systems")] == (
        "zeta zeta systems",
        "new_entity",
    )
    assert got[("Company", "zeta zeta system")] == (
        "zeta zeta systems",
        "new_entity",
    )
    assert len(got) == 7

    # idempotence: feeding the updated map the same stats changes nothing
    again = update_entity_map(
        spark, out.select("label", "surface", "canonical"), new_stats
    )
    got2 = {
        (r["label"], r["surface"]): (r["canonical"], r["status"])
        for r in again.collect()
    }
    assert set(got2) == set(got)
    assert all(s == "existing" for _c, s in got2.values())
    assert {k: c for k, (c, _s) in got2.items()} == {
        k: c for k, (c, _s) in got.items()
    }


def test_update_entity_map_stickiness_and_empty_batch(spark):
    from cypher_guard_spark.pipeline.canonicalize import update_entity_map

    # stickiness: old assignment survives even when the new batch's counts
    # would elect a different rep in a from-scratch build
    old = spark.createDataFrame(
        [("Company", "acme gmbh", "acme gmbh")],
        "label string, surface string, canonical string",
    )
    new_stats = spark.createDataFrame(
        [("Company", "acme gmbhh", 10_000)],
        "label string, surface string, n_mentions long",
    )
    got = {
        (r["label"], r["surface"]): (r["canonical"], r["status"])
        for r in update_entity_map(spark, old, new_stats).collect()
    }
    assert got[("Company", "acme gmbh")] == ("acme gmbh", "existing")
    # the heavier novel variant ADOPTS the frozen canonical
    assert got[("Company", "acme gmbhh")] == ("acme gmbh", "linked")

    # empty batch: the map passes through as all-existing
    empty = spark.createDataFrame(
        [], "label string, surface string, n_mentions long"
    )
    got3 = update_entity_map(spark, old, empty).collect()
    assert [(r["surface"], r["status"]) for r in got3] == [
        ("acme gmbh", "existing")
    ]


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_name_pairs_complete_vs_bruteforce(spark):
    """Deletion-neighborhood blocking finds EXACTLY the brute-force
    Levenshtein pair set — completeness is the operator's contract."""
    from cypher_guard_spark.pipeline.canonicalize import fuzzy_name_pairs

    names = [
        "J. Smith", "K. Smith", "J Smith", "John Smith", "Jane Smith",
        "Acme Corp", "Acme Corpo", "Acme", "Bob", "Rob", "Bobb",
    ]
    rows = [("Person", n) for n in names] + [("Company", "Acme Corp")]
    df = spark.createDataFrame(rows, "label string, surface string")
    for k in (1, 2):
        got = {
            (r["label"], r["surface_a"], r["surface_b"]): r["dist"]
            for r in fuzzy_name_pairs(df, max_dist=k).collect()
        }
        want = {}
        for lab in ("Person", "Company"):
            pool = sorted({s for l, s in rows if l == lab})
            for i, a in enumerate(pool):
                for b in pool[i + 1:]:
                    d = _lev(a, b)
                    if d <= k:
                        want[(lab, a, b)] = d
        assert got == want, f"k={k}"
    # sanity: the k=1 set is non-trivial (substitution + deletion pairs)
    k1 = fuzzy_name_pairs(df, max_dist=1).collect()
    pairs = {(r["surface_a"], r["surface_b"]) for r in k1}
    assert ("J. Smith", "K. Smith") in pairs  # substitution
    assert ("Bob", "Bobb") in pairs  # insertion
    assert ("Bob", "Rob") in pairs


def test_fuzzy_name_pairs_label_split_and_jvm_only(spark):
    from cypher_guard_spark.pipeline.canonicalize import fuzzy_name_pairs

    df = spark.createDataFrame(
        [("Person", "Acme"), ("Company", "Acmee")],
        "label string, surface string",
    )
    # same strings, different labels: never paired
    assert fuzzy_name_pairs(df, max_dist=2).count() == 0
    plan = fuzzy_name_pairs(df, max_dist=1)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_kg_materialized_mode_is_row_identical(spark, tmp_path, monkeypatch):
    """Bench materialize-once mode (VERDICT r4 task 6): with
    $SPARK_GRAFT_KG_MATERIALIZED pointing at a parquet dump of the
    canonical chain, every canon-derived entry reads the table instead of
    rebuilding extraction -> entity map -> canonicalize — and the rows are
    IDENTICAL (the chain is a pure function of _KG_DOCS), so bench-mode
    numbers measure the same computation the oracle gates verify."""
    import __spark_entry__ as entry_mod

    monkeypatch.delenv("SPARK_GRAFT_KG_MATERIALIZED", raising=False)
    sf = "/root/testdata/sf0.001"
    fresh = sorted(
        map(tuple, entry_mod.queries()["kg_canonical_triples"](spark, sf).collect())
    )
    mat = str(tmp_path / "canonical")
    entry_mod._kg_canonical_full(spark).write.parquet(mat)
    monkeypatch.setenv("SPARK_GRAFT_KG_MATERIALIZED", mat)
    cached = sorted(
        map(tuple, entry_mod.queries()["kg_canonical_triples"](spark, sf).collect())
    )
    assert fresh == cached and len(fresh) > 0


def test_blocking_report_predicts_band_join_rows(spark):
    """sum(candidate_rows) equals EXACTLY the row count of the band
    self-join that minhash_candidate_pairs runs (before dedup), and the
    histogram matches a serial recomputation via the bit-exact oracle
    hashes; abbreviation surfaces are excluded just as in production."""
    from pyspark.sql import functions as F

    from cypher_guard_spark.pipeline.canonicalize import (
        _banded_surfaces,
        blocking_report,
        py_blocking_report,
    )

    rows = [
        ("Acme Corp", "Company"), ("Acme Corp Inc", "Company"),
        ("Acme Corporation", "Company"), ("Globex", "Company"),
        ("Nina Johnson", "Person"), ("Paula Johnson", "Person"),
        ("J. Smith", "Person"),  # abbreviation: excluded from blocking
        ("Acme Corp", "Person"),  # same surface, other label: own blocks
    ]
    surfaces = spark.createDataFrame(rows, ["surface", "label"])
    got = {
        r["block_size"]: (r["n_blocks"], r["candidate_rows"])
        for r in blocking_report(surfaces).collect()
    }

    # invariant: candidate_rows is the band self-join's pre-dedup size
    banded = _banded_surfaces(surfaces, 16, 8)
    l, r = banded.alias("l"), banded.alias("r")
    join_rows = l.join(
        r,
        on=[
            F.col("l.label") == F.col("r.label"),
            F.col("l.band") == F.col("r.band"),
            F.col("l.band_hash") == F.col("r.band_hash"),
            F.col("l.surface") < F.col("r.surface"),
        ],
    ).count()
    assert sum(c for _, c in got.values()) == join_rows

    # serial twin via the oracle hashes
    twin = py_blocking_report([(label, surf) for surf, label in rows], 16, 8)
    want = {s: (nb, cr) for s, nb, cr in twin}
    assert got == want
    # the abbreviation surface contributes no block at all
    assert sum(nb for nb, _ in got.values()) == sum(nb for _, nb, _ in twin)


@pytest.mark.parametrize("on_error", ["raise", "skip"])
def test_apply_merge_parses_each_statement_once(spark, monkeypatch, on_error):
    """`apply_merge_batches` feeds the refusal check, the node branch and
    both edge endpoints from one parse: applying 7 statements and counting
    nodes and edges runs the guard parse 7 times, not once per consumer."""
    import cypher_guard_spark.pipeline.apply_merge as AM

    acc = spark.sparkContext.accumulator(0)
    orig = AM._parse_statement

    def counting_parse(stmt, schema):
        acc.add(1)
        return orig(stmt, schema)

    monkeypatch.setattr(AM, "_parse_statement", counting_parse)
    lines = [
        "MERGE (p:Person {firstName: 'Ada', lastName: 'Lovelace'})",
        "MERGE (c:Company {companyName: 'Acme'})",
        "MERGE (l:Location {city: 'Berlin'})",
        "MERGE (a:Person {firstName: 'Ada', lastName: 'Lovelace'})-[:WORKS_FOR]->(b:Company {companyName: 'Acme'})",
        "MERGE (a:Company {companyName: 'Acme'})-[:LOCATED_IN]->(b:Location {city: 'Berlin'})",
        "MERGE (a:Person {firstName: 'Alan', lastName: 'Turing'})-[:KNOWS]->(b:Person {firstName: 'Ada', lastName: 'Lovelace'})",
        "MERGE (p:Person {firstName: 'Alan', lastName: 'Turing'})",
    ]
    batches = spark.createDataFrame([("\n".join(lines[:4]),), ("\n".join(lines[4:]),)], ["cypher"])
    nodes, edges = AM.apply_merge_batches(spark, batches, on_error=on_error)
    assert (nodes.count(), edges.count()) == (4, 3)
    assert acc.value == len(lines)

"""Entity canonicalization: min-hash blocking + abbreviation blocking →
connected components → representative election.

All similarity machinery is JVM-side (whole-stage codegen): character
3-gram shingles via `transform(sequence(...))`, K min-hashes via
`array_min(transform(shingles, x -> hash(x, seed)))`, banded LSH self-join
for candidates, exact Jaccard verification on the survivors. Python never
touches a row here.

Connected components is the standard iterative min-id propagation
(GraphFrames-style large-star flavor): each round joins labels to edges,
takes the min neighbor component, and localCheckpoints to cut lineage.
Surface-variant chains in this domain have diameter ≤ 3, so convergence is
a handful of rounds; the loop is count-guarded, not fixed.

The `py_*` functions are the serial twins of the kernels they follow; the
driver fast paths (`_driver_entity_map`, `_driver_union_find`) and the
VALUES oracles are built from them.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle import components, minhash_band_keys, spark_xxhash64
from ..spark.session import local_frame

# "J. Smith"-style abbreviations: excluded from MinHash blocking, resolved
# by the initial + last-name blocker instead (see minhash_candidate_pairs)
_ABBREV = r"^[A-Z]\. "
_is_abbrev = re.compile(_ABBREV).match


def surface_shingles(surfaces: DataFrame, col: str = "surface") -> DataFrame:
    """+ `shingles`: distinct lowercase character 3-grams."""
    norm = F.lower(F.col(col))
    return surfaces.withColumn(
        "shingles",
        F.expr(
            f"array_distinct(transform(sequence(1, greatest(length(lower({col})) - 2, 1)),"
            f" i -> substring(lower({col}), i, 3)))"
        ),
    ).withColumn("_norm", norm)


def py_surface_shingles(surface: str) -> list[str]:
    """Serial twin of `surface_shingles`: the distinct lowercase character
    3-grams in first-seen order, with the engine's 1-based substring and
    one-gram floor for surfaces shorter than 3 characters."""
    low = surface.lower()
    return list(dict.fromkeys(low[i : i + 3] for i in range(max(len(low) - 2, 1))))


def lsh_bands(shingles: str, num_hashes: int, bands: int) -> Column:
    """array<struct<band, bh>>: the MinHash LSH band keys of the array
    column `shingles` — band b's `bh` is xxhash64 over its
    `num_hashes // bands` minhashes `array_min(transform(sh, x -> hash(x,
    b * rows_per_band + r)))`, matching `oracle.minhash_band_keys`.

    ONE expression binding the array once (array-wrap lambda): per-column
    minhash projections would let CollapseProject inline the shingle
    computation into each of the `num_hashes` columns (measured ~2x wall
    on the document dedup operator, docs/PERFORMANCE.md §1). `hash(x, k)`
    with k an int expression hashes k as a second argument, same as the
    literal form."""
    rows_per_band = num_hashes // bands
    band_struct = (
        "named_struct('band', b, 'bh', xxhash64("
        + ", ".join(
            f"array_min(transform(sh, x -> hash(x, b * {rows_per_band} + {r})))"
            for r in range(rows_per_band)
        )
        + "))"
    )
    return F.expr(
        f"transform(array({shingles}), sh -> transform(sequence(0, {bands - 1}), "
        f"b -> {band_struct}))[0]"
    )


def _banded_surfaces(
    surfaces: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(surface, label, band, band_hash) LSH keys of the non-abbreviation
    surfaces — the blocking keys of minhash_candidate_pairs,
    update_entity_map and blocking_report."""
    sh = surface_shingles(surfaces.where(~F.col("surface").rlike(_ABBREV)))
    return sh.select(
        "surface", "label", F.explode(lsh_bands("shingles", num_hashes, bands)).alias("bb")
    ).select("surface", "label", "bb.band", F.col("bb.bh").alias("band_hash"))


def py_lsh_buckets(surfaces, num_hashes: int, bands: int) -> dict:
    """Serial twin of `_banded_surfaces` grouped by bucket: {(label, band,
    band_hash): {surface: shingles}} over (label, surface) pairs,
    abbreviations excluded."""
    buckets: dict = {}
    for label, surface in surfaces:
        if _is_abbrev(surface):
            continue
        grams = py_surface_shingles(surface)
        for b, key in enumerate(minhash_band_keys(grams, num_hashes, bands)):
            buckets.setdefault((label, b, key), {})[surface] = grams
    return buckets


def py_verified_pairs(buckets: dict, jaccard_threshold: float, keep=None) -> set:
    """Serial twin of the band self-join + `_jaccard_verified` over
    `py_lsh_buckets` output: {(label, a, b)} with a < b for every
    same-bucket pair whose exact shingle Jaccard is >= the threshold,
    restricted to pairs with `keep(label, a, b)` when given."""
    pairs = set()
    for (label, _, _), members in buckets.items():
        names = sorted(members)
        for i, a in enumerate(names):
            for b in names[i + 1 :]:
                if keep is not None and not keep(label, a, b):
                    continue
                sa, sb = set(members[a]), set(members[b])
                if len(sa & sb) / len(sa | sb) >= jaccard_threshold:
                    pairs.add((label, a, b))
    return pairs


def _jaccard_verified(
    cand: DataFrame, surfaces: DataFrame, jaccard_threshold: float
) -> DataFrame:
    """Candidate pairs (label, a, b) → (label, a, b, sim) with exact
    shingle Jaccard sim >= `jaccard_threshold`.

    The band shuffle carries keys only; the deduplicated pairs re-join
    the one-copy shingle table of `surfaces` once per side, so the
    payload moves once per pair side, not ×bands. The surface table is
    ENTITY-sized, so two direct re-joins are payload-safe (unlike the
    document-scale ops/dedup.py, which semi-join-filters the shingle
    recompute to candidate ids) and keep this tiny stage's job count
    minimal."""
    sh = surface_shingles(surfaces).select("label", "surface", "shingles")
    ver = cand.join(
        sh.select("label", F.col("surface").alias("a"), F.col("shingles").alias("sa")),
        ["label", "a"],
    ).join(
        sh.select("label", F.col("surface").alias("b"), F.col("shingles").alias("sb")),
        ["label", "b"],
    )
    sim = F.size(F.array_intersect("sa", "sb")) / F.size(F.array_union("sa", "sb"))
    return ver.withColumn("sim", sim).where(F.col("sim") >= jaccard_threshold).select(
        "label", "a", "b", "sim"
    )


def minhash_candidate_pairs(
    surfaces: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """(label, a, b, sim) candidate pairs with exact-Jaccard verification.

    LSH: K=num_hashes min-hashes, grouped into `bands` bands of K/bands
    rows; pairs sharing any (band, band_hash) bucket become candidates.
    The self-join shuffles on (label, band, band_hash) — AQE's skew-join
    splitting covers pathological buckets.

    Abbreviation-form surfaces ("J. Smith") are excluded: they carry almost
    no lexical signal of their own ("a. smith" vs "j. smith" is Jaccard
    0.71 — pairing them chains entire last-name families into one
    component), and the dedicated initial+last-name resolver in
    `abbreviation_pairs` handles them with actual evidence. The 0.6
    threshold separates same-entity variants ("tech corp" / "tech corp
    inc" ≈ 0.76) from same-family false friends ("nina johnson" / "paula
    johnson" = 0.50).
    """
    banded = _banded_surfaces(surfaces, num_hashes, bands)
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            on=[
                F.col("l.label") == F.col("r.label"),
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col("l.surface") < F.col("r.surface"),
            ],
        )
        .select(
            F.col("l.label").alias("label"),
            F.col("l.surface").alias("a"),
            F.col("r.surface").alias("b"),
        )
        .dropDuplicates(["label", "a", "b"])
    )
    return _jaccard_verified(cand, surfaces, jaccard_threshold)


def abbreviation_pairs(link_stats: DataFrame) -> DataFrame:
    """Link 'J. Smith'-style abbreviations to their full expansion.

    Block key = (label, last token, first initial). Ambiguous blocks (two
    full names sharing an initial, e.g. John/Jane Smith) resolve to the
    most frequent expansion — a popularity prior that is deliberately,
    boundedly wrong for rare entities (see synth.py)."""
    persons = link_stats.where(F.col("label") == "Person")
    is_abbrev = F.col("surface").rlike(_ABBREV)
    key_last = F.element_at(F.split(F.col("surface"), " "), -1)
    key_init = F.substring(F.col("surface"), 1, 1)
    abbrevs = persons.where(is_abbrev).select(
        "label",
        F.col("surface").alias("a"),
        key_last.alias("k_last"),
        key_init.alias("k_init"),
    )
    fulls = persons.where(~is_abbrev).select(
        "label",
        F.col("surface").alias("b"),
        key_last.alias("k_last"),
        key_init.alias("k_init"),
        F.col("n_mentions"),
    )
    joined = abbrevs.join(fulls, ["label", "k_last", "k_init"])
    # argmax by mention count, surface as deterministic tiebreak
    best = joined.groupBy("label", "a").agg(
        F.max_by("b", F.struct(F.col("n_mentions"), F.col("b"))).alias("b")
    )
    return best.select("label", "a", "b", F.lit(1.0).alias("sim"))


def py_abbreviation_pairs(rows) -> list[tuple[str, str, str]]:
    """Serial twin of `abbreviation_pairs` over [(label, surface,
    n_mentions)]: (label, abbreviation, expansion) for every resolvable
    Person abbreviation, in row order; the expansion is the max
    (n_mentions, surface) full name sharing the last token and initial."""
    fulls: dict = {}
    for label, surface, n in rows:
        if label == "Person" and not _is_abbrev(surface):
            fulls.setdefault((surface.split(" ")[-1], surface[:1]), []).append((n, surface))
    out = []
    for label, surface, _ in rows:
        if label == "Person" and _is_abbrev(surface):
            cands = fulls.get((surface.split(" ")[-1], surface[:1]))
            if cands:
                out.append((label, surface, max(cands)[1]))
    return out


def _driver_union_find(edge_rows) -> dict:
    """{(label, surface): comp} for every NON-singleton vertex of the
    (label, a, b) edges, computed on the driver. comp = min over the
    component of xxhash64(label, surface) — bit-identical to the
    distributed min-propagation loop's result (the pure-Python xxhash64
    twin is parity-locked by tests/test_oracle_hashes)."""
    out: dict = {}
    for members in components(((l, a), (l, b)) for l, a, b in edge_rows):
        comp = min(spark_xxhash64(label, surface) for label, surface in members)
        for v in members:
            out[v] = comp
    return out


def connected_components(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 20,
    rows_per_partition: int = 100_000,
    rounds_per_check: int = 2,
    driver_smallgraph_max_edges: int = 100_000,
) -> DataFrame:
    """vertices(label, surface) + edges(label, a, b) → (label, surface, comp).

    comp = min xxhash64 id over the component; iterative min-propagation
    with localCheckpoint per driver action to keep the plan flat.

    SMALL-GRAPH FAST PATH: candidate-pair edges are ENTITY-pair-sized, not
    document-sized — often a few thousand rows even under a multi-million-
    document corpus. When the edge list fits under
    ``driver_smallgraph_max_edges`` (probed with ONE limit-collect job that
    early-exits the scan), union-find runs on the driver and the component
    map re-enters the plan as a broadcast join: the whole CC step costs one
    job instead of a vertex count + repartitions + k-round convergence
    checks — the dominant share of the pipeline's driver-serial
    orchestration floor. Vertices never leave the cluster (only edge
    endpoints are collected), and the output is bit-identical to the
    distributed loop (same min-hash component ids; locked by a test).
    Above the threshold — web-scale corpora with unbounded surface
    vocabularies — the iterative loop below takes over unchanged.

    Driver-serial cost of the distributed loop is bounded two ways:
    - the loop tables are explicitly hash-partitioned to a width sized to
      the VERTEX count (`repartition(cc_p, key)` — not a session-conf
      mutation, which is racy under concurrent jobs and invisible to AQE):
      the iteration runs over entities, orders of magnitude fewer than
      documents, and pushing a handful of rows through the session's full
      shuffle width multiplies per-task overhead by the round count;
    - `rounds_per_check` propagation rounds are chained into ONE Spark job
      per convergence check (min-propagation is monotone, so "no change
      across a k-round block" is still an exact fixed-point test). Surface-
      variant chains have diameter ≤ 3, so this halves the driver barriers
      on the common path.
    """
    vid = F.xxhash64("label", "surface")
    if driver_smallgraph_max_edges:
        probe = (
            edges.select("label", "a", "b")
            .limit(driver_smallgraph_max_edges + 1)
            .collect()
        )
        if len(probe) <= driver_smallgraph_max_edges:
            mapping = _driver_union_find(probe)
            if not mapping:
                return vertices.select("label", "surface", vid.alias("comp"))
            comp_map = local_frame(
                spark,
                [(l, s, c) for (l, s), c in mapping.items()],
                "label string, surface string, mapped_comp long",
            )
            return vertices.join(
                F.broadcast(comp_map), ["label", "surface"], "left"
            ).select(
                "label",
                "surface",
                F.coalesce("mapped_comp", vid).alias("comp"),
            )

    n_vertices = vertices.count()
    sess_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cc_p = max(1, min(sess_p, -(-n_vertices // rows_per_partition)))
    labels = vertices.select("label", "surface", vid.alias("id")).withColumn(
        "comp", F.col("id")
    )
    eid_a = F.xxhash64("label", "a")
    eid_b = F.xxhash64("label", "b")
    und = edges.select(eid_a.alias("src"), eid_b.alias("dst")).unionByName(
        edges.select(eid_b.alias("src"), eid_a.alias("dst"))
    )
    # lazy checkpoints: each block's single convergence-count action
    # materializes the block's checkpoint as a side effect — one Spark job
    # per block instead of several (eager und/labels init + eager block
    # checkpoint + count). Both tables are pre-partitioned on their join
    # keys so the per-round join reuses the co-partitioning.
    und = und.repartition(cc_p, "dst").localCheckpoint(eager=False)
    labels = labels.repartition(cc_p, "id").localCheckpoint(eager=False)

    def propagate(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            und.join(
                lbl.select(F.col("id").alias("dst"), F.col("comp").alias("ncomp")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("ncomp").alias("nmin"))
        )
        return lbl.join(neighbor_min, lbl.id == neighbor_min.src, "left").select(
            "label",
            "surface",
            "id",
            "old_comp",
            F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias(
                "comp"
            ),
        )

    rounds = 0
    while rounds < max_iter:
        block = labels.withColumn("old_comp", F.col("comp"))
        for _ in range(min(rounds_per_check, max_iter - rounds)):
            block = propagate(block)
            rounds += 1
        block = block.localCheckpoint(eager=False)
        changed = block.where(F.col("comp") != F.col("old_comp")).count()
        labels = block.select("label", "surface", "id", "comp")
        if changed == 0:
            break
    return labels.select("label", "surface", "comp")


def _driver_entity_map(
    rows, num_hashes: int, bands: int, jaccard_threshold: float
) -> list:
    """Pure-Python twin of the distributed blocking + CC + reps election,
    for entity vocabularies that fit on the driver. Bit-parity with the
    DataFrame path comes from the parity-locked hash twins
    (oracle.spark_hash / spark_xxhash64) and from mirroring every engine
    semantic exactly: 1-based substring shingling with the short-string
    floor, per-band min-hash over seeds b*rows_per_band+r, int32 minhash
    folding into the band xxhash64, `l.surface < r.surface` pair order,
    double Jaccard >= threshold, abbreviation argmax by (n_mentions,
    surface), min-xxhash64 component ids, and (n_mentions, surface)
    max-struct rep election. Locked against the distributed path by
    tests/test_pipeline.py::test_entity_map_driver_path_matches_distributed.

    ``rows`` = [(label, surface, n_mentions)]; returns
    [(label, surface, canonical)]."""
    buckets = py_lsh_buckets(((l, s) for l, s, _ in rows), num_hashes, bands)
    pairs = py_verified_pairs(buckets, jaccard_threshold)
    pairs.update(py_abbreviation_pairs(rows))
    mapping = _driver_union_find(pairs)
    comp_of = {
        (label, surface): mapping.get(
            (label, surface), spark_xxhash64(label, surface)
        )
        for label, surface, _ in rows
    }
    best: dict = {}
    for label, surface, n in rows:
        key = (label, comp_of[(label, surface)])
        if key not in best or (n, surface) > best[key]:
            best[key] = (n, surface)
    return [
        (label, surface, best[(label, comp_of[(label, surface)])][1])
        for label, surface, _ in rows
    ]


def build_entity_map(
    spark: SparkSession,
    link_stats: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.6,
    n_surfaces_hint: int | None = None,
    driver_smallmap_max_surfaces: int = 50_000,
) -> DataFrame:
    """(label, surface, canonical) — every observed surface mapped to its
    component representative (most-mentioned surface, surface-desc tiebreak).

    SMALL-VOCABULARY FAST PATH: the stage is ENTITY-scaled, not document-
    scaled — a bounded domain vocabulary stays a few thousand surfaces under
    any corpus size. When the surface table fits under
    ``driver_smallmap_max_surfaces`` (known for free from the caller's
    write-Observation row count when available, else probed with one
    early-exit limit-collect), the whole blocking + CC + election runs on
    the driver in one collect + one Arrow-built frame, replacing ~8 tiny
    exchanges (explode, self-join, dedup, verify joins, CC rounds, reps
    groupBy) whose per-stage AQE/scheduling latency dominates the
    pipeline's orchestration floor. Output is bit-identical to the
    distributed path (locked by a test). Web-scale vocabularies (unbounded
    surface sets) exceed the threshold and take the distributed path
    below."""
    if driver_smallmap_max_surfaces and (
        n_surfaces_hint is None or n_surfaces_hint <= driver_smallmap_max_surfaces
    ):
        probe = (
            link_stats.select("label", "surface", "n_mentions")
            .limit(driver_smallmap_max_surfaces + 1)
            .collect()
        )
        if len(probe) <= driver_smallmap_max_surfaces:
            out = _driver_entity_map(
                [(r["label"], r["surface"], r["n_mentions"]) for r in probe],
                num_hashes,
                bands,
                jaccard_threshold,
            )
            return local_frame(
                spark, out, "label string, surface string, canonical string"
            )

    surfaces = link_stats.select("label", "surface", "n_mentions")
    mh_pairs = minhash_candidate_pairs(
        surfaces.select("surface", "label"), num_hashes, bands, jaccard_threshold
    )
    ab_pairs = abbreviation_pairs(link_stats)
    edges = mh_pairs.unionByName(ab_pairs).select("label", "a", "b").dropDuplicates()
    comps = connected_components(spark, surfaces.select("label", "surface"), edges)
    with_counts = comps.join(surfaces, ["label", "surface"])
    reps = with_counts.groupBy("label", "comp").agg(
        F.max_by("surface", F.struct(F.col("n_mentions"), F.col("surface"))).alias("canonical")
    )
    return (
        with_counts.join(reps, ["label", "comp"])
        .select("label", "surface", "canonical")
    )


def canonicalize_triples(triples_raw: DataFrame, entity_map: DataFrame) -> DataFrame:
    """triples_raw × entity_map (broadcast: the map is distinct-entity-sized,
    orders of magnitude smaller than the triple stream) → canonical triples."""
    subj_map = F.broadcast(
        entity_map.select(
            F.col("label").alias("subj_label"),
            F.col("surface").alias("subj"),
            F.col("canonical").alias("subj_canonical"),
        )
    )
    obj_map = F.broadcast(
        entity_map.select(
            F.col("label").alias("obj_label"),
            F.col("surface").alias("obj"),
            F.col("canonical").alias("obj_canonical"),
        )
    )
    return (
        triples_raw.join(subj_map, ["subj_label", "subj"], "left")
        .join(obj_map, ["obj_label", "obj"], "left")
        .select(
            "doc_id",
            "span_idx",
            F.coalesce("subj_canonical", "subj").alias("subj"),
            "pred",
            F.coalesce("obj_canonical", "obj").alias("obj"),
            "subj_label",
            "obj_label",
            "conf",
        )
    )


def blocking_report(
    surfaces: DataFrame, num_hashes: int = 16, bands: int = 8
) -> DataFrame:
    """(block_size, n_blocks, candidate_rows) — the LSH blocking-quality
    histogram: how many (label, band, band_hash) buckets hold exactly s
    surfaces, and how many candidate join rows those buckets generate
    (n_blocks × s·(s−1)/2). This is THE pre-flight diagnostic for the
    entity-resolution self-join: `candidate_rows` is exactly the row
    count the band self-join in `minhash_candidate_pairs` will emit
    before dedup (its cost), and the histogram's tail is the skew report
    — one 10^6-surface bucket means a 5·10^11-row straggler task that no
    AQE split fully saves, caught here for the price of one groupBy
    instead of discovered as a hung stage. Standard ER blocking metrics
    (block-size distribution / candidate-set size, e.g. Christen's
    blocking survey, TKDE 2012) computed Spark-side.

    Two partial aggs, no self-join: size per bucket (the banded table is
    one row per (surface, band), so a count is the size), then the
    histogram keyed on size — output is ≤ distinct-sizes rows. Runs the
    SAME `_banded_surfaces` expression the production blocking uses, so
    the report can never drift from the join it predicts."""
    banded = _banded_surfaces(surfaces, num_hashes, bands)
    blocks = banded.groupBy("label", "band", "band_hash").agg(
        F.count(F.lit(1)).cast("long").alias("block_size")
    )
    return (
        blocks.groupBy("block_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_blocks"))
        .select(
            "block_size",
            "n_blocks",
            (
                F.col("n_blocks")
                * F.col("block_size")
                * (F.col("block_size") - F.lit(1))
                / F.lit(2)
            )
            .cast("long")
            .alias("candidate_rows"),
        )
    )


def py_blocking_report(
    surfaces, num_hashes: int = 16, bands: int = 8
) -> list[tuple[int, int, int]]:
    """Serial twin of `blocking_report` over (label, surface) pairs:
    [(block_size, n_blocks, candidate_rows)] ascending by block size."""
    hist = Counter(len(m) for m in py_lsh_buckets(surfaces, num_hashes, bands).values())
    return [(s, nb, nb * s * (s - 1) // 2) for s, nb in sorted(hist.items())]


def update_entity_map(
    spark: SparkSession,
    old_map: DataFrame,
    new_link_stats: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """STICKY incremental canonicalization — the operator an always-on KG
    pipeline actually runs per crawl batch, instead of re-canonicalizing
    10^12 documents' vocabulary from scratch: existing (label, surface) ->
    canonical assignments are FROZEN (downstream triples and MERGE batches
    reference those ids; churn would invalidate the graph at rest), and
    only the batch's NOVEL surfaces are blocked, clustered, and assigned.

    Returns the full updated map (label, surface, canonical, status):
    - 'existing'   — row carried over from old_map, unchanged by contract;
    - 'linked'     — novel surface whose candidate-pair component contains
                     >=1 old surface: adopts the MIN canonical among the
                     component's old members (deterministic anchor; a
                     production map would carry mention counts to weight
                     this — the rule is a pure function of the inputs
                     either way);
    - 'new_entity' — component of only-novel surfaces: rep elected by
                     (n_mentions, surface) max, exactly like
                     build_entity_map.

    Old-old pairs are deliberately NOT re-derived — stickiness means a new
    batch can never re-merge or split existing entities (run the full
    build_entity_map for a compaction epoch when drift accumulates).

    Scale posture: the LSH band join is NOVEL x (NOVEL + OLD) — the
    one-sided incremental shape; the historical side's band keys are
    recomputed here from the map (at rest you would materialize them once,
    `write_ivf_index`-style) but the JOIN only shuffles band keys, and
    only novel-involved candidates survive, so pair volume scales with
    the batch, not the history. Jaccard verification re-joins the
    one-copy shingle tables exactly like the batch builder; CC runs on
    the novel-involved pair graph only (driver union-find fast path
    applies); abbreviation resolution runs within the new batch's stats
    (old surfaces carry no counts for the popularity prior — documented
    incremental limitation).
    """
    old = old_map.select("label", "surface", "canonical")
    novel = (
        new_link_stats.select("label", "surface", "n_mentions")
        .join(old, ["label", "surface"], "leftanti")
        .localCheckpoint(eager=False)
    )
    all_surf = (
        old.select("label", "surface")
        .unionByName(novel.select("label", "surface"))
        .dropDuplicates()
    )
    nb = _banded_surfaces(
        novel.select("label", "surface"), num_hashes, bands
    )
    ab = _banded_surfaces(all_surf, num_hashes, bands)
    cand = (
        nb.alias("l")
        .join(
            ab.alias("r"),
            on=[
                F.col("l.label") == F.col("r.label"),
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col("l.surface") != F.col("r.surface"),
            ],
        )
        .select(
            F.col("l.label").alias("label"),
            F.least("l.surface", "r.surface").alias("a"),
            F.greatest("l.surface", "r.surface").alias("b"),
        )
        .dropDuplicates(["label", "a", "b"])
    )
    mh_pairs = _jaccard_verified(cand, all_surf, jaccard_threshold).select(
        "label", "a", "b"
    )
    # abbreviation pairs within the new batch, novel-involved only
    ab_pairs = (
        abbreviation_pairs(new_link_stats)
        .join(novel.select("label", F.col("surface").alias("a")), ["label", "a"], "leftsemi")
        .select("label", "a", "b")
    )
    edges = mh_pairs.unionByName(ab_pairs).dropDuplicates()
    # vertices: novel surfaces + any old surface an edge touches
    touched_old = (
        edges.select("label", F.col("a").alias("surface"))
        .unionByName(edges.select("label", F.col("b").alias("surface")))
        .dropDuplicates()
        .join(novel.select("label", "surface"), ["label", "surface"], "leftanti")
    )
    verts = novel.select("label", "surface").unionByName(touched_old)
    comps = connected_components(spark, verts, edges).localCheckpoint(
        eager=False
    )
    old_in_comp = comps.join(old, ["label", "surface"]).groupBy(
        "label", "comp"
    ).agg(F.min("canonical").alias("anchor"))
    novel_comp = comps.join(novel, ["label", "surface"])
    new_reps = novel_comp.groupBy("label", "comp").agg(
        F.max_by(
            "surface", F.struct(F.col("n_mentions"), F.col("surface"))
        ).alias("rep")
    )
    assigned = (
        novel_comp.join(old_in_comp, ["label", "comp"], "left")
        .join(new_reps, ["label", "comp"])
        .select(
            "label",
            "surface",
            F.coalesce("anchor", "rep").alias("canonical"),
            F.when(F.col("anchor").isNotNull(), F.lit("linked"))
            .otherwise(F.lit("new_entity"))
            .alias("status"),
        )
    )
    return old.select(
        "label", "surface", "canonical", F.lit("existing").alias("status")
    ).unionByName(assigned)


def fuzzy_name_pairs(
    surfaces: DataFrame,
    max_dist: int = 1,
    col: str = "surface",
    label_col: str = "label",
) -> DataFrame:
    """(label, surface_a, surface_b, dist) — every unordered same-label
    surface pair within Levenshtein distance `max_dist`, found WITHOUT an
    all-pairs comparison: SymSpell deletion-neighborhood blocking. This is
    the typo/OCR-robust complement to the 3-gram MinHash blocking above —
    character n-gram Jaccard is weak on SHORT strings (entity names),
    where a single-char substitution ("J. Smith" / "K. Smith") moves a
    third of the shingle set but is edit distance 1.

    Candidate generation: each surface emits its depth-≤`max_dist`
    deletion neighborhood (all strings reachable by deleting up to
    `max_dist` chars — O(len^k) variants, built JVM-side with nested
    transform/flatten, no Python); two surfaces within edit distance k
    ALWAYS share a depth-k deletion variant (take an optimal alignment:
    delete from `a` the chars it substitutes/deletes, from `b` the chars
    it substitutes/inserts — both reach the common subsequence in ≤ k
    deletions), so the equi-join on (label, variant) is a COMPLETE
    blocking scheme and the result equals brute force exactly. False
    candidates are pruned by one integer `levenshtein` per DISTINCT pair
    (exact in every engine — no FP anywhere in this operator).

    Scale: the shuffle carries (label, variant, surface) — short strings,
    never payloads; pair volume is quadratic only within a shared-variant
    block (names colliding after k deletions), the same locality bound as
    the LSH band join, and the one skew risk — a degenerate variant like
    a single char shared by many 2-char names — is bounded by `len > k`
    surfaces only having variants of length ≥ len−k."""
    base = (
        surfaces.select(
            F.col(label_col).alias("label"), F.col(col).alias("s")
        )
        .where(F.length("s") > 0)
        .distinct()
    )
    del1 = (
        "array_distinct(flatten(transform(V, s -> "
        "case when length(s) >= 1 then "
        "transform(sequence(1, length(s)), "
        "i -> concat(substring(s, 1, i - 1), substring(s, i + 1, length(s)))) "
        "else array() end)))"
    )
    var_expr = "array(s)"
    for _ in range(max_dist):
        var_expr = f"array_distinct(array_union({var_expr}, {del1.replace('V', var_expr)}))"
    vars_df = base.select(
        "label", "s", F.explode(F.expr(var_expr)).alias("v")
    )
    a = vars_df.select("label", "v", F.col("s").alias("surface_a"))
    b = vars_df.select("label", "v", F.col("s").alias("surface_b"))
    cands = (
        a.join(b, ["label", "v"])
        .where(F.col("surface_a") < F.col("surface_b"))
        .select("label", "surface_a", "surface_b")
        .distinct()
    )
    return cands.select(
        "label",
        "surface_a",
        "surface_b",
        F.levenshtein("surface_a", "surface_b").alias("dist"),
    ).where(F.col("dist") <= max_dist)

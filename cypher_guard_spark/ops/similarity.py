"""Similarity search and embedding curation over an embedding column
(array<float>). Dot products, distances and means are `F.zip_with` +
`F.aggregate` folds (JVM-side, codegen'd — no Python).

Kernels:
- top-k search: brute-force cosine (`brute_force_topk`, the exactness
  baseline), sign-LSH buckets (`ann_lsh_topk`), IVF over a k-means coarse
  quantizer (`ivf_topk`, or `write_ivf_index` + `ivf_probe_indexed` for the
  at-rest layout), product quantization (`train_pq`, `pq_encode`,
  `pq_topk`) and the two composed (`ivfpq_topk`);
- vector statistics and compression: `label_centroids`, `dim_ranges`,
  `quantize_embeddings` (int8) and `project_embeddings` (sparse JL);
- curation: `knn_label_noise` and `hard_negatives` over the exact kNN.

Each building block has one copy, shared by the kernels above:
- `_topk`: the per-query `row_number` window cut at k (planned as a
  WindowGroupLimit);
- `_cosine_topk` / `_adc_topk`: score already-joined pairs by rounded
  cosine / PQ asymmetric distance, then rank;
- `_ivf_probes` and `_base_cells`: a query's nearest cells and every base
  vector's cell;
- `_argmin_cid`: the plan-baked literal nearest-centroid argmin;
- `_lloyd_init` / `_lloyd_update`: the deterministic Lloyd trainer behind
  both `kmeans_centroids` and `train_pq`;
- `_subvectors`, `_vector_codes` and `_adc_lut`: the PQ subspace split,
  per-vector code arrays and driver-side lookup tables;
- `_labeled_knn`: the exact kNN with query and neighbor labels.

The driver-sized trained structures are collected once per search:
`_collect_centroids` and `_collect_codebooks` feed their list / dict to
`_base_cells`, `_pq_codes` and `_vector_codes` instead of the DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_ADC_SCHEMA = "query_id long, neighbor_id long, rank int, adist double"


def _dot(a, b):
    # cast to double BEFORE multiplying: float32 products differ from
    # double products in the low bits, which flips 6-decimal rounding
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm2(a):
    return F.sqrt(_dot(a, a))


def cosine(a, b):
    return _dot(a, b) / (_norm2(a) * _norm2(b))


def _topk(df: DataFrame, order: list, k: int, rank_col: str) -> DataFrame:
    """`df` ranked per query_id under `order` into `rank_col` (1-based),
    keeping ranks <= k. Spark plans the cut as a WindowGroupLimit before
    the query_id shuffle, so each partition ships at most k rows per
    query."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= k
    )


def _cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank, sim) over already-joined
    (query_id, qvec, neighbor_id, nvec) pairs: self excluded, sim the
    6dp-rounded cosine, ranked by (sim desc, neighbor id asc)."""
    scored = pairs.where(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qvec"), F.col("nvec")), 6).alias("sim"),
    )
    return _topk(
        scored, [F.col("sim").desc(), F.col("neighbor_id").asc()], k, "rank"
    ).select("query_id", "neighbor_id", "rank", "sim")


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank, sim) — exact cosine top-k per query.

    The query side is broadcast (queries ≪ corpus); scoring is a map-only
    stage over the corpus; the only shuffle is the per-query top-k, whose
    key cardinality is |queries|. Deterministic ranking: sim desc,
    neighbor id asc."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    c = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec"))
    return _cosine_topk(q.crossJoin(c), k)


def sign_lsh_bucket(vec_col: str, bits: int = 8):
    """Bucket id from the signs of the first `bits` dimensions
    (element_at is 1-based; mirrors the SQL oracle's 1-based list index)."""
    return F.expr(
        f"aggregate(sequence(1, {bits}), 0, (acc, i) -> acc + "
        f"CASE WHEN element_at({vec_col}, i) > 0 THEN shiftleft(1, i - 1) ELSE 0 END)"
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank, sim) — ANN restricted to the query's
    sign-LSH bucket. Recall < 1 by design; the bucket equi-join replaces
    the cross join, so candidate count drops ~2^bits-fold."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            sign_lsh_bucket(vec_col, bits).alias("bucket"),
        )
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        sign_lsh_bucket(vec_col, bits).alias("bucket"),
    )
    return _cosine_topk(q.join(c, "bucket"), k)


def _to_double(vec_col):
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _dist2(a, b):
    # sequential left fold over the array — the SAME summation order as the
    # pure-Python oracle, so the double value is bit-identical; only the
    # row-order-dependent centroid averages need rounding protection
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _collect_centroids(centroids: DataFrame) -> list:
    """[(cid, center), ...] sorted by cid — k rows, driver-safe."""
    return sorted(
        (int(r["centroid_id"]), [float(x) for x in r["center"]])
        for r in centroids.collect()
    )


def _argmin_cid(centers: list):
    """Id of the literal center nearest to the `v` column, by
    (6dp-rounded L2², cid) over the cid-sorted (cid, center) pairs.

    array_min on structs orders by (rdist, cid), so a distance tie keeps
    the lower cid — exactly `min((round6(d²), cid))`. Each distance
    expression appears exactly ONCE (an unrolled when-chain would
    duplicate the accumulator subtree per step — 2^k blowup)."""
    keys = F.array(
        *[
            F.struct(
                F.round(
                    _dist2(F.col("v"), F.array(*[F.lit(x) for x in center])), 6
                ).alias("rdist"),
                F.lit(cid).alias("cid"),
            )
            for cid, center in centers
        ]
    )
    return F.array_min(keys).getField("cid")


def _assign(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vid, v, centroid_id): nearest centroid by (rounded L2², id).

    MAP-ONLY: the k centroid vectors are collected (k rows — driver-safe at
    any corpus size) and baked into the plan as literals (`_argmin_cid`,
    ties to the lower centroid_id). The previous shape (crossJoin ×k then
    groupBy(vid)) re-shuffled the FULL corpus per assignment; this one is
    a single scan with zero exchanges, the only defensible shape at 10^12
    rows."""
    cid = _argmin_cid(_collect_centroids(centroids))
    return vecs.select("vid", "v", cid.alias("centroid_id"))


def _lloyd_init(vecs: DataFrame, k: int) -> DataFrame:
    """(centroid_id, center): the 6dp-rounded vectors of the k smallest
    vids, numbered from 0 in vid order."""
    w = Window.orderBy("vid")
    return (
        vecs.orderBy("vid")
        .limit(k)
        .withColumn("centroid_id", F.row_number().over(w) - 1)
        .select(
            "centroid_id",
            F.transform("v", lambda x: F.round(x, 6)).alias("center"),
        )
    )


def _lloyd_update(centers: DataFrame, assigned: DataFrame, keys: list) -> DataFrame:
    """One Lloyd update of the (*keys, center) table from the (*keys, v)
    assignment rows: each coordinate becomes the 6dp-rounded mean of a
    VALUE-SORTED sequential fold, and an empty cluster keeps its previous
    center.

    The result is lazily localCheckpointed (k rows): without it every
    iteration's plan NESTS the previous assignment's full DAG and the
    trainer re-evaluates super-linearly (docs/PERFORMANCE.md §14 —
    measured 10.9s -> ~2s for 2 rounds over 2k vectors)."""
    means = (
        assigned.select(*keys, F.posexplode("v").alias("dim", "x"))
        .groupBy(*keys, "dim")
        .agg(F.array_sort(F.collect_list("x")).alias("xs"))
        .select(
            *keys,
            "dim",
            F.round(
                F.aggregate("xs", F.lit(0.0), lambda a, x: a + x) / F.size("xs"),
                6,
            ).alias("cx"),
        )
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cx"))),
                lambda st: st.getField("cx"),
            ).alias("center")
        )
    )
    return (
        centers.select(*keys, F.col("center").alias("old_center"))
        .join(means, keys, "left")
        .select(*keys, F.coalesce("center", "old_center").alias("center"))
        .localCheckpoint(eager=False)
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """(centroid_id, center) — DETERMINISTIC Lloyd iterations, engine-
    portable by construction: init = the vectors of the k smallest ids;
    exactly `iters` update rounds; assignment key = (6dp-rounded L2², id);
    each centroid coordinate is the mean of a VALUE-SORTED sequential fold
    (`array_sort(collect_list(x))` then a left fold), so the sum is a
    function of the value multiset only — no row-order-dependent FP noise
    for rounding to paper over (a distributed `avg` rounded to 6dp could
    still flip on a 0.5e-6 boundary between partitionings; the sorted fold
    cannot). collect_list per (centroid, dim) is bounded by the trainer
    input size — at 10^12 rows the trainer runs on a sample (see below), so
    the list stays executor-sized. This trades the usual k-means++ quality
    for an exact cross-engine oracle — the IVF recall contract is
    bucket-restricted search, not optimal clustering.

    Scale note: at 10^12 rows the trainer runs on a sample — pass
    `train_fraction < 1.0` and only `sample(fraction, seed)` of the corpus
    feeds init + Lloyd (assignment of the FULL corpus happens downstream in
    `ivf_topk`/`write_ivf_index`, which always assign every vector against
    whatever centroids came out). fraction=1.0 (default) keeps the exact
    cross-engine oracle; sampled training trades bit-parity for trainer
    cost, and `tests/test_ops.py` locks a recall floor for it."""
    vecs = embeddings.select(
        F.col(id_col).alias("vid"), _to_double(vec_col).alias("v")
    )
    if train_fraction < 1.0:
        vecs = vecs.sample(fraction=train_fraction, seed=seed)
    centroids = _lloyd_init(vecs, k)
    for _ in range(iters):
        assigned = _assign(vecs, centroids)
        centroids = _lloyd_update(centroids, assigned, ["centroid_id"])
    return centroids


def _base_cells(
    embeddings: DataFrame, centers: list, id_col: str, vec_col: str
) -> DataFrame:
    """(neighbor_id, nvec, centroid_id): every base vector in its nearest
    cell of the `_collect_centroids` list `centers` (the `_assign` rule)."""
    vecs = embeddings.select(
        F.col(id_col).alias("vid"), _to_double(vec_col).alias("v")
    )
    return vecs.select(
        F.col("vid").alias("neighbor_id"),
        F.col("v").alias("nvec"),
        _argmin_cid(centers).alias("centroid_id"),
    )


def _ivf_probes(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, qvec, centroid_id): each query's `nprobe` nearest cells
    by (6dp-rounded L2², centroid_id), the centroids broadcast."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(vec_col).alias("qvec")
    )
    order = [
        F.round(_dist2(F.col("qvec"), F.col("center")), 6).asc(),
        F.col("centroid_id").asc(),
    ]
    return _topk(
        q.crossJoin(F.broadcast(centroids)), order, nprobe, "probe_rank"
    ).select("query_id", "qvec", "centroid_id")


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float = 1.0,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, sim) — IVF ANN: coarse k-means
    quantizer, base vectors indexed by nearest centroid, each query probes
    its `nprobe` nearest cells and ranks exact cosine inside them.

    The scale path next to sign-LSH: cells are explicit (partition/bucket
    the base table by centroid_id at rest — `write_ivf_index` below IS that
    materialization, with a plan-asserted pruning proof), probe cost is
    nprobe/n_centroids of the corpus, and recall is tunable via nprobe
    instead of fixed by the hash. Centroids are broadcast everywhere —
    the only shuffle is the per-query top-k. `train_fraction < 1.0` trains
    the quantizer on a sample (the 10^12-row path); the full corpus is
    still assigned and searchable either way.

    `centroids=` reuses an already-trained (centroid_id, center) table
    (shared with `semantic_duplicates` / read from `write_ivf_index`'s
    at-rest layout) and skips the inline trainer — train Lloyd once per
    curation run, not once per operator."""
    if centroids is None:
        centroids = kmeans_centroids(
            embeddings, n_centroids, iters, id_col, vec_col, train_fraction
        ).localCheckpoint(eager=False)
    base = _base_cells(embeddings, _collect_centroids(centroids), id_col, vec_col)
    probes = _ivf_probes(queries, centroids, nprobe, id_col, vec_col)
    return _cosine_topk(F.broadcast(probes).join(base, "centroid_id"), k)


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float = 1.0,
    centroids: DataFrame | None = None,
) -> None:
    """Materialize the IVF index AT REST: base vectors written
    `partitionBy("centroid_id")` under `{path}/base`, trained centroids
    under `{path}/centroids`. This is the 100-TB layout the `ivf_topk`
    docstring commits to — a probe then reads only `nprobe` of the
    `n_centroids` directory partitions (PartitionFilters, asserted by
    tests/test_plans.py) instead of scanning the corpus.

    One write-side shuffle: `repartition("centroid_id")` so each cell's
    rows land in one task's output (without it every task writes a file
    into every cell directory — n_tasks × n_cells small files at scale).
    `centroids=` writes an externally trained table instead of training
    inline (one Lloyd run can feed the index AND the in-flight operators).
    """
    if centroids is None:
        centroids = kmeans_centroids(
            embeddings, n_centroids, iters, id_col, vec_col, train_fraction
        ).localCheckpoint(eager=False)
    base = _base_cells(embeddings, _collect_centroids(centroids), id_col, vec_col)
    base.repartition("centroid_id").write.partitionBy("centroid_id").mode(
        "overwrite"
    ).parquet(f"{path}/base")
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_probe_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank, sim) — top-k against a
    `write_ivf_index` layout, reading ONLY the probed cells.

    Cell selection runs driver-side against the collected centroids (tiny:
    n_centroids rows — the same object `ivf_topk` broadcasts), so the cell
    set is a LITERAL `isin` predicate on the partition column and Spark
    prunes the scan to ∪(probed cells) directories at planning time; the
    per-query cell restriction is then the same broadcast probe join as
    `ivf_topk`. Same result contract as `ivf_topk` given the same
    centroids."""
    centroids = spark.read.parquet(f"{path}/centroids")
    probes = _ivf_probes(queries, centroids, nprobe, id_col, vec_col)
    cells = sorted(r["centroid_id"] for r in probes.select("centroid_id").distinct().collect())
    base = spark.read.parquet(f"{path}/base").where(F.col("centroid_id").isin(cells))
    return _cosine_topk(F.broadcast(probes).join(base, "centroid_id"), k)


def label_centroids(
    embeddings: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """(label, dim, centroid) — per-label mean of each dimension, rounded
    to 6dp. posexplode → groupBy(label, dim): partial aggregation map-side,
    shuffle cardinality = labels × dims."""
    exploded = embeddings.select(
        F.col(label_col).alias("label"), F.posexplode(vec_col).alias("dim", "v")
    )
    return exploded.groupBy("label", "dim").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid")
    )


def dim_ranges(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list:
    """Per-dimension (lo, hi) over the corpus, as a dim-ordered list of
    Rows. One posexplode + partial-agg shuffle on the (tiny) dim key; the
    collect is d rows — driver-safe at any corpus size (d is the embedding
    width, not the row count). min/max are exact (no FP summation), so the
    values are engine-portable without rounding protection."""
    vecs = embeddings.select(_to_double(vec_col).alias("v"))
    rows = (
        vecs.select(F.posexplode("v").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    return sorted(rows, key=lambda r: r["dim"])


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ranges: list | None = None,
) -> DataFrame:
    """(vec_id, qvec array<int>) — int8 scalar quantization of the
    embedding column (the standard 4x at-rest compression before ANN
    serving): per dimension, x is affinely mapped from the corpus's
    [lo, hi] onto [-128, 127] with round-half-up; constant dimensions
    quantize to 0.

    Two passes, both cheap: `dim_ranges` aggregates d rows (one shuffle
    keyed on the dimension index), then the quantize itself is MAP-ONLY —
    the per-dim lo/span vectors are baked into the plan as array literals
    (they are d doubles, far below broadcast thresholds), so at 10^12 rows
    this is a single scan with zero exchanges. floor(t + 0.5) instead of
    round() pins the half-boundary rule to an engine-independent
    definition (Spark HALF_UP vs DuckDB's banker-adjacent round differ on
    exact .5 doubles); every arithmetic step is the same double-op
    sequence in the SQL oracle, so values are bit-identical."""
    if ranges is None:
        ranges = dim_ranges(embeddings, id_col, vec_col)
    lo_arr = F.array(*[F.lit(float(r["lo"])) for r in ranges])
    span_arr = F.array(*[F.lit(float(r["hi"] - r["lo"])) for r in ranges])
    q = F.transform(
        _to_double(vec_col),
        lambda x, i: F.when(F.element_at(span_arr, i + 1) == 0.0, F.lit(0))
        .otherwise(
            F.floor(
                (x - F.element_at(lo_arr, i + 1))
                / F.element_at(span_arr, i + 1)
                * 255.0
                + 0.5
            ).cast("int")
            - 128
        )
        .cast("int"),
    )
    return embeddings.select(F.col(id_col), q.alias("qvec"))


def jl_signs(d: int, out_dim: int, seed: int = 0) -> list[list[int]]:
    """Deterministic Achlioptas sparse sign matrix: s[i][j] in {+1,0,-1}
    with P(+1)=P(-1)=1/6, P(0)=2/3, derived from the xxhash64 twin of the
    string key "seed:i:j" — a pure function of (d, out_dim, seed), so the
    operator and its oracle build bit-identical matrices with no RNG
    state anywhere."""
    from cypher_guard_spark.oracle import spark_xxhash64

    def sign(i: int, j: int) -> int:
        m = spark_xxhash64(f"{seed}:{i}:{j}") % 6
        return 1 if m == 0 else (-1 if m == 1 else 0)

    return [[sign(i, j) for j in range(out_dim)] for i in range(d)]


def project_embeddings(
    df: DataFrame,
    out_dim: int = 16,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, dim, value) — Johnson-Lindenstrauss sparse random
    projection of the embedding column to `out_dim` dimensions: the
    standard cheap shrink before ANN / clustering / near-dup at corpus
    scale (JL: pairwise distances survive within epsilon for
    out_dim ~ O(log n / eps^2); Achlioptas' {+1,0,-1} density-1/3 matrix
    needs no Gaussians). Values are unscaled sign-dot-products rounded to
    6dp — multiply by sqrt(3/out_dim) for the isometry constant; kept
    rational here so the doubles are engine-exact.

    Scale posture: the sign matrix is built DRIVER-SIDE as a pure
    function of (d, out_dim, seed) (`jl_signs` — no RNG state, no
    training pass) and baked into the plan as literals, so the operator
    is MAP-ONLY with zero exchanges — same plan-baked-literal pattern as
    the IVF centroid assignment (`_assign`).
    Each output value is a sequential index-order fold (zip_with +
    aggregate), deterministic in any partitioning. The input width d is
    probed from one row (a driver scalar, not data).
    """
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, dim int, value double"
        )
    signs = jl_signs(first["d"], out_dim, seed)
    x = _to_double(vec_col)
    cols = []
    for j in range(out_dim):
        sj = F.array(*[F.lit(signs[i][j]) for i in range(len(signs))])
        acc = F.aggregate(
            F.zip_with(x, sj, lambda xv, sv: xv * sv),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        cols.append(
            F.struct(F.lit(j).alias("dim"), F.round(acc, 6).alias("value"))
        )
    return df.select(
        F.col(id_col), F.explode(F.array(*cols)).alias("p")
    ).select(id_col, "p.dim", "p.value")


def train_pq(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_fraction: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """(subspace, centroid_id, center) — product-quantization codebooks:
    the vector is cut into `m` contiguous subvectors and each subspace gets
    its own k-centroid Lloyd codebook (Jégou et al. 2011), compressing a
    d×4-byte float vector to m code bytes (m=8,k=256 is the classic 8-byte
    PQ; here m/k are dials).

    ALL m codebooks train in ONE Lloyd loop: the subspace split is a
    map-side explode tagging rows with s (m× the trainer sample, still
    sample-sized), assignment is the same plan-baked literal argmin as
    `_assign` dispatched per-subspace via a when-chain (m·k literal
    centers in one expression, each distance subtree appearing once), and
    the update is the kmeans sorted-fold mean keyed by (s, centroid_id,
    dim) — so per iteration the cluster pays one partial-agg shuffle
    TOTAL, not one per subspace, and the driver-serial round count does
    not grow with m. Same determinism contract as kmeans_centroids
    (fixed smallest-id init, (6dp L2², cid) assignment key, value-sorted
    fold means): the codebooks are a pure function of the trainer input.

    Scale note (the kmeans_centroids contract, VERDICT r4 task 5): at
    10^12 rows the trainer runs on a sample — `train_fraction < 1.0`
    feeds only `sample(fraction, seed)` of the corpus into init + Lloyd,
    keeping the per-(s, centroid, dim) collect_list executor-sized;
    ENCODING of the full corpus happens downstream in `pq_encode` /
    `pq_topk`, which always code every vector against whatever codebooks
    came out. fraction=1.0 (default) keeps the exact cross-engine
    oracle; sampled training trades bit-parity for trainer cost, and
    `tests/test_pq.py` locks a recall floor for it.
    """
    vecs = embeddings.select(
        F.col(id_col).alias("vid"), _to_double(vec_col).alias("v")
    )
    if train_fraction < 1.0:
        vecs = vecs.sample(fraction=train_fraction, seed=seed)
    if dim is None:
        dim = len(vecs.select("v").first()["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_m = dim // m
    subs = (
        vecs.select("vid", _subvectors("v", m, d_m))
        .select("vid", "sub.subspace", "sub.v")
        .localCheckpoint(eager=False)
    )
    codebooks = (
        _lloyd_init(vecs, k)
        .select("centroid_id", _subvectors("center", m, d_m))
        .select("sub.subspace", "centroid_id", F.col("sub.v").alias("center"))
        .localCheckpoint(eager=False)
    )
    keys = ["subspace", "centroid_id"]
    for _ in range(iters):
        assigned = subs.select(
            "subspace",
            "v",
            _pq_assign_expr(_collect_codebooks(codebooks)).alias("centroid_id"),
        )
        codebooks = _lloyd_update(codebooks, assigned, keys)
    return codebooks


def _subvectors(vec_col: str, m: int, d_m: int):
    """Explode of `vec_col` into m rows `sub` = (subspace, v), v the
    subspace's contiguous d_m-wide slice."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("subspace"),
                    F.slice(vec_col, s * d_m + 1, d_m).alias("v"),
                )
                for s in range(m)
            ]
        )
    ).alias("sub")


def _collect_codebooks(codebooks: DataFrame) -> dict:
    """{s: [(cid, center), ...] sorted by cid} — m·k rows, driver-safe."""
    out: dict = {}
    for r in codebooks.collect():
        out.setdefault(int(r["subspace"]), []).append(
            (int(r["centroid_id"]), [float(x) for x in r["center"]])
        )
    return {s: sorted(v) for s, v in out.items()}


def _pq_assign_expr(cb: dict):
    """Per-subspace literal argmin over `v` (a subvector column), selected
    by the `subspace` column via a when-chain over the _collect_codebooks
    dict."""
    expr = F.lit(None).cast("int")
    for s in sorted(cb, reverse=True):
        expr = F.when(F.col("subspace") == s, _argmin_cid(cb[s])).otherwise(expr)
    return expr


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, subspace, code) — PQ-encode every vector against trained
    codebooks: m·k literal centers baked into ONE map-only expression
    (zero exchanges — the same plan shape as the literal-centroid IVF
    assignment), exploded to scalar rows. The codes table is the at-rest
    compressed index ADC search scans instead of the float vectors."""
    return _pq_codes(embeddings, _collect_codebooks(codebooks), id_col, vec_col)


def _pq_codes(embeddings: DataFrame, cb: dict, id_col: str, vec_col: str) -> DataFrame:
    """`pq_encode` against the `_collect_codebooks` dict `cb`."""
    vecs = embeddings.select(
        F.col(id_col).alias("vec_id"), _to_double(vec_col).alias("fv")
    )
    return (
        vecs.select("vec_id", _subvectors("fv", len(cb), len(cb[0][0][1])))
        .select("vec_id", "sub.subspace", "sub.v")
        .select("vec_id", "subspace", _pq_assign_expr(cb).alias("code"))
    )


def _vector_codes(
    embeddings: DataFrame, cb: dict, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, codes): each vector's PQ codes against the
    `_collect_codebooks` dict `cb`, as one array in subspace order."""
    return (
        _pq_codes(embeddings, cb, id_col, vec_col)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("subspace", "code"))),
                lambda st: st.getField("code"),
            ).alias("codes")
        )
    )


def _adc_lut(qv: list, cb: dict):
    """Literal m×k ADC lookup table of the query vector `qv`: entry [s][c]
    is dist²(qv's subvector s, codebook[s][c])."""
    d_m = len(cb[0][0][1])
    return F.array(
        *[
            F.array(
                *[F.lit(_py_sub_dist2(qv, s * d_m, center)) for _cid, center in cb[s]]
            )
            for s in range(len(cb))
        ]
    )


def _adc_topk(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank, adist) over already-joined
    (query_id, lut, neighbor_id, codes) pairs: adist is the m LUT lookups
    folded in subspace order and rounded once to 6dp, ranked by
    (adist asc, neighbor id asc)."""
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("lut"), F.col("codes"), lambda l, c: F.element_at(l, c + 1)
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        ).alias("adist"),
    )
    return _topk(
        scored, [F.col("adist").asc(), F.col("neighbor_id").asc()], k, "rank"
    ).select("query_id", "neighbor_id", "rank", "adist")


def pq_topk(
    embeddings: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """(query_id, neighbor_id, rank, adist) — asymmetric-distance (ADC)
    top-k over the PQ-encoded corpus: for each query, the m·k lookup table
    dist²(q_s, codebook[s][c]) is computed DRIVER-SIDE (m·k doubles per
    query — queries are broadcast-sized by contract) and baked into the
    plan as literal arrays; each corpus row's approximate distance is then
    m array lookups + a fixed-order sum — a map-only scan of the CODES
    table, never the float vectors (the whole point of PQ at 10^12 rows:
    the scan reads m bytes/vector instead of 4d). Top-k per query via the
    (adist asc, neighbor asc) rank window. Exact twin: lookups are exact,
    the sum runs in subspace order, one final 6dp rounding."""
    cb = _collect_codebooks(codebooks)
    codes = _vector_codes(embeddings, cb, id_col, vec_col)
    qrows = queries.select(query_id_col, query_vec_col).collect()
    if not qrows:
        return embeddings.sparkSession.createDataFrame([], _ADC_SCHEMA)
    per_query = [
        F.struct(
            F.lit(qr[query_id_col]).alias("query_id"),
            _adc_lut([float(x) for x in qr[query_vec_col]], cb).alias("lut"),
        )
        for qr in qrows
    ]
    q = F.explode(F.array(*per_query)).alias("q")
    pairs = codes.select("vec_id", "codes", q).select(
        "q.query_id", F.col("vec_id").alias("neighbor_id"), "codes", "q.lut"
    )
    return _adc_topk(pairs, k)


def _py_sub_dist2(qv: list, offset: int, center: list) -> float:
    """Driver-side LUT entry: dist²(q subvector at `offset`, center) — the
    same sequential fold order as _dist2 so the literal matches what the
    engine would compute."""
    acc = 0.0
    for i, c in enumerate(center):
        d = qv[offset + i] - c
        acc += d * d
    return acc


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    pq_k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, adist) — IVF-PQ, the composed index
    that actually runs at 10^12 vectors (the FAISS IVFPQ shape,
    by_residual=False variant): the coarse quantizer prunes the corpus to
    `nprobe` cells AND the scan inside those cells reads m code bytes per
    vector instead of 4d float bytes — the two scale levers (`ivf_topk`'s
    pruning, `pq_topk`'s compression) multiplied, neither kernel
    retrained: both trained structures are reusable via `centroids=` /
    `codebooks=` exactly like the standalone operators (train Lloyd once
    per curation run). by_residual=False (codes quantize raw vectors, not
    cell residuals) is the documented trade: slightly lower recall than
    residual coding, but the code table is cell-independent so ONE
    codebook serves every cell and the composition stays a pure reuse of
    the two tested kernels.

    Plan: cell assignment is the exchange-free literal-centroid argmin;
    codes ride the same map-only encode; per (query, probed cell) the
    m·pq_k ADC lookup table is computed DRIVER-side and baked as literals
    (queries are broadcast-sized by contract), exploded and equi-joined
    to the codes table ON THE CELL KEY — so only probed cells' codes are
    ever scanned (at rest, that is partition pruning on the
    `write_ivf_index` layout); distance is m array lookups + a
    subspace-order fold, one final 6dp rounding, (adist, neighbor) rank
    top-k. Exactness: every fold order is fixed, LUT entries replicate
    _dist2's sequential order, probe selection uses the same
    (round6(dist²), centroid_id) key as ivf_topk."""
    if centroids is None:
        centroids = kmeans_centroids(
            embeddings, n_centroids, iters, id_col, vec_col
        ).localCheckpoint(eager=False)
    if codebooks is None:
        codebooks = train_pq(
            embeddings, m=m, k=pq_k, iters=iters, id_col=id_col, vec_col=vec_col
        )
    cb = _collect_codebooks(codebooks)
    cents = _collect_centroids(centroids)
    cells = _base_cells(embeddings, cents, id_col, vec_col).select(
        "neighbor_id", "centroid_id"
    )
    codes = (
        _vector_codes(embeddings, cb, id_col, vec_col)
        .withColumnRenamed("vec_id", "neighbor_id")
        .join(cells, "neighbor_id")
    )
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return embeddings.sparkSession.createDataFrame([], _ADC_SCHEMA)
    probes = []
    for qr in qrows:
        qv = [float(x) for x in qr[vec_col]]
        ranked = sorted(
            (round(_py_sub_dist2(qv, 0, center), 6), cid)
            for cid, center in cents
        )[:nprobe]
        lut = _adc_lut(qv, cb)
        for _d, cid in ranked:
            probes.append(
                F.struct(
                    F.lit(qr[id_col]).alias("query_id"),
                    F.lit(cid).alias("centroid_id"),
                    lut.alias("lut"),
                )
            )
    p = (
        embeddings.sparkSession.range(1)
        .select(F.explode(F.array(*probes)).alias("q"))
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("q.centroid_id").alias("centroid_id"),
            F.col("q.lut").alias("lut"),
        )
    )
    pairs = (
        F.broadcast(p)
        .join(codes, "centroid_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    return _adc_topk(pairs, k)


def _labeled_knn(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """`brute_force_topk` rows plus the query's `label` (a broadcast join)
    and the neighbor's `neighbor_label` (an id-keyed join)."""
    topk = brute_force_topk(
        embeddings, queries, k=k, id_col=id_col, vec_col=vec_col
    )
    qlab = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(label_col).alias("label")
        )
    )
    nlab = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
    )
    return topk.join(qlab, "query_id").join(nlab, "neighbor_id")


def knn_label_noise(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(vec_id, label, n_neighbors, n_agree, agree_frac, suspect) — kNN
    label-agreement audit over an embedding space (the confident-learning
    family, Northcutt et al.): for each audited vector, how many of its k
    nearest cosine neighbors share its label. A point whose neighborhood
    votes AGAINST its label (strict minority ⇒ suspect=1) is a
    mislabeled-example / wrong-cluster candidate — the standard quality
    gate before labels feed classifier training or stratified sampling.

    Determinism: the neighbor sets come from `brute_force_topk`'s
    contract (6dp-rounded cosine, ties by neighbor id — identical in any
    engine), and everything after is integer: n_agree is a count,
    agree_frac one exact division rounded 6dp, suspect the integer test
    2·n_agree < n_neighbors. n_neighbors is the ACTUAL neighbor count
    (min(k, corpus−1)), so tiny corpora stay well-defined.

    Scale posture: inherits brute-force kNN's shape — the audited query
    set broadcasts, scoring is map-only over the corpus, the only
    shuffles are the per-query top-k and the id-keyed neighbor-label
    join (ids only, no vectors). Audit the full corpus at web scale by
    swapping the exact kernel for `ivf_topk`/`ivfpq_topk` over the
    at-rest index (same downstream agreement plan — the verdict needs
    only (query, neighbor) pairs), or by auditing per-label stratified
    samples; label noise is a population estimate, it does not need
    every point."""
    per = _labeled_knn(embeddings, queries, k, id_col, vec_col, label_col)
    agg = per.groupBy("query_id", "label").agg(
        F.count("*").alias("n_neighbors"),
        F.sum(
            (F.col("neighbor_label") == F.col("label")).cast("long")
        ).alias("n_agree"),
    )
    return agg.select(
        F.col("query_id").alias(id_col),
        "label",
        "n_neighbors",
        "n_agree",
        F.round(F.col("n_agree") / F.col("n_neighbors"), 6).alias(
            "agree_frac"
        ),
        (2 * F.col("n_agree") < F.col("n_neighbors"))
        .cast("long")
        .alias("suspect"),
    )


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 20,
    per_anchor: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(anchor_id, label, negative_id, negative_label, neg_rank, sim) —
    semi-hard negative mining for contrastive / metric-learning training
    data (the Schroff et al. FaceNet recipe, and the offline upgrade to
    in-batch negatives for embedding-model training): for each anchor,
    the nearest cosine neighbors that carry a DIFFERENT label, re-ranked
    among themselves, top `per_anchor` kept.

    `k` bounds the candidate pool deliberately: semi-hard negatives live
    at the top of the anchor's similarity ranking by definition, so they
    are mined from the exact top-k ball. An anchor whose whole ball
    shares its label emits fewer (possibly zero) rows — the honest
    answer, not a fabricated far negative (raise k to widen the pool).

    Determinism: inherits `brute_force_topk`'s engine-exact contract
    (6dp-rounded cosine, neighbor-id tie break); the negative re-rank is
    a row_number under the same (sim DESC, id ASC) order, so the output
    is bit-identical in any engine — the DuckDB twin reproduces it with
    the same window.

    Scale posture: anchors broadcast, scoring map-only over the corpus,
    shuffles carry ids only (the top-k key and the id-keyed label join).
    At 10^12 rows swap the exact kernel for `ivf_topk`/`ivfpq_topk` over
    the at-rest index — the mining plan downstream of the (anchor,
    neighbor, sim) pairs is unchanged."""
    neg = _labeled_knn(embeddings, queries, k, id_col, vec_col, label_col).where(
        F.col("neighbor_label") != F.col("label")
    )
    return _topk(
        neg, [F.desc("sim"), F.asc("neighbor_id")], per_anchor, "neg_rank"
    ).select(
        F.col("query_id").alias("anchor_id"),
        "label",
        F.col("neighbor_id").alias("negative_id"),
        F.col("neighbor_label").alias("negative_label"),
        F.col("neg_rank").cast("long").alias("neg_rank"),
        "sim",
    )

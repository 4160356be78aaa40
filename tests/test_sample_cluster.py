"""Deterministic sampling + near-dup clustering: engine vs pure-Python
twin (via the same VALUES oracles the driver runs in DuckDB), exactness
of the salted two-phase top-k, and the map-only plan contract."""

import pytest

pyspark = pytest.importorskip("pyspark")
duckdb = pytest.importorskip("duckdb")

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from cypher_guard_spark.spark import build_session

    spark = build_session("sample-tests", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture()
def entry(monkeypatch):
    """__spark_entry__ with its VALUES oracles pinned to this test's SF
    (the oracle builders read the env var at call time)."""
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
    import __spark_entry__

    return __spark_entry__


def _oracle_rows(sql: str) -> set:
    return set(map(tuple, duckdb.sql(sql).fetchall()))


def test_stratified_sample_matches_twin(spark, docs, entry):
    from cypher_guard_spark.ops.sample import length_bucket, stratified_sample

    got = {
        (r["doc_id"], r["stratum"])
        for r in stratified_sample(
            docs, length_bucket(), entry._SAMPLE_FRACTIONS
        )
        .select("doc_id", "stratum")
        .collect()
    }
    want = _oracle_rows(entry._doc_stratified_sample_values())
    assert got == want
    assert got, "sample unexpectedly empty"
    # rate sanity: stratum 0 is fraction 1.0 — everything survives
    all_s0 = {
        r["doc_id"]
        for r in docs.select("doc_id", length_bucket().alias("s"))
        .where(F.col("s") == 0)
        .collect()
    }
    assert {d for d, s in got if s == 0} == all_s0


def test_balanced_sample_matches_twin_and_is_salt_invariant(spark, docs, entry):
    from cypher_guard_spark.ops.sample import balanced_sample, length_bucket

    k = 25
    got = {
        (r["doc_id"], r["stratum"], r["rnk"])
        for r in balanced_sample(docs, length_bucket(), k=k)
        .select("doc_id", "stratum", "rnk")
        .collect()
    }
    want = _oracle_rows(entry._doc_balanced_sample_values(k=k))
    assert got == want
    # exactly min(k, |stratum|) rows per stratum, ranked 1..n contiguously
    from collections import Counter

    sizes = Counter(
        r["s"] for r in docs.select(length_bucket().alias("s")).collect()
    )
    per = Counter(s for _, s, _ in got)
    for s, n in per.items():
        assert n == min(k, sizes[s])
        assert {r for _, s2, r in got if s2 == s} == set(range(1, n + 1))
    # the salted two-phase draw is EXACT: n_salts must not change the result
    unsalted = {
        (r["doc_id"], r["stratum"], r["rnk"])
        for r in balanced_sample(docs, length_bucket(), k=k, n_salts=1)
        .select("doc_id", "stratum", "rnk")
        .collect()
    }
    assert got == unsalted


def test_neardup_clusters_matches_union_find_twin(spark, docs, entry):
    from cypher_guard_spark.ops.dedup import minhash_near_duplicates, neardup_clusters

    got_rows = neardup_clusters(spark, docs, threshold=0.3).collect()
    got = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in got_rows
    }
    want = _oracle_rows(entry._doc_neardup_clusters_values(threshold=0.3))
    assert got == want
    # assignment is total and unique
    assert len(got_rows) == docs.count()
    assert len({r["doc_id"] for r in got_rows}) == len(got_rows)
    # canonical docs are exactly the cluster ids, one per cluster
    canon = {r["doc_id"] for r in got_rows if r["is_canonical"] == 1}
    assert canon == {r["cluster_id"] for r in got_rows}
    # every near-dup pair landed in one cluster
    cluster_of = {r["doc_id"]: r["cluster_id"] for r in got_rows}
    for r in minhash_near_duplicates(docs, threshold=0.3).collect():
        assert cluster_of[r["a"]] == cluster_of[r["b"]]


def test_neardup_clusters_distributed_path_matches_driver_path(spark, docs):
    """driver_max_pairs=0 forces the distributed CC branch; it must be
    bit-identical to the driver union-find fast path."""
    from cypher_guard_spark.ops.dedup import neardup_clusters

    fast = {
        tuple(r) for r in neardup_clusters(spark, docs, threshold=0.3).collect()
    }
    dist = {
        tuple(r)
        for r in neardup_clusters(
            spark, docs, threshold=0.3, driver_max_pairs=0
        ).collect()
    }
    assert fast == dist


def test_token_budget_mixture_invariants(spark, docs):
    """Quota fill rule: per source, kept tokens minus the last kept doc
    stay under quota (<= quota-1 before the crossing doc, which is
    included); unweighted sources vanish; result is invariant to input
    partitioning and to the bucket count (the two-level prefix-sum is a
    pure decomposition of the naive window)."""
    import math

    from cypher_guard_spark.ops.sample import token_budget_mixture

    weights = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    total = 2000
    out = token_budget_mixture(docs, weights, total).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) <= set(weights)
    for s, rows in by_src.items():
        quota = int(math.floor(weights[s] * total))
        kept = sorted(rows, key=lambda r: r["tok_cum"])
        # every kept doc started strictly under quota...
        assert all(r["tok_cum"] < quota for r in kept)
        # ...and tok_cum is a genuine exclusive prefix over the kept set
        acc = 0
        for r in kept:
            assert r["tok_cum"] == acc
            acc += r["n_tokens"]
    # partitioning + bucket-count invariance (exact integer arithmetic)
    base = {(r["doc_id"], r["tok_cum"]) for r in out}
    re7 = {
        (r["doc_id"], r["tok_cum"])
        for r in token_budget_mixture(docs.repartition(7), weights, total).collect()
    }
    b4 = {
        (r["doc_id"], r["tok_cum"])
        for r in token_budget_mixture(docs, weights, total, n_buckets=4).collect()
    }
    assert base == re7 == b4 and base


@pytest.mark.parametrize("n_buckets", [0, 1, 48])
def test_token_budget_mixture_rejects_bad_bucket_count(docs, n_buckets):
    """n_buckets must be a power of two >= 2: a typed error, not an
    assert (gone under `python -O`), a math domain error (0), or one
    bucket per row (1, where shiftright(h, 64) is a no-op)."""
    from cypher_guard_spark.ops.sample import token_budget_mixture

    with pytest.raises(ValueError, match="power of two >= 2"):
        token_budget_mixture(docs, {"src0": 1.0}, 1000, n_buckets=n_buckets)


def test_token_budget_mixture_single_corpus_pass(spark, docs):
    """Plan lock for the 100-TB shape: the corpus is scanned, tokenized,
    and shuffled ONCE — inside the lazily checkpointed window subtree.
    The consumer plan therefore contains NO parquet scan (both references
    read the checkpoint) and only two exchanges: the bucket-totals
    shuffle (partial sums — sources x buckets x tasks rows, map-side
    combined) and the tiny per-source offsets window."""
    from cypher_guard_spark.ops.sample import token_budget_mixture

    out = token_budget_mixture(docs.localCheckpoint(eager=False), {"src0": 0.5}, 1000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan
    assert plan.count("Scan ExistingRDD") == 2  # row side + totals side
    assert plan.count("Exchange hashpartitioning") == 2
    # the corpus-row-keyed shuffle must NOT appear here: no exchange on a
    # window over raw rows — the (source, _b) exchange sits above a
    # partial HashAggregate (bucket sums), asserted via partial_sum
    assert "partial_sum" in plan
    assert "BroadcastHashJoin" in plan  # offsets re-enter via broadcast


def test_shuffle_shards_matches_twin_and_is_partitioning_invariant(spark, docs):
    from cypher_guard_spark.oracle import spark_xxhash64
    from cypher_guard_spark.ops.sample import shuffle_shards

    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    for seed in (0, 7):
        want = {}
        by_shard = {}
        for i in ids:
            h = spark_xxhash64(i, seed, int_widths=("long", "int"))
            by_shard.setdefault(h % 8, []).append((h, i))
        for sh, rows in by_shard.items():
            for pos, (_h, i) in enumerate(sorted(rows)):
                want[i] = (sh, pos)
        got = {
            r["doc_id"]: (r["shard"], r["pos"])
            for r in shuffle_shards(docs, 8, seed=seed).select(
                "doc_id", "shard", "pos"
            ).collect()
        }
        assert got == want, seed
        # physical partitioning must not leak into the permutation
        got2 = {
            r["doc_id"]: (r["shard"], r["pos"])
            for r in shuffle_shards(docs.repartition(13), 8, seed=seed)
            .select("doc_id", "shard", "pos")
            .collect()
        }
        assert got2 == want, seed
    # different seed = genuinely different permutation
    a = shuffle_shards(docs, 8, seed=0).select("doc_id", "shard", "pos")
    b = shuffle_shards(docs, 8, seed=7).select("doc_id", "shard", "pos")
    assert {tuple(r) for r in a.collect()} != {tuple(r) for r in b.collect()}


def test_shuffle_shards_single_exchange(spark, docs):
    import contextlib
    import io

    from cypher_guard_spark.ops.sample import shuffle_shards

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        shuffle_shards(docs, 8).select("doc_id", "shard", "pos").explain("simple")
    plan = buf.getvalue()
    assert plan.count("Exchange") - plan.count("ReusedExchange") == 1, plan


def test_write_training_shards_roundtrip(spark, docs, tmp_path):
    from cypher_guard_spark.ops.sample import shuffle_shards, write_training_shards

    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=4, seed=3)
    back = spark.read.parquet(out)
    # every shard directory present; pos contiguous 0..n_k-1 within shard
    per = {
        r["shard"]: (r["n"], r["mn"], r["mx"])
        for r in back.groupBy("shard")
        .agg(F.count("*").alias("n"), F.min("pos").alias("mn"), F.max("pos").alias("mx"))
        .collect()
    }
    assert sorted(per) == [0, 1, 2, 3]
    for _sh, (n, mn, mx) in per.items():
        assert (mn, mx) == (0, n - 1)
    assert back.count() == docs.count()
    # at-rest table equals the in-plan operator (text payload included)
    live = {
        (r["shard"], r["pos"]): (r["doc_id"], r["text"])
        for r in shuffle_shards(docs, 4, seed=3)
        .select("doc_id", "text", "shard", "pos")
        .collect()
    }
    stored = {
        (r["shard"], r["pos"]): (r["doc_id"], r["text"])
        for r in back.select("doc_id", "text", "shard", "pos").collect()
    }
    assert stored == live


def test_dsir_weights_separates_domains(spark):
    """Target-like raw docs out-lift off-domain ones; smoothing keeps
    zero-overlap docs finite and < 1; values match a serial twin."""
    from cypher_guard_spark.ops.sample import dsir_weights

    target = spark.createDataFrame(
        [(100 + i, "quantum flux capacitor entangles qubit lattices") for i in range(4)],
        ["doc_id", "text"],
    )
    raw = spark.createDataFrame(
        [
            (1, "quantum flux capacitor entangles qubit arrays"),  # on-domain
            (2, "cheap shoes buy now discount shoes sale"),  # off-domain
            (3, "quantum lattices and qubit flux"),  # partial overlap
        ],
        ["doc_id", "text"],
    )
    B = 64
    got = {
        r["doc_id"]: (r["n_feats"], r["t_hits"], r["r_hits"], r["lift"])
        for r in dsir_weights(raw, target, buckets=B).collect()
    }

    # serial twin with the same md5-prefix bucketing
    import hashlib

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    def grams(text):
        w = text.lower().strip().split()
        return w + [f"{a} {b}" for a, b in zip(w, w[1:])]

    tgt_rows = [r["text"] for r in target.collect()]
    raw_rows = {r["doc_id"]: r["text"] for r in raw.collect()}
    from collections import Counter

    tcnt = Counter(bucket(g) for t in tgt_rows for g in grams(t))
    rcnt = Counter(bucket(g) for t in raw_rows.values() for g in grams(t))
    t_total, r_total = sum(tcnt.values()), sum(rcnt.values())
    want = {}
    for did, text in raw_rows.items():
        fc = Counter(bucket(g) for g in grams(text))
        n = sum(fc.values())
        th = sum(c * tcnt.get(b, 0) for b, c in fc.items())
        rh = sum(c * rcnt.get(b, 0) for b, c in fc.items())
        lift = round(
            (float(th + n) * float(r_total + B))
            / (float(rh + n) * float(t_total + B)),
            6,
        )
        want[did] = (n, th, rh, lift)
    assert got == want
    # ranking: on-domain > partial > off-domain, and off-domain < 1
    assert got[1][3] > got[3][3] > got[2][3]
    assert got[2][3] < 1.0
    # partition invariance: same bit-exact result at a different layout
    got7 = {
        r["doc_id"]: (r["n_feats"], r["t_hits"], r["r_hits"], r["lift"])
        for r in dsir_weights(raw.repartition(7), target, buckets=B).collect()
    }
    assert got7 == got

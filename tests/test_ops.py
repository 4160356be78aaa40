"""Ops-layer tests: dedup/similarity internal consistency + multimodal
plumbing. (Oracle agreement for every SQL-expressible op is exercised by
scripts/check_oracles.py and the driver's CORRECTNESS gate.)"""

import hashlib
import json
from pathlib import Path

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from cypher_guard_spark.oracle import round6  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from cypher_guard_spark.spark import build_session

    spark = build_session("ops-tests", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def test_minhash_superset_of_prefix_blocked_jaccard(spark, docs):
    """MinHash+LSH at threshold t must find every pair the (stricter,
    prefix-blocked) exact variant finds at the same threshold — LSH with
    32 hashes at sim≥0.3 has near-1 bucket-collision probability for the
    corpus's near-dup range, and verification is exact."""
    from cypher_guard_spark.ops.dedup import minhash_near_duplicates, ngram_jaccard_pairs

    exact = {
        (r["a"], r["b"]) for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    mh = {
        (r["a"], r["b"])
        for r in minhash_near_duplicates(docs, threshold=0.3).collect()
    }
    assert exact <= mh


def test_simhash_deterministic_and_64bit(spark, docs):
    from cypher_guard_spark.ops.dedup import simhash

    a = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert a == b
    assert all(isinstance(v, int) for v in a.values())


def test_simhash_near_dup_symmetric_verification(spark, docs):
    from cypher_guard_spark.ops.dedup import simhash_near_duplicates

    pairs = simhash_near_duplicates(docs, max_hamming=8).collect()
    assert all(r["hamming"] <= 8 for r in pairs)
    assert all(r["a"] < r["b"] for r in pairs)


def test_ann_lsh_is_subset_of_bruteforce_universe(spark):
    """Every ANN hit must be a genuine corpus vector with the same sim the
    brute-force path computes (recall<1 allowed, precision exact)."""
    from cypher_guard_spark.ops.similarity import ann_lsh_topk, brute_force_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    q = emb.where(F.col("vec_id") < 3)
    bf = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in brute_force_topk(emb, q, k=500).collect()
    }
    ann = ann_lsh_topk(emb, q, k=5).collect()
    for r in ann:
        key = (r["query_id"], r["neighbor_id"])
        assert key in bf and abs(bf[key] - r["sim"]) < 1e-9


def test_multimodal_feature_plumbing(spark):
    from cypher_guard_spark.ops.multimodal import (
        decode_image,
        extract_features,
        frame_sample_plan,
        synthesize_media,
    )

    media = synthesize_media(spark, 48).repartition(4)
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == 48
    assert all(len(r["feature"]) == 8 for r in feats)
    assert all(0.0 <= v <= 1.0 for r in feats for v in r["feature"])
    # determinism across runs/partitionings
    feats2 = {r["media_id"]: r["feature"] for r in extract_features(media.repartition(7), dim=8).collect()}
    assert {r["media_id"]: r["feature"] for r in feats} == feats2
    # frame sampling covers only videos, strictly within duration
    plan = frame_sample_plan(media, every_ms=500)
    joined = plan.join(media, "media_id")
    assert joined.where(F.col("kind") != "video").count() == 0
    assert joined.where(F.col("frame_ts_ms") >= F.col("duration_ms")).count() == 0
    # real decode is an explicit stub
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")
    assert decode_image(b"x", fake=True).shape == (4, 4, 3)


ORACLE_DIGESTS = Path(__file__).parent / "golden" / "oracle_digests.json"


def oracle_digests(oracles: dict[str, str]) -> dict[str, str]:
    """sha256 of each `oracle_sql()` text. When an oracle is meant to
    change, refresh the golden file from the repo root with
    `python -c 'import json, __spark_entry__ as e, tests.test_ops as t;
    print(json.dumps(t.oracle_digests(e.oracle_sql()), indent=1,
    sort_keys=True))' > tests/golden/oracle_digests.json`."""
    return {n: hashlib.sha256(t.encode()).hexdigest() for n, t in oracles.items()}


def test_entry_contract(spark, monkeypatch):
    import __spark_entry__ as entry

    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    qs = entry.queries()
    # pinned at the dir the driver compares at (sf0.01)
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", entry._ORACLE_SF_DIR_DEFAULT)
    oracles = entry.oracle_sql()
    assert set(oracles) <= set(qs)
    pinned = json.loads(ORACLE_DIGESTS.read_text())
    got = oracle_digests(oracles)
    changed = sorted(n for n in pinned.keys() | got.keys() if pinned.get(n) != got.get(n))
    assert not changed, f"oracle text changed for: {changed}"
    # every query runs and yields a stable schema at the smallest sf
    for name in ("q1_pricing_summary", "doc_token_stats", "guard_verdicts"):
        out = qs[name](spark, SF_DIR)
        assert out.columns == qs[name](spark, SF_DIR).columns
        assert out.count() >= 0


def test_oracle_sql_sf_dir_holds_for_one_call(monkeypatch):
    """`oracle_sql(sf_dir)` reads `sf_dir` for that call only; later
    no-argument calls read the dir they read before."""
    import __spark_entry__ as entry

    monkeypatch.setattr(
        entry, "registry", lambda: [("probe", None, entry._oracle_sf_dir)]
    )
    monkeypatch.delenv("SPARK_GRAFT_ORACLE_SF_DIR", raising=False)
    assert entry.oracle_sql("/other/sf") == {"probe": "/other/sf"}
    assert entry.oracle_sql() == {"probe": entry._ORACLE_SF_DIR_DEFAULT}
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", "/pinned/sf")
    assert entry.oracle_sql("/other/sf") == {"probe": "/other/sf"}
    assert entry.oracle_sql() == {"probe": "/pinned/sf"}


def test_eval_schema_fallback_warns(monkeypatch, caplog):
    """Without the reference's eval_schema.json, `_eval_schema()` falls
    back to pipeline_db_schema() and says so in a warning that names the
    missing file."""
    from pathlib import Path

    import __spark_entry__ as entry
    from cypher_guard_spark.pipeline import pipeline_db_schema

    exists = Path.exists
    monkeypatch.setattr(
        Path, "exists", lambda p: p.name != "eval_schema.json" and exists(p)
    )
    with caplog.at_level("WARNING", logger=entry.logger.name):
        schema = entry._eval_schema()
    assert schema.to_dict() == pipeline_db_schema().to_dict()
    (rec,) = caplog.records
    assert rec.levelname == "WARNING"
    assert rec.msg is entry.EVAL_SCHEMA_ABSENT
    assert "eval_schema.json" in rec.getMessage()
    assert "reference schema absent" in rec.getMessage()


def test_set_built_oracles_do_not_depend_on_hash_seed():
    """kg_triple_diff and kg_ktruss build their VALUES rows from Python
    sets; the oracle text must still be the same in every process."""
    import os
    import subprocess
    import sys

    import __spark_entry__ as entry

    code = (
        "import __spark_entry__ as e; "
        "print(e._kg_triple_diff_values() + e._kg_ktruss_values())"
    )
    texts = {
        subprocess.run(
            [sys.executable, "-c", code],
            cwd=entry.REPO,
            env={**os.environ, "PYTHONHASHSEED": seed},
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        for seed in ("1", "2")
    }
    assert len(texts) == 1


def test_check_oracles_rejects_unknown_entry():
    """A name the registry does not hold fails scripts/check_oracles.py
    with exit 2 before any Spark session starts, instead of being skipped
    under an "all oracles match" verdict."""
    import subprocess
    import sys

    import __spark_entry__ as entry

    run = subprocess.run(
        [
            sys.executable,
            str(entry.REPO / "scripts/check_oracles.py"),
            SF_DIR,
            "kg_pagerank",
            "kg_pagernk",
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert run.returncode == 2, run.stdout + run.stderr
    assert "unknown registry entries: ['kg_pagernk']" in run.stderr
    assert "oracles match" not in run.stdout


def test_check_oracles_reports_what_it_compared(monkeypatch, capsys):
    """scripts/check_oracles.py ends with the counts it has, and claims
    "all oracles match" only when it compared at least one oracle: a run
    over rows-only entries compared nothing. Runs main() in-process over
    a stub registry and session, so no Spark starts."""
    import importlib.util
    import sys
    import types

    import pandas as pd

    import __spark_entry__ as entry
    import cypher_guard_spark.spark as spark_pkg

    spec = importlib.util.spec_from_file_location(
        "check_oracles", entry.REPO / "scripts/check_oracles.py"
    )
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)

    def frame(rows):
        return lambda spark, sf_dir: types.SimpleNamespace(
            toPandas=lambda: pd.DataFrame({"x": rows})
        )

    session = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None),
        stop=lambda: None,
    )
    monkeypatch.setattr(spark_pkg, "build_session", lambda *a, **k: session)
    monkeypatch.setattr(entry.logger, "handlers", list(entry.logger.handlers))
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
    monkeypatch.setattr(sys, "argv", ["check_oracles.py", SF_DIR])

    def run(registry):
        monkeypatch.setattr(entry, "registry", lambda: registry)
        check.main()
        return capsys.readouterr().out.strip().splitlines()

    out = run([("only_rows", frame([1, 2]), None)])
    assert not any("oracles match" in line for line in out), out
    assert out[-1] == "0 oracles checked, 1 rows-only, 0 unchecked"

    out = run(
        [
            ("only_rows", frame([1, 2]), None),
            ("matched", frame([1]), lambda: "SELECT 1 AS x"),
        ]
    )
    assert "all oracles match" in out
    assert out[-1] == "1 oracles checked, 1 rows-only, 0 unchecked"


def test_ivf_topk_structure_and_recall(spark):
    from pyspark.sql import functions as F

    from cypher_guard_spark.ops.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    ivf = ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=2).toPandas()
    exact = brute_force_topk(emb, queries, k=5).toPandas()
    assert set(ivf.query_id) == set(exact.query_id)
    assert (ivf.groupby("query_id")["rank"].max() <= 5).all()
    # probing 2/8 cells must still recover a meaningful share of the true
    # top-5 (structure check, not a tuned recall claim)
    hits = len(
        set(zip(ivf.query_id, ivf.neighbor_id))
        & set(zip(exact.query_id, exact.neighbor_id))
    )
    assert hits >= len(exact) * 0.3, hits
    # sims for shared pairs must be identical (same cosine kernel)
    m = ivf.merge(exact, on=["query_id", "neighbor_id"], suffixes=("_i", "_e"))
    assert (m.sim_i == m.sim_e).all()


def test_media_resize_plumbing(spark):
    from pyspark.sql import functions as F

    from cypher_guard_spark.ops import multimodal

    media = multimodal.synthesize_media(spark, 24).repartition(3)
    out = multimodal.resize_images(media, width=2, height=2).toPandas()
    n_images = media.where(F.col("kind") == "image").count()
    assert len(out) == n_images
    assert (out.out_w == 2).all() and (out.out_h == 2).all()
    # deterministic kernel: digests match a driver-side recompute
    rows = {r["media_id"]: r["payload"] for r in media.where(F.col("kind") == "image").collect()}
    for _, r in out.iterrows():
        assert r["pixel_digest"] == multimodal._fake_resize_digest(
            bytes(rows[r["media_id"]]), 2, 2
        )


def test_ivf_sampled_training_recall_floor(spark):
    """VERDICT r2 #7: `train_fraction < 1` samples the Lloyd trainer (the
    10^12-row path); the full corpus is still assigned + searched, and
    recall against exact top-k stays above the same structural floor the
    full-trainer test uses."""
    from pyspark.sql import functions as F

    from cypher_guard_spark.ops.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    ivf = ivf_topk(
        emb, queries, k=5, n_centroids=8, nprobe=2, train_fraction=0.5
    ).toPandas()
    exact = brute_force_topk(emb, queries, k=5).toPandas()
    assert set(ivf.query_id) == set(exact.query_id)
    hits = len(
        set(zip(ivf.query_id, ivf.neighbor_id))
        & set(zip(exact.query_id, exact.neighbor_id))
    )
    assert hits >= len(exact) * 0.3, hits
    # shared pairs score identically (same cosine kernel on the full corpus)
    m = ivf.merge(exact, on=["query_id", "neighbor_id"], suffixes=("_i", "_e"))
    assert (m.sim_i == m.sim_e).all()


def test_ivf_index_probe_matches_inmemory(spark, tmp_path):
    """The at-rest partitioned index (write_ivf_index + ivf_probe_indexed)
    returns exactly what the in-memory ivf_topk returns for the same
    hyperparameters: parquet round-trips the double vectors losslessly and
    the trainer is deterministic, so results are bit-identical."""
    from pyspark.sql import functions as F

    from cypher_guard_spark.ops.similarity import (
        ivf_probe_indexed,
        ivf_topk,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, n_centroids=8, iters=2)
    got = (
        ivf_probe_indexed(spark, path, queries, k=5, nprobe=2)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    want = (
        ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=2)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert got.equals(want)


def test_top_ngrams_counts_and_ordering(spark):
    """Corpus-level boilerplate detector: exact bigram doc/occurrence
    counts with the (occurrences desc, ngram) total order."""
    from cypher_guard_spark.ops.text import top_ngrams

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    got = [
        (r["ngram"], r["n_docs"], r["n_occurrences"])
        for r in top_ngrams(df, n=2, k=10).collect()
    ]
    assert got == [("a b", 2, 3), ("b a", 1, 1), ("b c", 1, 1)]
    # k truncates after the total order
    assert [r["ngram"] for r in top_ngrams(df, n=2, k=1).collect()] == ["a b"]


def test_pii_counts_on_crafted_rows(spark):
    """The synthetic corpus has zero PII hits (the oracle verifies the
    all-zero result); this locks the counting itself on crafted rows."""
    from cypher_guard_spark.ops.text import pii_counts

    df = spark.createDataFrame(
        [
            (1, "contact John.Doe@example.com or jane@test.org today"),
            (2, "see https://example.com/page?id=2 and http://foo.bar"),
            (3, "card 1234567890 short 12345"),
            (4, "clean text only"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_emails"], r["n_urls"], r["n_long_digit_runs"], r["has_pii"])
        for r in pii_counts(df).collect()
    }
    assert got == {
        1: (2, 0, 0, 1),
        2: (0, 2, 0, 1),
        3: (0, 0, 1, 1),
        4: (0, 0, 0, 0),
    }


def test_contamination_report_crafted(spark):
    """Benchmark-overlap decontamination: exact 3-gram collision counts,
    set-ratio semantics, and sub-n docs surviving with zero n-grams."""
    from cypher_guard_spark.ops.decontam import contamination_report, decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "we saw the quick brown fox run off"),  # 2 bench 3-grams
            (2, "completely unrelated words here today"),
            (3, "too short"),  # < 3 tokens -> 0 n-grams
            (4, "the quick brown fox jumps"),  # fully contained
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_ngrams"], r["n_contaminated"], r["contamination"], r["contaminated"]
        )
        for r in contamination_report(corpus, bench, n=3).collect()
    }
    assert got[1] == (6, 2, round(2 / 6, 6), 1)
    assert got[2] == (3, 0, 0.0, 0)
    assert got[3] == (0, 0, 0.0, 0)
    assert got[4] == (3, 3, 1.0, 1)
    clean = sorted(
        r["doc_id"] for r in decontaminate(corpus, bench, n=3).collect()
    )
    assert clean == [2, 3]


def test_repetition_scores_crafted(spark):
    """Gopher-style repetitiousness: duplicate-token fraction and the
    most-frequent-bigram share, computed per-row without any shuffle."""
    from cypher_guard_spark.ops.text import repetition_scores

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # dup 3/4; top bigram 'a a' = 3/3
            (2, "a b c d"),          # dup 0; each bigram once = 1/3
            (3, "spam spam ham spam spam ham"),  # dup 4/6; 'spam spam' 2/5
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_token_ratio"], r["top_ngram_ratio"])
        for r in repetition_scores(df, n=2).collect()
    }
    assert got[1] == (4, 0.75, 1.0)
    assert got[2] == (4, 0.0, round(1 / 3, 6))
    assert got[3] == (6, round(4 / 6, 6), 0.4)


def test_source_mix_crafted(spark):
    """Corpus composition: per-(source, lang) counts, exact-dup rate via
    distinct digests, exact-integer-sum average chars."""
    from cypher_guard_spark.ops.text import source_mix

    df = spark.createDataFrame(
        [
            (1, "same text", "en", "web"),
            (2, "same text", "en", "web"),
            (3, "other", "en", "web"),
            (4, "solo", "de", "books"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {
        (r["source"], r["lang"]): (
            r["n_docs"], r["n_unique"], r["avg_chars"], r["dup_ratio"]
        )
        for r in source_mix(df).collect()
    }
    assert got[("web", "en")] == (3, 2, round((9 + 9 + 5) / 3, 6), round(1 / 3, 6))
    assert got[("books", "de")] == (1, 1, 4.0, 0.0)


def test_semantic_duplicates_subset_of_bruteforce(spark):
    """SemDeDup pairs must be a subset of the full pairwise cosine>=t set
    (cluster blocking can only DROP pairs, never invent or rescore), with
    both ends assigned to the reported centroid."""
    from cypher_guard_spark.ops.dedup import semantic_duplicates

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pairs = semantic_duplicates(emb, n_clusters=4, threshold=0.3).collect()
    assert pairs, "synthetic embeddings should produce some semantic pairs"
    import math

    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    for r in pairs:
        assert r["a"] < r["b"]
        assert r["sim"] >= 0.3
        assert abs(r["sim"] - cos(vecs[r["a"]], vecs[r["b"]])) < 1e-5


def test_line_dedup_crafted(spark):
    """Boilerplate lines (in >= min_docs distinct docs) vanish from every
    doc, order is preserved, all-boilerplate docs survive with ''."""
    from cypher_guard_spark.ops.dedup import line_dedup

    rows = [
        (1, "COPYRIGHT 2024\nalpha beta\nSUBSCRIBE NOW"),
        (2, "COPYRIGHT 2024\ngamma delta\nSUBSCRIBE NOW"),
        (3, "unique one\nunique two"),
        (4, "COPYRIGHT 2024\nSUBSCRIBE NOW"),
        (5, "repeated inside\nrepeated inside\nkept line"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in line_dedup(docs, min_docs=2).collect()}
    assert out[1]["text_clean"] == "alpha beta"
    assert out[2]["text_clean"] == "gamma delta"
    # untouched doc keeps its text verbatim (order preserved)
    assert out[3]["text_clean"] == "unique one\nunique two"
    assert out[3]["n_removed"] == 0
    # every line boilerplate -> empty text, still present
    assert out[4]["text_clean"] == ""
    assert out[4]["n_removed"] == 2
    # intra-doc repetition alone does NOT cross the distinct-doc bar
    assert out[5]["text_clean"] == "repeated inside\nrepeated inside\nkept line"
    assert all(
        r["n_lines"] == r["n_removed"] + len([l for l in r["text_clean"].split("\n") if r["text_clean"] != ""])
        or r["text_clean"] == ""
        for r in out.values()
    )


def test_line_dedup_regex_special_delimiter(spark):
    """A regex-special `newline` ('.', '|') must split on the LITERAL
    character — the split side regex-escapes the delimiter so it matches
    what array_join re-inserts (ADVICE r3)."""
    from cypher_guard_spark.ops.dedup import line_dedup

    rows = [
        (1, "BOILER.alpha beta.BOILER"),
        (2, "BOILER.gamma delta.BOILER"),
        (3, "solo|x"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in line_dedup(docs, newline=".").collect()}
    assert out[1]["text_clean"] == "alpha beta"
    assert out[1]["n_lines"] == 3 and out[1]["n_removed"] == 2
    assert out[2]["text_clean"] == "gamma delta"
    # '|' as an (unescaped) regex would split between EVERY character
    out2 = {
        r["doc_id"]: r
        for r in line_dedup(
            spark.createDataFrame([(1, "a|b"), (2, "c|b")], ["doc_id", "text"]),
            newline="|",
        ).collect()
    }
    assert out2[1]["n_lines"] == 2
    assert out2[1]["text_clean"] == "a"
    assert out2[2]["text_clean"] == "c"


def test_pack_sequences_invariants(spark, docs):
    """Offsets/seq_ids follow the exclusive prefix-sum contract within
    each shard; shard assignment is pmod(xxhash64(doc_id), n_shards)."""
    from collections import defaultdict

    from cypher_guard_spark.ops.sample import pack_sequences
    from cypher_guard_spark.oracle import spark_xxhash64

    budget, n_shards = 64, 4
    got = sorted(
        pack_sequences(docs, budget=budget, n_shards=n_shards).collect(),
        key=lambda r: (r["shard"], r["doc_id"]),
    )
    cum = defaultdict(int)
    for r in got:
        assert r["shard"] == spark_xxhash64(r["doc_id"], int_widths=("long",)) % n_shards
        ce = cum[r["shard"]]
        assert r["seq_id"] == ce // budget
        assert r["tok_offset"] == ce % budget
        cum[r["shard"]] = ce + r["n_tokens"]


def test_pack_sequences_single_exchange_plan(spark, docs):
    """One hash repartition on the shard key and nothing else wide."""
    from cypher_guard_spark.ops.sample import pack_sequences

    plan = pack_sequences(docs, budget=64, n_shards=4)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_quantize_embeddings_roundtrip_bounds(spark):
    """q in [-128, 127]; dequantized value within half a quantization step
    of the input; constant dims quantize to 0."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    from cypher_guard_spark.ops.similarity import dim_ranges, quantize_embeddings

    ranges = dim_ranges(emb)
    lo = [r["lo"] for r in ranges]
    span = [r["hi"] - r["lo"] for r in ranges]
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    out = {r["vec_id"]: r["qvec"] for r in quantize_embeddings(emb, ranges=ranges).collect()}
    assert set(out) == set(vecs)
    for vid, qv in out.items():
        for i, q in enumerate(qv):
            assert -128 <= q <= 127
            if span[i] == 0:
                assert q == 0
            else:
                step = span[i] / 255.0
                deq = lo[i] + (q + 128) * step
                assert abs(deq - float(vecs[vid][i])) <= step / 2 + 1e-9


def test_curation_features_match_standalone_ops(spark, docs):
    """curation_features' single-scan expressions are bit-identical twins
    of the standalone operators (the docstring's contract)."""
    from cypher_guard_spark.ops.text import (
        curation_features,
        language_id,
        quality_scores,
        repetition_scores,
    )

    feat = {
        r["doc_id"]: (r["n_tokens"], r["quality"], r["dup_token_ratio"], r["lang_pred"])
        for r in curation_features(docs).collect()
    }
    qual = {r["doc_id"]: (r["n_tokens"], r["quality"]) for r in quality_scores(docs).collect()}
    rep = {r["doc_id"]: r["dup_token_ratio"] for r in repetition_scores(docs, n=2).collect()}
    lang = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert set(feat) == set(qual)
    for d, (nt, q, dr, lp) in feat.items():
        assert (nt, q) == qual[d]
        assert dr == rep[d]
        assert lp == lang[d]


def test_neardup_survivors_equals_canonical_filter(spark, docs):
    from cypher_guard_spark.ops.dedup import neardup_clusters, neardup_survivors

    canon = {
        r["doc_id"]
        for r in neardup_clusters(spark, docs, threshold=0.3)
        .where(F.col("is_canonical") == 1)
        .collect()
    }
    got = {r["doc_id"] for r in neardup_survivors(spark, docs, threshold=0.3).collect()}
    assert got == canon
    # exactly one survivor per cluster
    n_clusters = (
        neardup_clusters(spark, docs, threshold=0.3).select("cluster_id").distinct().count()
    )
    assert len(got) == n_clusters


def test_shared_centroids_bit_identity(spark):
    """semantic_duplicates / ivf_topk fed an externally trained
    `centroids=` table produce EXACTLY the rows of inline training with
    the same parameters (VERDICT r3 #1 done-criterion)."""
    from cypher_guard_spark.ops.dedup import semantic_duplicates
    from cypher_guard_spark.ops.similarity import ivf_topk, kmeans_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    cents = kmeans_centroids(emb, k=8, iters=2).localCheckpoint(eager=False)

    sem_inline = set(map(tuple, semantic_duplicates(emb, threshold=0.3).collect()))
    sem_shared = set(
        map(tuple, semantic_duplicates(emb, threshold=0.3, centroids=cents).collect())
    )
    assert sem_shared == sem_inline and sem_shared

    ivf_inline = set(map(tuple, ivf_topk(emb, q, k=5, nprobe=2).collect()))
    ivf_shared = set(
        map(tuple, ivf_topk(emb, q, k=5, nprobe=2, centroids=cents).collect())
    )
    assert ivf_shared == ivf_inline and ivf_shared


def test_emb_curation_trains_once(spark):
    """The composed emb_curation program holds the Lloyd trainer behind a
    single checkpoint boundary: NEITHER consumer's optimized plan contains
    the trainer's sorted-fold aggregate (it would appear once per consumer
    if each trained inline), so k-means runs exactly once per curation
    run."""
    import __spark_entry__ as entry

    df = entry.q_emb_curation(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan  # trainer marker: array_sort(collect_list)
    # sanity: inline training DOES put the trainer into the plan
    from cypher_guard_spark.ops.dedup import semantic_duplicates

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # un-checkpointed trainer would surface collect_list; semantic_duplicates
    # checkpoints its assignment, so probe the trainer itself instead
    from cypher_guard_spark.ops.similarity import kmeans_centroids, _assign, _to_double

    vecs = emb.select(F.col("vec_id").alias("vid"), _to_double("embedding").alias("v"))
    cents_raw = kmeans_centroids(emb, k=2, iters=1)
    # the final round of the trainer is checkpointed too; its INPUT plan
    # (means aggregation) is what carries collect_list — assert via the
    # one-round trainer's pre-checkpoint shape
    inner = vecs.select("vid").groupBy("vid").agg(
        F.aggregate(F.array_sort(F.collect_list(F.lit(1.0))), F.lit(0.0), lambda a, x: a + x).alias("s")
    )
    assert "collect_list" in inner._jdf.queryExecution().optimizedPlan().toString()


def test_contamination_spans_crafted(spark):
    """Span-level decontam: positional counts, longest consecutive run,
    and the sub-n-token row surviving as zeros."""
    from cypher_guard_spark.ops.decontam import contamination_spans

    bench = spark.createDataFrame([(100, "a b c d e")], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [
            (1, "x a b c d e y"),          # one verbatim quote: run of 3
            (2, "a b c q q q b c d"),      # two scattered hits
            (3, "no overlap at all here"),
            (4, "tiny"),                   # < n tokens: zero grams
            (5, "a b c a b c"),            # repeated positional hits
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in contamination_spans(corpus, bench, n=3).collect()}
    assert (out[1]["n_grams"], out[1]["n_contaminated"], out[1]["max_run"]) == (5, 3, 3)
    assert out[1]["frac"] == 0.6
    # doc 2 grams: "a b c","b c q","c q q","q q q","q q b","q b c","b c d"
    assert (out[2]["n_grams"], out[2]["n_contaminated"], out[2]["max_run"]) == (7, 2, 1)
    assert (out[3]["n_contaminated"], out[3]["max_run"]) == (0, 0)
    assert (out[4]["n_grams"], out[4]["n_contaminated"], out[4]["max_run"], out[4]["frac"]) == (0, 0, 0, 0.0)
    # doc 5 grams: "a b c","b c a","c a b","a b c" -> positional count 2, runs of 1
    assert (out[5]["n_grams"], out[5]["n_contaminated"], out[5]["max_run"]) == (4, 2, 1)


def test_fuzzy_decontam_crafted(spark):
    """Doc-level fuzzy decontamination: a lightly edited benchmark copy
    is flagged (high Jaccard), a doc sharing only an idiom is not (low
    Jaccard despite exact n-gram overlap), and the filter drops exactly
    the flagged docs."""
    from cypher_guard_spark.ops.decontam import (
        contamination_report,
        fuzzy_contamination,
        fuzzy_decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog near the river bank")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # near-copy: one token edited -> high shingle Jaccard
            (1, "the quick brown fox jumps over the sleepy dog near the river bank"),
            # idiom collision only: shares 'the quick brown fox' 3-grams
            (2, "the quick brown fox is a common pangram fragment used in tests "
                "of fonts and keyboards and rendering and nothing else at all"),
            (3, "completely unrelated text about spark physical plans"),
        ],
        ["doc_id", "text"],
    )
    flagged = {
        r["doc_id"]: r["sim"]
        for r in fuzzy_contamination(corpus, bench, threshold=0.5).collect()
    }
    assert set(flagged) == {1} and flagged[1] >= 0.5
    # the exact n-gram pass DOES flag the idiom doc — the two operators
    # answer different questions (any collision vs document-level copy)
    exact = {
        r["doc_id"]: r["contaminated"]
        for r in contamination_report(corpus, bench).collect()
    }
    assert exact[1] == 1 and exact[2] == 1 and exact[3] == 0
    survivors = {
        r["doc_id"] for r in fuzzy_decontaminate(corpus, bench, threshold=0.5).collect()
    }
    assert survivors == {2, 3}


def _py_tfidf_rows(texts):
    """Pure-Python twin of text.doc_token_freqs + corpus doc-frequency:
    returns ({doc_id: {token: tf}}, {token: df}, n_docs)."""
    from cypher_guard_spark.ops.text import py_tokens

    per = {}
    for doc_id, text in texts:
        tf = {}
        for t in py_tokens(text):
            tf[t] = tf.get(t, 0) + 1
        per[doc_id] = tf
    dfreq = {}
    for tf in per.values():
        for t in tf:
            dfreq[t] = dfreq.get(t, 0) + 1
    return per, dfreq, len(per)


def test_tfidf_keywords_matches_python_twin(spark, docs):
    """Top-k keywords by the rational (log-free) BM25 idf vs an exact
    pure-Python twin — scores, doc_freq, and the tie-broken ranking."""
    from cypher_guard_spark.ops.text import tfidf_keywords

    texts = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    per, dfreq, n = _py_tfidf_rows(texts)


    want = {}
    for doc_id, tf in per.items():
        scored = sorted(
            (
                (
                    -round6(c * (float(n) - dfreq[t] + 0.5) / (dfreq[t] + 0.5)),
                    t,
                    c,
                )
                for t, c in tf.items()
            )
        )
        for rnk, (neg_score, t, c) in enumerate(scored[:5], start=1):
            want[(doc_id, t)] = (c, dfreq[t], -neg_score, rnk)

    got = {
        (r["doc_id"], r["token"]): (r["tf"], r["doc_freq"], r["score"], r["rnk"])
        for r in tfidf_keywords(docs, k=5).collect()
    }
    assert got == want


def test_rarity_scores_matches_python_twin(spark, docs):
    from cypher_guard_spark.ops.text import rarity_scores

    texts = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    per, dfreq, _n = _py_tfidf_rows(texts)


    got = {
        r["doc_id"]: (r["n_tokens"], r["n_rare"], r["rare_ratio"], r["avg_doc_freq"])
        for r in rarity_scores(docs, rare_max_df=2).collect()
    }
    for doc_id, tf in per.items():
        n_tokens = sum(tf.values())
        n_rare = sum(c for t, c in tf.items() if dfreq[t] <= 2)
        wsum = sum(c * dfreq[t] for t, c in tf.items())
        assert got[doc_id] == (
            n_tokens,
            n_rare,
            round6(n_rare / max(n_tokens, 1)),
            round6(wsum / max(n_tokens, 1)),
        ), doc_id


def test_tfidf_topk_shape(spark, docs):
    """≤ k rows per doc, rnk is 1..k dense, every doc represented."""
    from cypher_guard_spark.ops.text import tfidf_keywords

    rows = tfidf_keywords(docs, k=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["rnk"])
    assert len(by_doc) == docs.count()
    for ranks in by_doc.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3


def test_inverted_index_roundtrip_matches_bruteforce(spark, docs, tmp_path):
    """write_inverted_index + search must rank exactly like a pure-Python
    brute-force over the corpus (distinct terms matched, then total tf,
    ties by doc_id)."""
    from cypher_guard_spark.ops.text import (
        search_inverted_index,
        write_inverted_index,
    )

    path = str(tmp_path / "invidx")
    write_inverted_index(docs, path, n_buckets=8)
    terms = ["spark", "merge", "zz-nonexistent-term"]
    got = [
        (r["doc_id"], r["n_terms_matched"], r["total_tf"], r["rnk"])
        for r in search_inverted_index(spark, path, terms, k=7, n_buckets=8)
        .orderBy("rnk")
        .collect()
    ]

    texts = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    per, _dfreq, _n = _py_tfidf_rows(texts)
    cand = []
    for doc_id, tf in per.items():
        matched = {t: tf[t] for t in terms if t in tf}
        if matched:
            cand.append((doc_id, len(matched), sum(matched.values())))
    cand.sort(key=lambda x: (-x[1], -x[2], x[0]))
    want = [(d, nt, tt, i + 1) for i, (d, nt, tt) in enumerate(cand[:7])]
    assert got == want


def test_inverted_index_scan_prunes_to_term_buckets(spark, docs, tmp_path):
    """The search scan must carry a PartitionFilters entry on the bucket
    column (the literal isin computed driver-side with the xxhash64
    twin) — reading only the query terms' bucket directories."""
    import contextlib
    import io

    from cypher_guard_spark.oracle import spark_xxhash64
    from cypher_guard_spark.ops.text import (
        search_inverted_index,
        write_inverted_index,
    )

    path = str(tmp_path / "invidx")
    write_inverted_index(docs, path, n_buckets=16)
    df = search_inverted_index(spark, path, ["spark"], k=3, n_buckets=16)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    b = spark_xxhash64("spark") % 16
    assert "PartitionFilters" in plan
    assert f"bucket#" in plan or "bucket IN" in plan or str(b) in plan
    # engine-side bucket agrees with the driver-side twin: the probed
    # bucket directory actually contains the token's postings
    hit = spark.read.parquet(f"{path}/postings").where(
        (F.col("bucket") == b) & (F.col("token") == "spark")
    )
    assert hit.count() > 0


def test_tfidf_rarity_edge_docs(spark):
    """Empty / whitespace-only / single-token docs: split('') yields ['']
    (the empty token), so every doc has ≥1 token row and the scorers stay
    total — locked against the same-convention Python twin."""
    from cypher_guard_spark.ops.text import rarity_scores, tfidf_keywords

    rows = [(1, ""), (2, "   "), (3, "solo"), (4, "solo solo solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tk = {
        (r["doc_id"], r["token"]): (r["tf"], r["doc_freq"])
        for r in tfidf_keywords(df, k=5).collect()
    }
    # docs 1 and 2 both normalize to the '' token (trim then split)
    assert tk[(1, "")] == (1, 2) and tk[(2, "")] == (1, 2)
    assert tk[(3, "solo")] == (1, 2) and tk[(4, "solo")] == (3, 2)
    rs = {
        r["doc_id"]: (r["n_tokens"], r["n_rare"], r["rare_ratio"])
        for r in rarity_scores(df, rare_max_df=2).collect()
    }
    assert rs[1] == (1, 1, 1.0)          # '' has df 2 <= 2: rare
    assert rs[4] == (3, 3, 1.0)          # 'solo' df 2 <= 2, tf-weighted
    assert set(rs) == {1, 2, 3, 4}


def test_length_quantiles_exact_matches_python_and_fast_is_close(spark, docs):
    """Exact mode reproduces the explicit discrete rule (value at rank
    floor(q*(n-1))+1 of the (n_tokens, doc_id) order); the default fast
    mode (approx_percentile sketch) lands within a ±2-rank window of the
    exact rule at this corpus size."""
    import bisect

    from cypher_guard_spark.ops.text import length_quantiles

    texts = [(r["doc_id"], r["text"], r["source"])
             for r in docs.select("doc_id", "text", "source").collect()]
    per, _dfreq, _n = _py_tfidf_rows([(d, t) for d, t, _s in texts])
    groups = {}
    for d, _t, s in texts:
        groups.setdefault(s, []).append((sum(per[d].values()), d))
    want = {}
    for s, vals in groups.items():
        vals.sort()
        n = len(vals)
        for q in (0.25, 0.5, 0.9, 0.99):
            import math
            rn = math.floor(q * (n - 1)) + 1
            want[(s, q)] = vals[rn - 1][0]

    exact = {
        (r["source"], r["q"]): r["n_tokens_q"]
        for r in length_quantiles(docs, exact=True).collect()
    }
    assert exact == want

    fast = {
        (r["source"], r["q"]): r["n_tokens_q"]
        for r in length_quantiles(docs, exact=False).collect()
    }
    assert set(fast) == set(want)
    for (s, q), v in fast.items():
        svals = sorted(x for x, _d in groups[s])
        # the sketch's value must sit within ±2 ranks of the exact rule's
        lo = bisect.bisect_left(svals, v)
        hi = bisect.bisect_right(svals, v)
        import math
        target = math.floor(q * (len(svals) - 1))
        assert lo - 2 <= target <= hi + 1, (s, q, v, target, lo, hi)


def test_corpus_cardinality_sketch_mode_tracks_exact(spark, docs):
    """Default (HLL sketch) mode must stay within ~3x the configured rsd
    of the exact counts, and the two modes must actually plan different
    aggregates (sketch: approx_count_distinct partial-aggs; exact:
    count(distinct ...))."""
    import contextlib
    import io

    from cypher_guard_spark.ops.text import corpus_cardinality

    exact = {
        r["source"]: r.asDict() for r in corpus_cardinality(docs, exact=True).collect()
    }
    approx = {
        r["source"]: r.asDict()
        for r in corpus_cardinality(docs, rsd=0.05).collect()
    }
    assert set(exact) == set(approx)
    for src, e in exact.items():
        a = approx[src]
        # plain counts are exact in both modes
        assert (a["n_docs"], a["n_tokens"]) == (e["n_docs"], e["n_tokens"])
        for c in ("n_unique_texts", "n_unique_tokens"):
            assert abs(a[c] - e[c]) <= max(3, 0.15 * e[c]), (src, c, a[c], e[c])

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("simple")
        return buf.getvalue()

    assert "approx_count_distinct" in plan_of(corpus_cardinality(docs))
    assert "distinct" in plan_of(corpus_cardinality(docs, exact=True)).lower()


def test_collocations_matches_bruteforce_and_plan_is_map_only(spark):
    """Pair generation must be join-free (nested transform over the token
    array) with the final top-k as TakeOrderedAndProject; values checked
    against an exhaustive window-pair twin, including the empty / 1-token
    edge docs and same-token pairs."""
    import contextlib
    import io
    import itertools
    import re
    from collections import Counter

    from cypher_guard_spark.ops.text import collocations

    texts = [
        "the cat sat on the mat",
        "the cat ate the fish",
        "a cat and the cat sat",
        "",
        "one",
        "fish fish fish",
    ] * 3
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    window, min_count, k = 3, 2, 10
    out = collocations(df, window=window, min_count=min_count, k=k).collect()

    toks_of = lambda s: re.split(r"\s+", s.lower().strip())  # noqa: E731
    uni = Counter(itertools.chain.from_iterable(toks_of(t) for t in texts))
    total = sum(uni.values())
    pc = Counter()
    for t in texts:
        ts = toks_of(t)
        for i in range(len(ts) - 1):
            for j in range(i + 1, min(i + window, len(ts) - 1) + 1):
                pc[tuple(sorted((ts[i], ts[j])))] += 1
    keep = [(a, b, n) for (a, b), n in pc.items() if n >= min_count]
    keep.sort(key=lambda r: (-r[2], r[0], r[1]))
    want = [
        (a, b, n, round(total * n / (uni[a] * uni[b]), 6))
        for a, b, n in keep[:k]
    ]
    got = [(r["tok_a"], r["tok_b"], r["n_pairs"], r["lift"]) for r in out]
    assert sorted(got) == sorted(want)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        collocations(df).explain("simple")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan
    # the ONLY product join allowed is the 1-row token-total attach; pair
    # generation itself must be explode-based (join-free)
    n_products = plan.count("CartesianProduct") + plan.count(
        "BroadcastNestedLoopJoin"
    )
    assert n_products <= 1, plan
    assert "Generate explode" in plan


def test_project_embeddings_map_only_and_deterministic(spark):
    import contextlib
    import io

    from cypher_guard_spark.ops.similarity import jl_signs, project_embeddings

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = project_embeddings(emb, out_dim=4, seed=1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("simple")
    assert "Exchange" not in buf.getvalue()  # plan-baked literals: map-only

    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, project_embeddings(emb, out_dim=4, seed=1).collect()))
    assert a == b and len(a) == emb.count() * 4
    # a different seed gives a genuinely different projection
    c = sorted(
        map(tuple, project_embeddings(emb, out_dim=4, seed=2).collect())
    )
    assert a != c
    # sign matrix is a pure function: same call twice, same matrix
    assert jl_signs(16, 4, seed=1) == jl_signs(16, 4, seed=1)
    # empty input short-circuits with the right schema
    empty = project_embeddings(emb.limit(0), out_dim=4)
    assert empty.columns == ["vec_id", "dim", "value"] and empty.count() == 0


def test_clean_text_c4_line_filters(spark):
    """Punctuation, min-words, and blocklist paths on crafted multi-line
    docs (the synthetic corpus is single-line, so the driver entry gates
    on word count only — this test owns the full C4 rule set)."""
    import contextlib
    import io

    from cypher_guard_spark.ops.text import clean_text

    docs = [
        (1, "Good sentence stays here.\nno punct line\nAlso kept line!\n"
            'Quoted keeps going."\nWe use javascript here.\ntiny.'),
        (2, "only\nshort\nlines"),
        (3, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = {r["doc_id"]: r for r in clean_text(df, min_words=3).collect()}
    # doc 1: punct'd >=3-word non-blocklisted lines survive, order kept
    assert out[1]["clean_text"] == (
        'Good sentence stays here.\nAlso kept line!\nQuoted keeps going."'
    )
    assert (out[1]["n_lines_kept"], out[1]["n_lines_dropped"]) == (3, 3)
    # docs 2 and 3 lose every line and are dropped by default...
    assert set(out) == {1}
    # ...but survive with keep_empty (clean_text empty, counts intact)
    kept = {
        r["doc_id"]: r
        for r in clean_text(df, min_words=3, keep_empty=True).collect()
    }
    assert kept[2]["clean_text"] == "" and kept[2]["n_lines_dropped"] == 3
    assert kept[3]["n_lines_kept"] == 0
    # require_punct=False keeps unpunctuated long lines
    relaxed = {
        r["doc_id"]: r
        for r in clean_text(df, min_words=3, require_punct=False).collect()
    }
    assert "no punct line" in relaxed[1]["clean_text"]
    # map-only contract: no exchange anywhere in the plan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        clean_text(df).explain("simple")
    assert "Exchange" not in buf.getvalue()


def test_quality_floor_fast_mode_tracks_exact(spark, docs):
    import contextlib
    import io

    from cypher_guard_spark.ops.text import quality_floor

    exact = quality_floor(docs, q=0.2, exact=True).collect()
    fast = quality_floor(docs, q=0.2).collect()
    n = docs.count()
    # both modes drop roughly the worst fifth
    assert abs(len(exact) - 0.8 * n) <= 0.05 * n
    assert abs(len(fast) - len(exact)) <= 0.1 * n
    # fast mode may differ from exact only in a band around the q-th
    # quantile: each source's minimum surviving quality must land within
    # the [q-0.15, q+0.15] rank band of that source's quality order
    from collections import defaultdict

    by_src = defaultdict(list)
    for r in docs.select(
        "source", F.col("doc_id")
    ).join(
        quality_floor(docs, q=0.0).select("doc_id", "quality"), "doc_id"
    ).collect():
        by_src[r["source"]].append(r["quality"])
    min_fast = {}
    for r in fast:
        s = r["source"]
        min_fast[s] = min(min_fast.get(s, 1e9), r["quality"])
    for s, quals in by_src.items():
        quals.sort()
        lo = quals[max(0, int(0.05 * len(quals)))]
        hi = quals[min(len(quals) - 1, int(0.35 * len(quals)))]
        assert lo <= min_fast[s] <= hi, (s, lo, min_fast[s], hi)
    # the scale mode must not contain a per-source rank window
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        quality_floor(docs, q=0.2).explain("simple")
    plan = buf.getvalue()
    assert "row_number" not in plan and "percentile" in plan


def test_ingest_new_batch_against_digest_index(spark, docs, tmp_path):
    """Ingestion exact-dedup lifecycle: build the index from wave A,
    ingest A+B (with in-batch duplicates) -> only novel-first-seen B rows
    pass; with update_index a re-ingest of the same wave yields nothing;
    the index scan stays digest-only (pruned schema)."""
    import contextlib
    import io

    from cypher_guard_spark.ops.dedup import ingest_new_batch, write_digest_index

    path = str(tmp_path / "digest_idx")
    wave_a = docs.where(F.col("doc_id") < 300)
    write_digest_index(wave_a, path)

    wave_b = docs.where(F.col("doc_id") >= 300)
    batch = wave_a.unionByName(wave_b)  # re-crawl: A is all dup
    novel = ingest_new_batch(spark, batch, path)
    got_ids = {r["doc_id"] for r in novel.select("doc_id").collect()}
    # expected: first doc_id per NEW digest (B texts can collide with A
    # texts and with each other — compute the twin)
    a_digests = {
        r["d"]
        for r in wave_a.select(
            F.md5(F.lower(F.trim(F.col("text")))).alias("d")
        ).collect()
    }
    want, seen = set(), set(a_digests)
    for r in sorted(
        batch.select(
            "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("d")
        ).collect(),
        key=lambda r: r["doc_id"],
    ):
        if r["d"] not in seen:
            seen.add(r["d"])
            want.add(r["doc_id"])
    assert got_ids == want and got_ids  # non-trivial and exact
    assert "digest" not in novel.columns  # internal column dropped

    # pruned index scan: only the digest column is read
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ingest_new_batch(spark, batch, path).explain("formatted")
    scan = [
        ln
        for ln in buf.getvalue().splitlines()
        if "ReadSchema" in ln and "digest" in ln
    ]
    assert scan, buf.getvalue()

    # update_index appends the novel digests: same wave again -> nothing
    n2 = ingest_new_batch(spark, batch, path, update_index=True)
    assert {r["doc_id"] for r in n2.select("doc_id").collect()} == want
    assert ingest_new_batch(spark, batch, path).count() == 0


def test_bigram_lm_at_rest_matches_inplan_and_ranks_fluency(spark, docs, tmp_path):
    """Train-once/score-many: scoring against the stored (w1,w2,c12,c1)
    table must be bit-identical to the in-plan training path, and a
    corpus-typical transition doc must outscore a shuffled-gibberish doc
    under the same model."""
    from cypher_guard_spark.ops.text import bigram_cohesion, train_bigram_lm

    path = str(tmp_path / "bigram_lm")
    train_bigram_lm(docs, path)
    lm = spark.read.parquet(path)
    stored = {
        r["doc_id"]: (r["n_bigrams"], r["cohesion"])
        for r in bigram_cohesion(docs, lm=lm).collect()
    }
    inplan = {
        r["doc_id"]: (r["n_bigrams"], r["cohesion"])
        for r in bigram_cohesion(docs).collect()
    }
    assert stored == inplan and stored
    # model transfer: score NEW docs against the corpus model — one made
    # of the corpus's most common bigram repeated, one of unseen tokens
    top = (
        lm.orderBy(F.col("c12").desc(), "w1", "w2").limit(1).collect()[0]
    )
    fluent = f"{top['w1']} {top['w2']} " * 5
    probe = spark.createDataFrame(
        [(900001, fluent), (900002, "zzq qqz zqz qzz zzq virp")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["cohesion"]
        for r in bigram_cohesion(probe, lm=lm).collect()
    }
    assert got[900001] > got[900002] == 0.0


def test_chunk_documents_brute_force_twin(spark):
    """Chunk boundaries, counts, and rejoined text match a pure-Python
    sliding-window twin across the edge grid: shorter-than-window,
    exactly-one-window, exact-multiple tail, ragged tail, empty text."""
    from cypher_guard_spark.ops.sample import chunk_documents

    texts = {
        1: "a b c",                                   # n < chunk
        2: " ".join(f"t{i}" for i in range(8)),       # n == chunk
        3: " ".join(f"t{i}" for i in range(16)),      # tail ends exactly
        4: " ".join(f"t{i}" for i in range(19)),      # ragged tail
        5: "",                                        # split('') -> ['']
        6: "solo",
    }
    chunk, stride = 8, 4
    df = spark.createDataFrame(sorted(texts.items()), ["doc_id", "text"])
    got = {
        (r["doc_id"], r["chunk_id"]): r
        for r in chunk_documents(
            df, chunk_tokens=chunk, stride=stride
        ).collect()
    }

    expected = {}
    for doc_id, text in texts.items():
        toks = text.strip().lower().split() or [""]
        n = len(toks)
        n_chunks = 1 if n <= chunk else -(-(n - chunk) // stride) + 1
        for i in range(n_chunks):
            s = i * stride
            expected[(doc_id, i)] = (
                s, min(chunk, n - s), " ".join(toks[s : s + chunk])
            )
    assert set(got) == set(expected)
    for key, (start, ntok, ctext) in expected.items():
        r = got[key]
        assert (r["start_tok"], r["n_tokens"], r["chunk_text"]) == (
            start, ntok, ctext
        ), key
    # every doc survives, overlap = chunk - stride tokens between
    # consecutive windows of the same doc
    assert {k[0] for k in got} == set(texts)
    t4 = [got[(4, i)]["chunk_text"].split() for i in range(3)]
    assert t4[0][stride:] == t4[1][: chunk - stride]


def test_chunk_documents_map_only_plan(spark, docs):
    """Tokenize -> explode -> slice rides the scan: zero exchanges."""
    from cypher_guard_spark.ops.sample import chunk_documents

    plan = (
        chunk_documents(docs, chunk_tokens=48, stride=32)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_build_vocab_rank_ties_and_mincount(spark):
    from cypher_guard_spark.ops.text import build_vocab

    docs = spark.createDataFrame(
        [(1, "b a a c c"), (2, "a b b z"), (3, "c a")],
        "doc_id long, text string",
    )
    out = {
        r["token"]: (r["token_id"], r["n_occurrences"], r["n_docs"])
        for r in build_vocab(docs, vocab_size=3, min_count=2).collect()
    }
    # a=4x/3docs; b=3x/2docs; c=3x/2docs (count tie -> token ASC); z cut
    assert out == {"a": (0, 4, 3), "b": (1, 3, 2), "c": (2, 3, 2)}
    top2 = {
        r["token"]: r["token_id"]
        for r in build_vocab(docs, vocab_size=2, min_count=1).collect()
    }
    assert top2 == {"a": 0, "b": 1}


def test_dup_ngram_coverage_matches_bruteforce(spark):
    import random
    import re

    from cypher_guard_spark.ops.dedup import dup_ngram_coverage

    rng = random.Random(7)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    shared = "x1 x2 x3 x4 x5 x6 x7"  # 7-token block planted in several docs
    rows = []
    for i in range(24):
        toks = [rng.choice(vocab) for _ in range(rng.randrange(0, 14))]
        if i % 3 == 0:
            at = rng.randrange(0, len(toks) + 1)
            toks = toks[:at] + shared.split() + toks[at:]
        rows.append((i, " ".join(toks)))
    rows.append((100, rows[0][1]))  # exact duplicate of doc 0
    rows.append((101, ""))  # empty text
    n, min_docs = 5, 2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_covered"], r["coverage"])
        for r in dup_ngram_coverage(df, n=n, min_docs=min_docs).collect()
    }

    def toks_of(t):
        return re.split(r"\s+", t.strip(" ").lower(), flags=re.ASCII)

    grams = {}
    for doc_id, text in rows:
        ts = toks_of(text)
        for s in range(max(len(ts) - n + 1, 0)):
            grams.setdefault(" ".join(ts[s : s + n]), set()).add(doc_id)
    dup = {g for g, ds in grams.items() if len(ds) >= min_docs}
    assert len(got) == len(rows)
    for doc_id, text in rows:
        ts = toks_of(text)
        covered = set()
        for s in range(max(len(ts) - n + 1, 0)):
            if " ".join(ts[s : s + n]) in dup:
                covered.update(range(s, s + n))
        want_cov = round(len(covered) / max(len(ts), 1), 6)
        assert got[doc_id][0] == len(ts), doc_id
        assert got[doc_id][1] == len(covered), doc_id
        assert abs(got[doc_id][2] - want_cov) <= 5.1e-7, doc_id
    # the exact-duplicate pair is fully covered when long enough
    if len(toks_of(rows[0][1])) >= n:
        assert got[100][2] == 1.0
    assert got[101] == (1, 0, 0.0)


# ---------------------------------------------------------------------------
# BM25 top-k retrieval
# ---------------------------------------------------------------------------

def _py_bm25(texts, terms, k1=1.2, b=0.75, topk=20):
    """Serial twin of text.bm25_topk: same rational idf, same fixed-order
    term chain, same rounding."""
    toks = {d: t.lower().strip().split() for d, t in texts}
    # python split() collapses whitespace like the \s+ regex; doc length
    # parity is asserted separately by the token_stats oracle
    n = len(texts)
    dl = {d: len(ws) for d, ws in toks.items()}
    avgdl = sum(dl.values()) / n
    dfreq = [sum(1 for ws in toks.values() if t in ws) for t in terms]
    out = []
    for d, ws in toks.items():
        score, matched = None, 0
        for i, t in enumerate(terms):
            tf = float(ws.count(t))
            idf = (n - dfreq[i] + 0.5) / (dfreq[i] + 0.5)
            ts = idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl[d] / avgdl))
            score = ts if score is None else score + ts
            matched += tf > 0
        if matched:
            out.append((d, matched, round6(score)))
    out.sort(key=lambda r: (-r[2], r[0]))
    return [(d, m, s, i + 1) for i, (d, m, s) in enumerate(out[:topk])]


BM25_TEXTS = [
    (1, "spark shuffle join broadcast join join"),
    (2, "broadcast broadcast hash"),
    (3, "nothing relevant here at all"),
    (4, "join"),
    (5, "shuffle shuffle shuffle shuffle shuffle padding padding padding"),
]


def test_bm25_matches_twin(spark):
    from cypher_guard_spark.ops.text import bm25_topk

    df = spark.createDataFrame(BM25_TEXTS, ["doc_id", "text"])
    terms = ["join", "shuffle", "broadcast"]
    got = [
        (r["doc_id"], r["n_matched"], r["score"], r["rnk"])
        for r in bm25_topk(df, terms, topk=3)
        .orderBy("rnk")
        .collect()
    ]
    assert got == _py_bm25(BM25_TEXTS, terms, topk=3)
    # doc 3 matches nothing -> excluded even when topk > matches
    all_rows = bm25_topk(df, terms, topk=10).collect()
    assert {r["doc_id"] for r in all_rows} == {1, 2, 4, 5}


def test_bm25_guards_and_shape(spark):
    from cypher_guard_spark.ops.text import bm25_topk

    df = spark.createDataFrame(BM25_TEXTS, ["doc_id", "text"])
    with pytest.raises(ValueError, match="at least one"):
        bm25_topk(df, [])
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bm25_topk(empty, ["join"]).count() == 0
    # case-insensitive query terms
    up = bm25_topk(df, ["JOIN"], topk=5).collect()
    assert {r["doc_id"] for r in up} == {1, 4}


def test_bm25_score_pass_plan(spark):
    """Score pass: no Python eval, top-k via TakeOrderedAndProject (per-
    partition heaps), no corpus-wide sort Exchange before the limit."""
    from cypher_guard_spark.ops.text import bm25_topk

    df = spark.createDataFrame(BM25_TEXTS, ["doc_id", "text"])
    plan = (
        bm25_topk(df, ["join", "shuffle"], topk=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# incremental near-dup against the at-rest MinHash index
# ---------------------------------------------------------------------------

NEARDUP_HISTORY = [
    (10, "the quick brown fox jumps over the lazy dog near the river bank"),
    (12, "completely unrelated indexed text about spark shuffles and joins"),
]
NEARDUP_BATCH = [
    # near-dup of doc 10 (one word changed)
    (21, "the quick brown fox jumps over the lazy cat near the river bank"),
    # novel
    (23, "fresh never seen content with its own vocabulary and phrasing"),
    # in-batch near-dups of each other, NOT of history: must not appear
    (25, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (27, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
]


def test_neardup_incremental_semantics(spark):
    from cypher_guard_spark.ops.dedup import band_rows, neardup_incremental

    hist = spark.createDataFrame(NEARDUP_HISTORY, ["doc_id", "text"])
    batch = spark.createDataFrame(NEARDUP_BATCH, ["doc_id", "text"])
    got = neardup_incremental(
        batch, band_rows(hist), hist, threshold=0.3
    ).collect()
    pairs = {(r["new_id"], r["old_id"]) for r in got}
    assert pairs == {(21, 10)}  # only the batch-vs-history near-dup
    sim = {(r["new_id"], r["old_id"]): r["sim"] for r in got}[(21, 10)]
    assert 0.3 <= sim < 1.0


def test_neardup_at_rest_index_roundtrip(spark, tmp_path):
    from cypher_guard_spark.ops.dedup import (
        band_rows,
        neardup_against_index,
        neardup_incremental,
        write_minhash_index,
    )

    hist = spark.createDataFrame(NEARDUP_HISTORY, ["doc_id", "text"])
    batch = spark.createDataFrame(NEARDUP_BATCH, ["doc_id", "text"])
    path = str(tmp_path / "mh_index")
    write_minhash_index(hist, path)
    at_rest = neardup_against_index(spark, batch, path, hist, threshold=0.3)
    in_mem = neardup_incremental(batch, band_rows(hist), hist, threshold=0.3)
    assert sorted(map(tuple, at_rest.collect())) == sorted(
        map(tuple, in_mem.collect())
    )
    # the store holds (doc_id, band, bh) partitioned by bucket — no text
    idx = spark.read.parquet(path)
    assert set(idx.columns) == {"doc_id", "band", "bh", "bucket"}


def test_neardup_incremental_exact_dup_and_empty(spark):
    from cypher_guard_spark.ops.dedup import band_rows, neardup_incremental

    hist = spark.createDataFrame(NEARDUP_HISTORY, ["doc_id", "text"])
    # exact duplicate of history -> sim 1.0
    batch = spark.createDataFrame(
        [(31, NEARDUP_HISTORY[0][1])], ["doc_id", "text"]
    )
    got = neardup_incremental(batch, band_rows(hist), hist).collect()
    assert [(r["new_id"], r["old_id"], r["sim"]) for r in got] == [(31, 10, 1.0)]
    # empty batch -> empty result
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert neardup_incremental(empty, band_rows(hist), hist).count() == 0


def test_phash_near_duplicates_pigeonhole_complete(spark):
    """Planted hashes at distances 0-4: the chunk join finds exactly the
    brute-force Hamming pair set for dist<=3, excludes dist 4, and the
    signed-bit corner (bit 63 set) survives the chunk split."""
    from cypher_guard_spark.ops.multimodal import phash_near_duplicates

    base = 0x0123456789ABCDEF
    hashes = [
        ("a", base),
        ("b", base ^ 0x1),                      # dist 1
        ("c", base ^ 0x7),                      # dist 3
        ("d", base ^ 0xF),                      # dist 4 (excluded)
        ("e", base ^ (1 << 63)),                # dist 1, flips the sign bit
        ("f", -(2**63)),                        # minimal bigint, isolated
    ]
    signed = [(i, h - (1 << 64) if h >= (1 << 63) else h) for i, h in hashes]
    df = spark.createDataFrame(signed, "media_id string, phash long")
    got = {
        (r["media_id_a"], r["media_id_b"]): r["dist"]
        for r in phash_near_duplicates(df, max_dist=3).collect()
    }
    want = {}
    for x in range(len(hashes)):
        for y in range(x + 1, len(hashes)):
            (ia, ha), (ib, hb) = hashes[x], hashes[y]
            d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                want[tuple(sorted((ia, ib)))] = d
    assert got == want
    assert got[("a", "b")] == 1 and got[("a", "e")] == 1 and got[("a", "c")] == 3
    assert ("a", "d") not in got
    with pytest.raises(ValueError):
        phash_near_duplicates(df, max_dist=4, n_chunks=4)
    with pytest.raises(ValueError):
        phash_near_duplicates(df, n_chunks=5)


def test_ahash_media_deterministic_and_payload_keyed(spark):
    """Identical payloads hash identically under the stub kernel; the
    Spark path equals the serial kernel; payloads never reach the output."""
    from cypher_guard_spark.ops.multimodal import (
        _ahash64,
        ahash_media,
        synthesize_media,
    )

    media = synthesize_media(spark, 6)
    rows = {r["media_id"]: r["phash"] for r in ahash_media(media).collect()}
    import hashlib as hl

    for i in range(6):
        payload = bytes(hl.sha256(f"media-{i}".encode()).digest() * (1 + i % 5))
        assert rows[f"m-{i:05d}"] == _ahash64(payload)
    # exact payload copy under a new id -> identical hash -> dist-0 pair
    from pyspark.sql import functions as F
    from cypher_guard_spark.ops.multimodal import phash_near_duplicates

    dup = media.limit(1).withColumn("media_id", F.lit("m-copy"))
    hashes = ahash_media(media.unionByName(dup))
    pairs = phash_near_duplicates(hashes, max_dist=3).collect()
    assert {(r["media_id_a"], r["media_id_b"], r["dist"]) for r in pairs} == {
        ("m-00000", "m-copy", 0)
    }


def test_oov_rates_matches_bruteforce(spark):
    """OOV shares vs a hand-counted twin: in-vocab, mixed, all-OOV, and
    empty documents; same tokenizer as build_vocab by construction."""
    import re

    from cypher_guard_spark.ops.text import build_vocab, oov_rates

    docs = [
        ("d1", "the cat sat on the mat"),
        ("d2", "the dog UNSEEN zebra"),
        ("d3", "qqq zzz"),
        ("d4", "   "),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("sat",), ("on",), ("mat",), ("dog",)],
        "token string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_rate"])
        for r in oov_rates(df, vocab).collect()
    }
    vset = {"the", "cat", "sat", "on", "mat", "dog"}
    for doc_id, text in docs:
        toks = [t for t in re.split(r"\s+", text.strip().lower()) if t]
        n_oov = sum(1 for t in toks if t not in vset)
        rate = 0.0 if not toks else round(n_oov / len(toks), 6)
        assert got[doc_id] == (len(toks), n_oov, rate), doc_id
    # against its own full vocab the corpus is 0% OOV
    full = build_vocab(df, vocab_size=1000, min_count=1)
    assert all(
        r["oov_rate"] == 0.0 for r in oov_rates(df, full).collect()
    )


def test_compression_ratios_signal_and_edges(spark):
    """Repetitive text compresses far below random-ish prose; empty docs
    report 0.0; values equal the serial zlib twin exactly."""
    import zlib

    from cypher_guard_spark.ops.text import compression_ratios

    docs = [
        ("r", "spam ham " * 500),
        ("n", "The quick brown fox jumps over the lazy dog near the bank."),
        ("e", ""),
        ("u", "héllo wörld é" * 3),  # multi-byte utf-8
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["raw_bytes"], r["compressed_bytes"], r["ratio"])
        for r in compression_ratios(df).collect()
    }
    for doc_id, text in docs:
        b = text.encode("utf-8")
        c = len(zlib.compress(b, 6))
        want = (len(b), c, 0.0 if not b else round(c / len(b), 6))
        assert got[doc_id] == want, doc_id
    assert got["r"][2] < 0.05          # templated text crushes
    assert got["n"][2] > 0.5           # short prose barely compresses


def test_redact_pii_chain_semantics(spark):
    from cypher_guard_spark.ops.text import redact_pii

    docs = [
        ("a", "Mail me at Bob@Example.COM or call 1234567 now"),
        ("b", "see https://site.example/page?id=9 for info"),
        ("c", "clean text with no sensitive content"),
        ("d", "a@b.io x@y.org 999999999"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["text_redacted"], r["n_redactions"])
        for r in redact_pii(df).collect()
    }
    assert got["a"] == ("mail me at <EMAIL> or call <DIGITS> now", 2)
    assert got["b"] == ("see <URL> for info", 1)
    assert got["c"] == ("clean text with no sensitive content", 0)
    assert got["d"] == ("<EMAIL> <EMAIL> <DIGITS>", 3)


def test_cross_source_dup_matrix(spark):
    """Matrix rows = unordered source pairs of the verified near-dup
    pair list; counts/min/max match a serial composition off the same
    minhash_near_duplicates output."""
    from cypher_guard_spark.ops.dedup import (
        cross_source_dup_matrix,
        minhash_near_duplicates,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [
        (1, base * 4, "crawlA"),
        (2, base * 4 + "tail", "crawlB"),       # cross-source near-dup
        (3, base * 4 + "other tail", "crawlB"),  # in-B near-dup
        (4, "completely different text about spark shuffles " * 5, "crawlA"),
        (5, "completely different text about spark shuffles " * 5, "crawlA"),  # in-A dup
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        (r["source_a"], r["source_b"]): (
            r["n_pairs"],
            r["min_sim"],
            r["max_sim"],
        )
        for r in cross_source_dup_matrix(df, threshold=0.3).collect()
    }
    pairs = minhash_near_duplicates(df, threshold=0.3).collect()
    src = {d: s for d, _t, s in rows}
    want: dict = {}
    for p in pairs:
        key = tuple(sorted((src[p["a"]], src[p["b"]])))
        n, lo, hi = want.get(key, (0, float("inf"), float("-inf")))
        want[key] = (n + 1, min(lo, p["sim"]), max(hi, p["sim"]))
    assert got == want
    # the fixture guarantees all three cells exist
    assert {("crawlA", "crawlB"), ("crawlB", "crawlB"), ("crawlA", "crawlA")} <= set(got)


def test_vocab_growth_serial_twin(spark):
    """Heaps-curve checkpoints match a serial prefix scan: exact integer
    checkpoint assignment, cumulative monotonicity, final row = corpus
    totals."""
    from cypher_guard_spark.ops.text import vocab_growth

    rows = [
        (1, "alpha beta"),
        (3, "alpha gamma gamma"),
        (5, "delta"),
        (8, "alpha epsilon zeta"),
        (10, "zeta eta"),
    ]
    n = 5
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [
        (r["checkpoint"], r["n_docs_cum"], r["n_tokens_cum"], r["vocab_cum"])
        for r in vocab_growth(df, n_checkpoints=n)
        .orderBy("checkpoint")
        .collect()
    ]
    mx = max(d for d, _t in rows)
    ck = lambda v: max((v * n + mx - 1) // mx, 1)  # noqa: E731
    spine = [(i, (i * mx) // n) for i in range(1, n + 1)]
    first_seen: dict = {}
    for d, t in sorted(rows):
        for tok in t.lower().strip().split():
            first_seen.setdefault(tok, d)
    want = []
    for i, cp in spine:
        docs = [(d, t) for d, t in rows if ck(d) <= i]
        toks = sum(len(t.lower().strip().split()) for _d, t in docs)
        vocab = sum(1 for v in first_seen.values() if ck(v) <= i)
        want.append((cp, len(docs), toks, vocab))
    assert got == want
    # monotone and totals
    for a, b in zip(got, got[1:]):
        assert b[1] >= a[1] and b[2] >= a[2] and b[3] >= a[3]
    assert got[-1][1:] == (len(rows), 11, len(first_seen))


def test_lexical_diversity_hand_values(spark):
    from cypher_guard_spark.ops.text import lexical_diversity

    rows = [
        (1, "a a a a"),            # single type: ttr=0.25, simpson=1.0
        (2, "a b c d"),            # all distinct: simpson=0.0
        (3, "a a b"),              # rep=2, N=3 → 2/6
        (4, "solo"),               # N=1 → simpson 0.0 (try_divide guard)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_types"], r["ttr"], r["simpson"])
        for r in lexical_diversity(df).collect()
    }
    assert got[1] == (4, 1, 0.25, 1.0)
    assert got[2] == (4, 4, 1.0, 0.0)
    assert got[3] == (3, 2, round(2 / 3, 6), round(2 / 6, 6))
    assert got[4] == (1, 1, 1.0, 0.0)


def test_frequency_spectrum_hand_values(spark):
    """Counts: a=8 (bucket 3, exact power of two — the float-log2 trap),
    b=5 (bucket 2), c=4 (bucket 2), d=1, e=1 (bucket 0)."""
    from cypher_guard_spark.ops.text import frequency_spectrum

    text = " ".join(["a"] * 8 + ["b"] * 5 + ["c"] * 4 + ["d", "e"])
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = {
        r["bucket"]: r for r in frequency_spectrum(df).collect()
    }
    assert set(rows) == {0, 2, 3}
    assert (rows[0]["min_count"], rows[0]["max_count"]) == (1, 1)
    assert (rows[0]["n_types"], rows[0]["total_occurrences"]) == (2, 2)
    assert (rows[2]["min_count"], rows[2]["max_count"]) == (4, 5)
    assert (rows[2]["n_types"], rows[2]["total_occurrences"]) == (2, 9)
    assert (rows[3]["min_count"], rows[3]["max_count"]) == (8, 8)
    assert (rows[3]["n_types"], rows[3]["total_occurrences"]) == (1, 8)
    # cumulative types follow bucket order
    assert [rows[b]["cum_types"] for b in (0, 2, 3)] == [2, 4, 5]


def test_knn_label_noise_flags_planted_mislabel(spark):
    """Two tight clusters in 2-d; one point of cluster A carries cluster
    B's label — its whole neighborhood disagrees, so it is the only
    suspect. k exceeding corpus-1 exercises the actual-neighbor count."""
    from cypher_guard_spark.ops.similarity import knn_label_noise

    rows = [
        (0, [1.0, 0.0], 1),
        (1, [0.99, 0.01], 1),
        (2, [0.98, 0.02], 1),
        (3, [0.97, 0.03], 2),   # planted: sits in cluster A, labeled B
        (4, [0.0, 1.0], 2),
        (5, [0.01, 0.99], 2),
        (6, [0.02, 0.98], 2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["vec_id"]: r for r in knn_label_noise(df, df, k=3).collect()
    }
    assert all(out[i]["n_neighbors"] == 3 for i in out)
    # planted point: all 3 nearest are cluster A with label 1 ≠ 2
    assert out[3]["n_agree"] == 0
    assert out[3]["suspect"] == 1
    assert out[3]["agree_frac"] == 0.0
    # true cluster members keep majority agreement, never suspect
    for i in (0, 1, 2):
        assert out[i]["suspect"] == 0  # 2 of 3 neighbors agree (3 is mislabeled)
        assert out[i]["n_agree"] == 2
    for i in (4, 5, 6):
        # cluster B points see the two other B points + the planted
        # far-side B-labeled point ranks below the tight pair — their
        # third neighbor is a cluster-A point or the planted one
        assert out[i]["suspect"] == 0
    # k larger than corpus-1 → every remaining vector is a neighbor
    out_all = {
        r["vec_id"]: r for r in knn_label_noise(df, df, k=100).collect()
    }
    assert all(out_all[i]["n_neighbors"] == 6 for i in out_all)


def test_leakage_safe_split_never_splits_near_dups(spark):
    from cypher_guard_spark.ops.dedup import (
        leakage_safe_split,
        minhash_near_duplicates,
    )

    rows = []
    for g in range(12):
        # lexically DISJOINT stems so groups do not merge across g
        stem = " ".join(f"w{g}x{i}" for i in range(14))
        rows.append((g * 10, stem))
        rows.append((g * 10 + 1, stem + f" extra{g}"))
        rows.append((g * 10 + 2, stem + f" tail{g} word{g}"))
    for s in range(8):
        rows.append((1000 + s, f"solo{s} " + " ".join(f"u{s}y{i}" for i in range(10))))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    out = leakage_safe_split(spark, df, eval_pct=50, threshold=0.3)
    got = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in out.collect()}
    # every doc exactly once
    assert len(got) == len(rows)
    # no near-dup pair crosses the boundary
    pairs = minhash_near_duplicates(df, threshold=0.3).select("a", "b").collect()
    assert pairs, "fixture must actually produce near-dup pairs"
    for p in pairs:
        assert got[p["a"]][1] == got[p["b"]][1]
    # both sides populated and the split is cluster-keyed
    sides = {s for _, s in got.values()}
    assert sides == {"train", "eval"}
    by_cluster: dict = {}
    for cid, split in got.values():
        by_cluster.setdefault(cid, set()).add(split)
    assert all(len(v) == 1 for v in by_cluster.values())


def test_hard_negatives_mines_cross_label_neighbors(spark):
    """Two tight clusters with opposite labels + one anchor near the
    boundary: its hardest negatives are the nearest other-label points,
    in cosine order; a deep-inside anchor whose top-k ball is all
    same-label emits nothing."""
    from cypher_guard_spark.ops.similarity import hard_negatives

    rows = [
        # cluster A (label 0) around (1, 0)
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.05], 0),
        (2, [0.98, -0.05], 0),
        # cluster B (label 1) around (0, 1)
        (3, [0.0, 1.0], 1),
        (4, [0.05, 0.99], 1),
        # boundary point, label 0, leaning toward B
        (5, [0.6, 0.8], 0),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = hard_negatives(
        emb, emb.where(F.col("vec_id").isin(5, 0)), k=5, per_anchor=2
    )
    got = {
        r["anchor_id"]: (r["negative_id"], r["neg_rank"])
        for r in out.collect()
        if r["neg_rank"] == 1
    }
    # anchor 5 (label 0): nearest label-1 neighbor is 4 — cos(5,4)=
    # 0.822/||(0.05,0.99)||≈0.8292 beats cos(5,3)=0.8 exactly because
    # vec 4 is not unit norm; then 3
    assert got[5][0] == 4
    ranks5 = sorted(
        (r["neg_rank"], r["negative_id"])
        for r in out.where(F.col("anchor_id") == 5).collect()
    )
    assert [nid for _r, nid in ranks5] == [4, 3]
    # every emitted negative really is cross-label
    assert out.where(F.col("label") == F.col("negative_label")).count() == 0
    # k window honesty: with k=2 anchor 0's ball is all label-0 → no rows
    none = hard_negatives(
        emb, emb.where(F.col("vec_id") == 0), k=2, per_anchor=2
    )
    assert none.count() == 0


def test_source_cap_two_phase_equals_single_window(spark):
    """The salted two-phase top-cap returns exactly the single-window
    answer on a skewed corpus (one source owns most rows), caps every
    source, and prefers longer docs then smaller ids."""
    from pyspark.sql import Window as W

    from cypher_guard_spark.ops.sample import source_cap

    rows = [(f"d{i:03d}", "hub.com", 1000 - i) for i in range(40)] + [
        ("x1", "tiny.org", 10),
        ("x2", "tiny.org", 99),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    out = source_cap(docs, cap=5, score_col="n_chars", salt=4)
    # single-window reference
    ref = (
        docs.withColumn(
            "keep_rank",
            F.row_number()
            .over(W.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id")))
            .cast("long"),
        )
        .where(F.col("keep_rank") <= 5)
        .select("doc_id", "source", "keep_rank")
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, ref.collect())
    )
    # hub capped at 5, tiny keeps both, quality order holds
    assert out.where(F.col("source") == "hub.com").count() == 5
    top_hub = (
        out.where((F.col("source") == "hub.com") & (F.col("keep_rank") == 1))
        .collect()[0]["doc_id"]
    )
    assert top_hub == "d000"  # n_chars=1000, the longest
    assert out.where(F.col("source") == "tiny.org").count() == 2

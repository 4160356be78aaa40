"""PageRank kernel tests: exact-mode determinism + agreement with an
inline reference implementation on a crafted multigraph, and fast-mode
(partial-agg sum) agreement within FP tolerance."""

import hashlib

import pytest

pyspark = pytest.importorskip("pyspark")

from cypher_guard_spark.oracle import round6  # noqa: E402
from cypher_guard_spark.pipeline.graph_algo import (  # noqa: E402
    py_hits,
    py_k_core,
    py_max_spanning_forest,
    py_random_walks,
)


@pytest.fixture(scope="module")
def spark():
    from cypher_guard_spark.spark import build_session

    spark = build_session("graph-algo-tests", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


EDGES = [
    ("a", "b"), ("a", "b"),  # multi-edge: counted twice
    ("b", "c"), ("c", "a"), ("d", "a"),  # d is dangling-in only
    ("a", "c"),
]


def _reference(iters=3, damping=0.85):
    verts = sorted({v for e in EDGES for v in e})
    n = len(verts)
    outdeg = {}
    for s, _ in EDGES:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (1.0 - damping) / n
    rank = {v: round(1.0 / n, 6) for v in verts}
    for _ in range(iters):
        contribs = {v: [] for v in verts}
        for s, o in EDGES:
            contribs[o].append(rank[s] / outdeg[s])
        rank = {
            v: round6(base + damping * sum(sorted(contribs[v]), 0.0)) for v in verts
        }
    return rank


def test_pagerank_exact_matches_reference(spark):
    from cypher_guard_spark.pipeline.graph_algo import pagerank

    e = spark.createDataFrame(EDGES, ["src", "dst"])
    got = {
        r["entity"]: r["rank"]
        for r in pagerank(spark, e, iters=3, exact=True).collect()
    }
    assert got == _reference(iters=3)


def test_pagerank_fast_mode_close_and_mass_bounded(spark):
    from cypher_guard_spark.pipeline.graph_algo import pagerank

    e = spark.createDataFrame(EDGES, ["src", "dst"])
    exact = {
        r["entity"]: r["rank"]
        for r in pagerank(spark, e, iters=3, exact=True).collect()
    }
    fast = {
        r["entity"]: r["rank"]
        for r in pagerank(spark, e, iters=3, exact=False).collect()
    }
    assert set(fast) == set(exact)
    assert all(abs(fast[v] - exact[v]) < 1e-9 for v in exact)
    # simplified PR leaks dangling mass, so total is <= 1 but positive
    assert 0.0 < sum(exact.values()) <= 1.0 + 1e-6
    assert all(v > 0 for v in exact.values())


def test_pagerank_default_is_scale_safe(spark):
    """The DEFAULT mode must be the hub-safe partial-agg sum: no
    collect_list anywhere in the round's plan (VERDICT r3 nit 3 — a
    copy-paste user gets the plan that survives a 10^8-in-degree hub).
    The round plan is inspected pre-checkpoint via _pagerank_round (the
    per-iteration localCheckpoint truncates pagerank()'s visible plan to
    an RDD scan)."""
    import inspect

    from cypher_guard_spark.pipeline import graph_algo
    from cypher_guard_spark.pipeline.graph_algo import _pagerank_round, pagerank

    # the public default is exact=False
    assert (
        inspect.signature(pagerank).parameters["exact"].default is False
    )
    e = spark.createDataFrame(EDGES, ["src", "dst"])
    from pyspark.sql import functions as F

    verts = e.select(F.col("src").alias("entity")).unionByName(
        e.select(F.col("dst").alias("entity"))
    ).distinct()
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ranks = verts.select("entity", F.lit(0.25).alias("rank"))

    def plan(exact):
        df = _pagerank_round(e, verts, outdeg, ranks, 0.0375, 0.85, exact)
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "collect_list" not in plan(exact=False)
    # and the opt-in exact mode is the one that carries the sorted fold
    assert "collect_list" in plan(exact=True)


def test_pagerank_empty_edges(spark):
    from cypher_guard_spark.pipeline.graph_algo import pagerank

    e = spark.createDataFrame([], "src string, dst string")
    out = pagerank(spark, e, iters=3)
    assert out.count() == 0
    assert out.columns == ["entity", "rank"]


def test_entity_similarity_matches_python_twin(spark):
    """Jaccard over the undirected distinct adjacency of a crafted graph,
    vs an inline set-arithmetic reference (exact ints + one division)."""
    from cypher_guard_spark.pipeline.graph_algo import entity_similarity

    edges = [
        ("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"), ("b", "z"),
        ("c", "z"), ("a", "x"),  # duplicate edge: adjacency is distinct
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r["a"], r["b"]): (r["n_shared"], r["sim"])
        for r in entity_similarity(e, threshold=0.0).collect()
    }

    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    ents = sorted(adj)
    want = {}
    for i, a in enumerate(ents):
        for b in ents[i + 1:]:
            inter = len(adj[a] & adj[b])
            if inter == 0:
                continue
            sim = round6(inter / (len(adj[a]) + len(adj[b]) - inter))
            want[(a, b)] = (inter, sim)
    assert got == want


def test_entity_similarity_hub_cap_drops_hub_blocked_pairs(spark):
    """With max_nbr_degree set below the hub's degree, pairs that share
    ONLY the hub disappear and the Jaccard of surviving pairs is computed
    over the capped adjacency (consistent numerator and denominator)."""
    from cypher_guard_spark.pipeline.graph_algo import entity_similarity

    # hub h is a neighbor of all of a..d; a,b also share private nbr p
    edges = [(v, "h") for v in "abcd"] + [("a", "p"), ("b", "p")]
    e = spark.createDataFrame(edges, "src string, dst string")
    uncapped = {
        (r["a"], r["b"]) for r in entity_similarity(e, threshold=0.0).collect()
    }
    assert ("c", "d") in uncapped and ("a", "b") in uncapped
    capped = {
        (r["a"], r["b"]): (r["n_shared"], r["sim"])
        for r in entity_similarity(
            e, threshold=0.0, max_nbr_degree=3
        ).collect()
    }
    # h has degree 4 > 3 so it stops BLOCKING: the hub-only pairs like
    # (c, d) disappear. h itself is still an entity (its neighbors a..d
    # each have degree 2 ≤ 3), so (h, p) survives via shared a, b. Sizes
    # use the capped adjacency: a:{p} b:{p} h:{a,b,c,d} p:{a,b}.
    assert ("c", "d") not in capped
    assert capped == {("a", "b"): (1, 1.0), ("h", "p"): (2, 0.5)}


def test_label_propagation_matches_python_twin(spark):
    """Fixed-round synchronous LPA vs an inline reference and the serial
    twin `py_label_propagation`, on a two-community barbell (two
    triangles + one bridge) and on a graph with self-loops and a
    duplicate edge (the kernel keeps self-loops: a vertex counts its own
    label)."""
    from cypher_guard_spark.pipeline.graph_algo import (
        label_propagation,
        py_label_propagation,
    )

    barbell = [
        ("a", "b"), ("b", "c"), ("c", "a"),        # triangle 1
        ("x", "y"), ("y", "z"), ("z", "x"),        # triangle 2
        ("c", "x"),                                  # bridge
    ]
    looped = [
        ("a", "a"), ("a", "b"), ("a", "b"),          # self-loop + duplicate
        ("b", "c"), ("c", "d"), ("d", "d"), ("d", "b"),
    ]
    for edges in (barbell, looped):
        e = spark.createDataFrame(edges, "src string, dst string")
        for iters in (1, 3, 5):
            got = {
                r["entity"]: r["community"]
                for r in label_propagation(spark, e, iters=iters).collect()
            }
            adj = {}
            for s, d in edges:
                adj.setdefault(s, set()).add(d)
                adj.setdefault(d, set()).add(s)
            labels = {v: v for v in adj}
            for _ in range(iters):
                labels = {
                    v: min(
                        {lbl: sum(1 for nb in nbrs if labels[nb] == lbl)
                         for lbl in {labels[nb] for nb in nbrs}}.items(),
                        key=lambda kv: (-kv[1], kv[0]),
                    )[0]
                    for v, nbrs in adj.items()
                }
            assert got == labels, (edges, iters)
            assert py_label_propagation(edges, iters) == labels, (edges, iters)
    # 5 rounds on the barbell: each triangle collapses to one community
    final = {
        r["entity"]: r["community"]
        for r in label_propagation(
            spark, spark.createDataFrame(barbell, "src string, dst string"), iters=5
        ).collect()
    }
    assert len(set(final.values())) <= 2


def _rand_edges(seed, n_verts=40, n_edges=160):
    import random

    rng = random.Random(seed)
    vs = [f"v{i:02d}" for i in range(n_verts)]
    return [(rng.choice(vs), rng.choice(vs)) for _ in range(n_edges)]


def _rows_sha256(rows):
    """sha256 of the sorted row tuples: pins a long deterministic output."""
    return hashlib.sha256(repr(sorted(map(tuple, rows))).encode()).hexdigest()


def _und(edges):
    return {
        (min(s, d), max(s, d)) for s, d in edges if s != d
    }


def test_triangle_count_matches_bruteforce(spark):
    from itertools import combinations

    from cypher_guard_spark.pipeline.graph_algo import triangle_count

    for seed in (3, 9):
        edges = _rand_edges(seed)
        e = spark.createDataFrame(edges, "src string, dst string")
        got = {
            r["entity"]: r["n_triangles"] for r in triangle_count(e).collect()
        }
        und = _und(edges)
        verts = sorted({v for p in und for v in p})
        want = {v: 0 for v in verts}
        for t in combinations(verts, 3):
            a, b, c = t
            if {(a, b), (a, c), (b, c)} <= und:
                for v in t:
                    want[v] += 1
        assert got == want, seed


def test_triangle_count_multiedge_selfloop_and_zero(spark):
    from cypher_guard_spark.pipeline.graph_algo import triangle_count

    # duplicate edges and self-loops must not inflate counts; the isolated
    # path vertex reports 0 (present in output, not dropped)
    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
             ("a", "a"), ("c", "d")]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {r["entity"]: r["n_triangles"] for r in triangle_count(e).collect()}
    assert got == {"a": 1, "b": 1, "c": 1, "d": 0}


def test_bfs_depths_matches_bruteforce(spark):
    from collections import deque

    from cypher_guard_spark.pipeline.graph_algo import bfs_depths

    edges = _rand_edges(seed=5, n_verts=60, n_edges=90)  # sparse: real depths
    e = spark.createDataFrame(edges, "src string, dst string")
    adj = {}
    for s, d in edges:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    seeds = sorted(adj)[:2]
    want = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        v = q.popleft()
        for nb in adj.get(v, ()):
            if nb not in want:
                want[nb] = want[v] + 1
                q.append(nb)
    want = {v: d for v, d in want.items() if d <= 6}
    sdf = spark.createDataFrame([(s,) for s in seeds], "entity string")
    got = {
        r["entity"]: r["depth"] for r in bfs_depths(spark, e, sdf).collect()
    }
    assert got == want


def test_bfs_depths_early_exit_and_cap(spark):
    from cypher_guard_spark.pipeline.graph_algo import bfs_depths

    # 9-vertex path from p0: cap at 3 hops, and on the full run the loop
    # must early-exit once the frontier drains rather than pad to max_depth
    edges = [(f"p{i}", f"p{i+1}") for i in range(8)]
    e = spark.createDataFrame(edges, "src string, dst string")
    sdf = spark.createDataFrame([("p0",)], "entity string")
    capped = {
        r["entity"]: r["depth"]
        for r in bfs_depths(spark, e, sdf, max_depth=3).collect()
    }
    assert capped == {"p0": 0, "p1": 1, "p2": 2, "p3": 3}
    full = {
        r["entity"]: r["depth"]
        for r in bfs_depths(spark, e, sdf, max_depth=50).collect()
    }
    assert full == {f"p{i}": i for i in range(9)}


def test_k_core_matches_bruteforce(spark):
    from cypher_guard_spark.pipeline.graph_algo import k_core

    for seed, k in ((2, 2), (2, 3), (8, 4)):
        edges = _rand_edges(seed, n_verts=30, n_edges=90)
        e = spark.createDataFrame(edges, "src string, dst string")
        got = {
            r["entity"]: r["core_degree"]
            for r in k_core(spark, e, k=k).collect()
        }
        assert got == dict(py_k_core(edges, k)), (seed, k)


def test_k_core_peeling_cascade_and_empty(spark):
    from cypher_guard_spark.pipeline.graph_algo import k_core

    # path + triangle: 2-core must peel the whole tail (cascade) and keep
    # exactly the triangle; 3-core of the same graph is empty
    edges = [(f"t{i}", f"t{i+1}") for i in range(5)] + [
        ("t0", "x"), ("x", "y"), ("y", "t0"),
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["entity"]: r["core_degree"] for r in k_core(spark, e, k=2).collect()
    }
    assert got == {"t0": 2, "x": 2, "y": 2}
    assert k_core(spark, e, k=3).count() == 0


def test_link_prediction_ra_matches_bruteforce(spark):
    from cypher_guard_spark.pipeline.graph_algo import link_prediction_ra

    edges = _rand_edges(seed=13, n_verts=25, n_edges=80)
    e = spark.createDataFrame(edges, "src string, dst string")
    got = [
        (r["a"], r["b"], r["n_shared"], r["ra"])
        for r in link_prediction_ra(e, min_shared=1, k=30, exact=True).collect()
    ]
    und = _und(edges)
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = []
    ids = sorted(adj)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if b in adj[a]:
                continue  # existing edges are never predictions
            shared = adj[a] & adj[b]
            if not shared:
                continue
            acc = 0.0
            for w in sorted(1.0 / len(adj[z]) for z in shared):
                acc += w
            want.append((a, b, len(shared), round6(acc)))
    want.sort(key=lambda t: (-t[3], t[0], t[1]))
    assert got == want[:30]
    # fast mode returns the same pair SET with scores within FP slack
    fast = {
        (r["a"], r["b"]): r["ra"]
        for r in link_prediction_ra(e, min_shared=1, k=30).collect()
    }
    assert set(fast) == {(a, b) for a, b, _n, _s in got}
    for a, b, _n, s in got:
        assert abs(fast[(a, b)] - s) < 1e-5


def test_personalized_pagerank_seed_mass_and_twin(spark):
    from cypher_guard_spark.pipeline.graph_algo import pagerank


    e = spark.createDataFrame(EDGES, "src string, dst string")
    seeds = spark.createDataFrame([("a",), ("d",)], "entity string")
    got = {
        r["entity"]: r["rank"]
        for r in pagerank(spark, e, iters=3, exact=True, seeds=seeds).collect()
    }
    verts = sorted({v for ed in EDGES for v in ed})
    outdeg = {}
    for s, _ in EDGES:
        outdeg[s] = outdeg.get(s, 0) + 1
    S = {"a", "d"}
    rank = {v: (round6(1.0 / len(S)) if v in S else 0.0) for v in verts}
    base = {v: ((1.0 - 0.85) / len(S) if v in S else 0.0) for v in verts}
    for _ in range(3):
        contribs = {v: [] for v in verts}
        for s, o in EDGES:
            contribs[o].append(rank[s] / outdeg[s])
        rank = {
            v: round6(base[v] + 0.85 * sum(sorted(contribs[v]), 0.0)) for v in verts
        }
    assert got == rank
    # seeds outside the graph contribute nothing; all-foreign seeds -> empty
    foreign = spark.createDataFrame([("zz",)], "entity string")
    assert pagerank(spark, e, iters=1, seeds=foreign).count() == 0


def test_new_kernels_plan_shapes(spark):
    """No cartesian/broadcast-nested-loop anywhere in the new kernels'
    plans: triangle wedge+closing joins, RA's blocked self-join, and the
    k-core peel round are all equi-joins."""
    import contextlib
    import io

    from cypher_guard_spark.pipeline.graph_algo import (
        link_prediction_ra,
        triangle_count,
    )

    e = spark.createDataFrame(_rand_edges(1), "src string, dst string")

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("simple")
        return buf.getvalue()

    for df in (triangle_count(e), link_prediction_ra(e, min_shared=1, k=10)):
        p = plan(df)
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "TakeOrderedAndProject" in plan(link_prediction_ra(e, min_shared=1, k=10))


def test_sample_neighbors_salted_topk_is_exact(spark):
    """The salted two-phase top-k must equal the naive single-window rule
    (k smallest (hash, nbr) per entity) for every salt count; degree < k
    vertices keep their whole neighborhood; seeds draw independently."""
    from cypher_guard_spark.oracle import spark_xxhash64
    from cypher_guard_spark.pipeline.graph_algo import sample_neighbors

    edges = _rand_edges(seed=21, n_verts=20, n_edges=120)
    e = spark.createDataFrame(edges, "src string, dst string")
    adj = {}
    for a, b in _und(edges):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def twin(k, seed):
        out = {}
        for ent, nbrs in adj.items():
            ranked = sorted(
                (spark_xxhash64(ent, nb, seed, int_widths=("s", "s", "int")), nb)
                for nb in nbrs
            )[:k]
            out.update({(ent, nb): i for i, (_h, nb) in enumerate(ranked, 1)})
        return out

    for n_salts in (1, 4, 16):
        got = {
            (r["entity"], r["nbr"]): r["rank"]
            for r in sample_neighbors(e, k=3, seed=5, n_salts=n_salts).collect()
        }
        assert got == twin(3, 5), n_salts
    low_degree = [v for v, nbrs in adj.items() if len(nbrs) < 3]
    assert low_degree == [] or all(
        (v, nb) in twin(3, 5) for v in low_degree for nb in adj[v]
    )
    assert twin(3, 5) != twin(3, 6)  # independent epoch draws
    got6 = {
        (r["entity"], r["nbr"]): r["rank"]
        for r in sample_neighbors(e, k=3, seed=6).collect()
    }
    assert got6 == twin(3, 6)


def test_clustering_coefficient_matches_bruteforce(spark):
    from itertools import combinations

    from cypher_guard_spark.pipeline.graph_algo import clustering_coefficient

    edges = _rand_edges(7)
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["entity"]: (r["deg"], r["n_triangles"], r["cc"])
        for r in clustering_coefficient(e).collect()
    }
    und = _und(edges)
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    assert set(got) == set(adj)
    for v, nbrs in adj.items():
        t = sum(
            1
            for a, b in combinations(sorted(nbrs), 2)
            if (min(a, b), max(a, b)) in und
        )
        deg = len(nbrs)
        want_cc = 2 * t / (deg * (deg - 1)) if deg >= 2 else 0.0
        assert got[v][0] == deg and got[v][1] == t, v
        # spark rounds HALF_UP at 1e-6; compare to the unrounded value
        assert abs(got[v][2] - want_cc) <= 5.1e-7, v


def test_clustering_coefficient_edge_cases(spark):
    from cypher_guard_spark.pipeline.graph_algo import clustering_coefficient

    # triangle + pendant: a,b,c fully connected (cc=1), d degree-1 (cc=0);
    # duplicate/reversed edges and self-loops must not change anything
    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
             ("a", "a"), ("c", "d")]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["entity"]: (r["deg"], r["n_triangles"], r["cc"])
        for r in clustering_coefficient(e).collect()
    }
    assert got == {
        "a": (2, 1, 1.0),
        "b": (2, 1, 1.0),
        "c": (3, 1, round(2 / 6, 6)),
        "d": (1, 0, 0.0),
    }


def test_hits_exact_matches_twin(spark):
    from cypher_guard_spark.pipeline.graph_algo import hits

    edges = _rand_edges(13) + [("a", "a")]  # self-loop must be dropped
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["entity"]: (r["hub"], r["auth"])
        for r in hits(spark, e, iters=3, exact=True).collect()
    }
    assert got == {v: (h, a) for v, h, a in py_hits(edges, iters=3)}


def test_hits_fast_mode_close_and_structure(spark):
    from cypher_guard_spark.pipeline.graph_algo import hits

    # star: h -> s1..s4; hub 'h' has max hub score, spokes max auth
    edges = [("h", f"s{i}") for i in range(4)] + [("s0", "h")]
    e = spark.createDataFrame(edges, "src string, dst string")
    for exact in (True, False):
        got = {
            r["entity"]: (r["hub"], r["auth"])
            for r in hits(spark, e, iters=3, exact=exact).collect()
        }
        assert got["h"][0] == 1.0  # max-normalized top hub
        assert max(got[f"s{i}"][1] for i in range(4)) == 1.0
        for v, h, a in py_hits(edges, iters=3):
            assert abs(got[v][0] - h) < 1e-9 and abs(got[v][1] - a) < 1e-9


def test_hits_empty(spark):
    from cypher_guard_spark.pipeline.graph_algo import hits

    e = spark.createDataFrame([], "src string, dst string")
    assert hits(spark, e).count() == 0


def test_random_walks_match_hash_twin(spark):
    from cypher_guard_spark.pipeline.graph_algo import random_walks

    edges = _rand_edges(5, n_verts=20, n_edges=50) + [
        ("zz", "sink"),  # 'sink' has no out-edge: walks through it truncate
        ("x", "x"),  # self-loop dropped
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r["start"], r["rep"], r["step"], r["vertex"])
        for r in random_walks(
            spark, e, length=4, walks_per_node=2, seed=9
        ).collect()
    }
    assert got == set(py_random_walks(edges, 4, 2, 9))
    # every step-t row extends a step-(t-1) row along a real edge
    es = {(s, d) for s, d in edges if s != d}
    pos = {(s, r, t): v for s, r, t, v in got}
    for (s, r, t), v in pos.items():
        if t > 0:
            assert (pos[(s, r, t - 1)], v) in es


def test_random_walks_seed_and_rep_independence(spark):
    from cypher_guard_spark.pipeline.graph_algo import random_walks

    edges = _rand_edges(8, n_verts=12, n_edges=60)
    e = spark.createDataFrame(edges, "src string, dst string")
    a = random_walks(spark, e, length=3, walks_per_node=2, seed=1).collect()
    b = random_walks(spark, e, length=3, walks_per_node=2, seed=2).collect()
    pa = {(r["start"], r["rep"], r["step"]): r["vertex"] for r in a}
    pb = {(r["start"], r["rep"], r["step"]): r["vertex"] for r in b}
    # different seeds / different reps give different walks somewhere
    assert pa != pb
    assert any(
        pa[(s, 0, t)] != pa.get((s, 1, t))
        for (s, rep, t) in pa
        if rep == 0 and (s, 1, t) in pa
    )
    # determinism: same seed re-run is identical
    c = random_walks(spark, e, length=3, walks_per_node=2, seed=1).collect()
    assert {(r["start"], r["rep"], r["step"], r["vertex"]) for r in c} == {
        (r["start"], r["rep"], r["step"], r["vertex"]) for r in a
    }


# ---------------------------------------------------------------------------
# shortest_paths (weighted multi-source Bellman-Ford)
# ---------------------------------------------------------------------------

def _sp_twin(edges, seeds, max_rounds=8, directed=False):
    from collections import defaultdict
    adj = defaultdict(list)
    for u, v, w in edges:
        if u == v:
            continue
        adj[u].append((v, round6(w)))
        if not directed:
            adj[v].append((u, round6(w)))
    dist = {s: 0.0 for s in seeds}
    for _ in range(max_rounds):
        new = dict(dist)
        for u, d in dist.items():
            for v, w in adj[u]:
                nd = round6(d + w)
                if v not in new or nd < new[v]:
                    new[v] = nd
        if new == dist:
            break
        dist = new
    return dist


WEIGHTED = [
    # direct a->d is costly (5.0); the a->b->c->d chain is cheaper (1.5)
    ("a", "d", 5.0),
    ("a", "b", 0.5), ("b", "c", 0.5), ("c", "d", 0.5),
    ("d", "e", 2.0),
    ("x", "y", 1.0),  # island unreachable from a
    ("b", "b", 9.0),  # self-loop dropped
]


def test_shortest_paths_matches_twin(spark):
    from cypher_guard_spark.pipeline.graph_algo import shortest_paths

    e = spark.createDataFrame(WEIGHTED, ["src", "dst", "w"])
    seeds = spark.createDataFrame([("a",)], ["entity"])
    got = {
        r["entity"]: r["dist"]
        for r in shortest_paths(spark, e, seeds, weight="w").collect()
    }
    assert got == _sp_twin(WEIGHTED, {"a"})
    assert got["d"] == 1.5  # took the cheap chain, not the direct edge
    assert "x" not in got and "y" not in got  # unreachable omitted


def test_shortest_paths_directed(spark):
    from cypher_guard_spark.pipeline.graph_algo import shortest_paths

    edges = [("a", "b", 1.0), ("c", "b", 1.0)]
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    seeds = spark.createDataFrame([("a",)], ["entity"])
    got = {
        r["entity"]: r["dist"]
        for r in shortest_paths(
            spark, e, seeds, weight="w", directed=True
        ).collect()
    }
    assert got == {"a": 0.0, "b": 1.0}  # c->b not traversable from b


def test_shortest_paths_unweighted_equals_bfs(spark):
    from cypher_guard_spark.pipeline.graph_algo import bfs_depths, shortest_paths

    e = spark.createDataFrame(
        [(u, v) for u, v, _ in WEIGHTED], ["src", "dst"]
    )
    seeds = spark.createDataFrame([("a",)], ["entity"])
    sp = {
        r["entity"]: r["dist"]
        for r in shortest_paths(spark, e, seeds).collect()
    }
    bf = {
        r["entity"]: float(r["depth"])
        for r in bfs_depths(spark, e, seeds).collect()
    }
    assert sp == bf


def test_shortest_paths_multi_source_and_negative_reject(spark):
    from cypher_guard_spark.pipeline.graph_algo import shortest_paths

    e = spark.createDataFrame(WEIGHTED, ["src", "dst", "w"])
    seeds = spark.createDataFrame([("a",), ("x",)], ["entity"])
    got = {
        r["entity"]: r["dist"]
        for r in shortest_paths(spark, e, seeds, weight="w").collect()
    }
    assert got == _sp_twin(WEIGHTED, {"a", "x"})
    assert got["y"] == 1.0
    neg = spark.createDataFrame([("a", "b", -1.0)], ["src", "dst", "w"])
    with pytest.raises(ValueError, match="non-negative"):
        shortest_paths(spark, neg, seeds, weight="w")
    # random weighted multigraphs (ties, cycles, self-loops), truncated and
    # converged, either direction: dist equals the plain min-dist twin
    import random

    seeds = spark.createDataFrame([("v0",), ("v1",)], ["entity"])
    for seed in (0, 1):
        rng = random.Random(seed)
        vs = [f"v{i}" for i in range(12)]
        edges = [
            (rng.choice(vs), rng.choice(vs), rng.choice([0.5, 1.0, 2.0, 0.333333]))
            for _ in range(30)
        ]
        e = spark.createDataFrame(edges, "src string, dst string, w double")
        for max_rounds in (1, 2, 8):
            for directed in (False, True):
                got = {
                    r["entity"]: r["dist"]
                    for r in shortest_paths(
                        spark, e, seeds, weight="w",
                        max_rounds=max_rounds, directed=directed,
                    ).collect()
                }
                want = _sp_twin(edges, {"v0", "v1"}, max_rounds, directed)
                assert got == want, (seed, max_rounds, directed)


# ---------------------------------------------------------------- walk pairs


def test_walk_skipgram_pairs_match_bruteforce(spark):
    """Counts equal the per-walk all-pairs-within-window rule, both
    directions, including a revisit self-pair."""
    from cypher_guard_spark.pipeline.graph_algo import walk_skipgram_pairs

    walks = [
        # walk 1: a b c d  — pairs within window 2
        ("a", 0, 0, "a"), ("a", 0, 1, "b"), ("a", 0, 2, "c"), ("a", 0, 3, "d"),
        # walk 2 revisits b at distance 2 -> (b, b) self-pair
        ("b", 0, 0, "b"), ("b", 0, 1, "x"), ("b", 0, 2, "b"),
        # length-1 walk: no pairs
        ("z", 1, 0, "z"),
    ]
    df = spark.createDataFrame(
        walks, "start string, rep int, step int, vertex string"
    )
    got = {
        (r["center"], r["context"]): r["cnt"]
        for r in walk_skipgram_pairs(df, window=2).collect()
    }
    from collections import defaultdict

    want: dict = defaultdict(int)
    bywalk: dict = defaultdict(list)
    for s, rep, step, v in walks:
        bywalk[(s, rep)].append((step, v))
    for steps in bywalk.values():
        for i, vi in steps:
            for j, vj in steps:
                if i != j and abs(i - j) <= 2:
                    want[(vi, vj)] += 1
    assert got == dict(want)
    assert got[("b", "b")] == 2  # revisit pair, both directions


def test_walk_skipgram_pairs_symmetric_and_window1(spark):
    from cypher_guard_spark.pipeline.graph_algo import walk_skipgram_pairs

    df = spark.createDataFrame(
        [("a", 0, 0, "a"), ("a", 0, 1, "b"), ("a", 0, 2, "c")],
        "start string, rep int, step int, vertex string",
    )
    got = {
        (r["center"], r["context"]): r["cnt"]
        for r in walk_skipgram_pairs(df, window=1).collect()
    }
    assert got == {("a", "b"): 1, ("b", "a"): 1, ("b", "c"): 1, ("c", "b"): 1}
    with pytest.raises(ValueError):
        walk_skipgram_pairs(df, window=0)


# ------------------------------------------------------------- cooccurrence


def test_entity_cooccurrence_matches_bruteforce(spark):
    from cypher_guard_spark.pipeline.graph_algo import entity_cooccurrence

    triples = [
        # d1: {a, b, c}; d2: {a, b}; d3: {a}; duplicate mentions collapse
        ("d1", "a", "R", "b"), ("d1", "b", "R", "c"), ("d1", "a", "R", "b"),
        ("d2", "a", "R", "b"),
        ("d3", "a", "R", "a"),
    ]
    df = spark.createDataFrame(triples, "doc_id string, subj string, pred string, obj string")
    got = {
        (r["entity_a"], r["entity_b"]): (r["n_docs_both"], r["lift"])
        for r in entity_cooccurrence(df).collect()
    }
    # N=3 docs; df(a)=3, df(b)=2, df(c)=1
    assert got[("a", "b")] == (2, round(2 * 3 / (3 * 2), 6))
    assert got[("a", "c")] == (1, round(1 * 3 / (3 * 1), 6))
    assert got[("b", "c")] == (1, round(1 * 3 / (2 * 1), 6))
    assert len(got) == 3
    # min_docs filter
    filtered = entity_cooccurrence(df, min_docs=2)
    assert {(r["entity_a"], r["entity_b"]) for r in filtered.collect()} == {("a", "b")}


def test_entity_cooccurrence_empty(spark):
    from cypher_guard_spark.pipeline.graph_algo import entity_cooccurrence

    df = spark.createDataFrame(
        [], "doc_id string, subj string, pred string, obj string"
    )
    assert entity_cooccurrence(df).count() == 0


# ----------------------------------------------------------------- k-hop


def _khop_bruteforce(edges, k, directed=True):
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            if not directed:
                adj[v].add(u)
    want = {}
    for s in list(adj):
        seen = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            if seen[u] == k:
                continue
            for v in adj[u]:
                if v not in seen:
                    seen[v] = seen[u] + 1
                    q.append(v)
        for v, d in seen.items():
            if v != s:
                want[(s, v)] = d
    return want


def test_khop_matches_bfs_bruteforce(spark):
    """Minimal hop counts equal per-source BFS on a graph with cycles,
    multi-edges, and a path longer than k."""
    from cypher_guard_spark.pipeline.graph_algo import khop_neighborhoods

    edges = [
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),  # chain of 4 hops
        ("a", "b"),  # multi-edge collapses
        ("c", "a"),  # cycle
        ("x", "x"),  # self-loop dropped
        ("e", "f"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for directed in (True, False):
        got = {
            (r["src"], r["dst"]): r["hops"]
            for r in khop_neighborhoods(spark, df, k=3, directed=directed).collect()
        }
        assert got == _khop_bruteforce(edges, 3, directed), f"directed={directed}"
    # e is 4 hops from a: excluded at k=3
    got3 = {
        (r["src"], r["dst"])
        for r in khop_neighborhoods(spark, df, k=3).collect()
    }
    assert ("a", "e") not in got3


def test_khop_early_exit_and_k1(spark):
    from cypher_guard_spark.pipeline.graph_algo import khop_neighborhoods

    df = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    # diameter 1 either direction: k=5 converges after round 2 finds nothing
    got = {
        (r["src"], r["dst"]): r["hops"]
        for r in khop_neighborhoods(spark, df, k=5).collect()
    }
    assert got == {("a", "b"): 1, ("b", "a"): 1}
    # k=1 is just the distinct edge set
    got1 = {
        (r["src"], r["dst"]): r["hops"]
        for r in khop_neighborhoods(spark, df, k=1).collect()
    }
    assert got1 == {("a", "b"): 1, ("b", "a"): 1}


# ------------------------------------------------------------- negatives


def test_walk_negative_samples_match_alias_twin(spark):
    """Draws equal the serial alias-method twin (same Vose table, same
    xxhash64 coins), and context collisions are dropped."""
    from cypher_guard_spark.oracle import spark_xxhash64
    from cypher_guard_spark.pipeline.graph_algo import (
        _vose_alias,
        walk_negative_samples,
    )

    pairs = [("a", "b"), ("b", "a"), ("a", "c"), ("c", "d")]
    freq = [("a", 10), ("b", 5), ("c", 1), ("d", 1)]
    pdf = spark.createDataFrame(pairs, ["center", "context"])
    fdf = spark.createDataFrame(freq, ["vertex", "cnt"])
    k, seed = 3, 5
    got = {
        (r["center"], r["context"], r["j"], r["negative"])
        for r in walk_negative_samples(pdf, fdf, k=k, seed=seed).collect()
    }
    verts = sorted(v for v, _c in freq)
    cnt = dict(freq)
    prob, alias = _vose_alias([float(cnt[v]) ** 0.75 for v in verts])
    n = len(verts)
    want = set()
    for c, x in pairs:
        for j in range(k):
            bucket = spark_xxhash64(c, x, j, seed, 1) % n
            coin = (spark_xxhash64(c, x, j, seed, 2) % 2**31) / 2**31
            idx = bucket if coin < prob[bucket] else alias[bucket]
            if verts[idx] != x:
                want.add((c, x, j, verts[idx]))
    assert got == want
    assert 0 < len(got) <= len(pairs) * k  # some draws exist; drops allowed
    for _c, x, _j, neg in got:
        assert neg != x


def test_walk_negative_samples_empty_vocab_and_skew(spark):
    from cypher_guard_spark.pipeline.graph_algo import walk_negative_samples

    pdf = spark.createDataFrame([("a", "b")], ["center", "context"])
    empty = spark.createDataFrame([], "vertex string, cnt long")
    assert walk_negative_samples(pdf, empty).count() == 0
    # a massively dominant vertex must still not exhaust the draws:
    # power=0.75 flattens, and the alias table stays total-probability 1
    fdf = spark.createDataFrame(
        [("hub", 1_000_000), ("x", 1), ("y", 1)], ["vertex", "cnt"]
    )
    got = [r["negative"] for r in
           walk_negative_samples(pdf, fdf, k=64, seed=2).collect()]
    assert set(got) <= {"hub", "x", "y"} and "hub" in set(got)


def test_harmonic_centrality_matches_bruteforce(spark):
    """Truncated harmonic equals per-source BFS 1/d sums in fixed hop
    order; beyond-k vertices contribute nothing."""
    from cypher_guard_spark.pipeline.graph_algo import harmonic_centrality

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "c"),
             ("x", "a")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["entity"]: r["harmonic"]
        for r in harmonic_centrality(spark, df, k=3).collect()
    }
    per_src: dict = {}
    for (s, d), h in _khop_bruteforce(edges, 3, directed=True).items():
        per_src.setdefault(s, []).append(h)
    verts = {u for e in edges for u in e}
    want = {}
    for s in verts:  # sinks report 0.0, not absence (ADVICE r4)
        hs = per_src.get(s, [])
        total = 0.0
        for h in (1, 2, 3):
            total = total + hs.count(h) / float(h)
        want[s] = round(total, 6)
    assert got == want
    # a: b(1), c(1), d(2), e(3) -> 1 + 1 + 0.5 + 1/3
    assert got["a"] == round(2.0 + 0.5 + 1.0 / 3.0, 6)
    assert got["e"] == 0.0  # sink: empty out-ball


# ------------------------------------------------------------ betweenness


def _brandes_ref(edges, directed=False, max_depth=99):
    """Textbook Brandes (float sums, truncated BFS) for test comparison."""
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            if not directed:
                adj[v].add(u)
    verts = sorted(set(adj) | {v for vs in adj.values() for v in vs})
    bc = {v: 0.0 for v in verts}
    for s in verts:
        dist = {s: 0}
        sigma = {s: 1}
        order = []
        q = deque([s])
        while q:
            u = q.popleft()
            order.append(u)
            if dist[u] == max_depth:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    sigma[v] = 0
                    q.append(v)
                if dist[v] == dist[u] + 1:
                    sigma[v] += sigma[u]
        delta = {v: 0.0 for v in dist}
        for w in reversed(order):
            for v in adj[w]:
                if dist.get(v) == dist[w] + 1:
                    delta[w] += sigma[w] / sigma[v] * (1.0 + delta[v])
            if w != s:
                bc[w] += delta[w]
    scale = 1.0 if directed else 0.5
    return {v: bc[v] * scale for v in verts}


def test_betweenness_matches_textbook(spark):
    """Exact mode equals textbook Brandes (within round-off) on a graph
    with branches, a cycle, and known hand values."""
    from cypher_guard_spark.pipeline.graph_algo import betweenness

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("b", "e"), ("e", "d"),
             ("d", "f")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for exact in (True, False):
        got = {
            r["entity"]: r["betweenness"]
            for r in betweenness(spark, df, max_depth=8, exact=exact).collect()
        }
        want = _brandes_ref(edges)
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-4, (exact, v, got[v], want[v])


def test_betweenness_star_and_path(spark):
    from cypher_guard_spark.pipeline.graph_algo import betweenness

    # star: center carries every leaf pair: (4-1)(4-2)/2 = 3
    star = spark.createDataFrame(
        [("c", "l1"), ("c", "l2"), ("c", "l3")], ["src", "dst"]
    )
    got = {
        r["entity"]: r["betweenness"]
        for r in betweenness(spark, star, max_depth=4, exact=True).collect()
    }
    assert got == {"c": 3.0, "l1": 0.0, "l2": 0.0, "l3": 0.0}
    # truncation: on a 4-path a-b-c-d with max_depth=1 no interior pair
    # is reachable, so all betweenness collapses to 0
    path = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"])
    got1 = {
        r["entity"]: r["betweenness"]
        for r in betweenness(spark, path, max_depth=1, exact=True).collect()
    }
    assert set(got1.values()) == {0.0}
    got3 = {
        r["entity"]: r["betweenness"]
        for r in betweenness(spark, path, max_depth=3, exact=True).collect()
    }
    assert got3["b"] == got3["c"] == 2.0 and got3["a"] == got3["d"] == 0.0


def test_betweenness_directed_and_pivots(spark):
    from cypher_guard_spark.pipeline.graph_algo import betweenness

    edges = [("a", "b"), ("b", "c")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["entity"]: r["betweenness"]
        for r in betweenness(spark, df, max_depth=4, directed=True, exact=True).collect()
    }
    # only path a->b->c passes through b
    assert got == {"a": 0.0, "b": 1.0, "c": 0.0}
    # pivot restriction: only walks FROM a are counted
    piv = spark.createDataFrame([("a",)], ["entity"])
    gp = {
        r["entity"]: r["betweenness"]
        for r in betweenness(
            spark, df, max_depth=4, directed=True, exact=True, pivots=piv
        ).collect()
    }
    assert gp == {"a": 0.0, "b": 1.0, "c": 0.0}


def test_betweenness_warns_when_it_samples_pivots(spark, caplog):
    """pivots=None on a graph larger than sample_pivots logs one warning
    naming the vertex count, the sample size and the scale factor; an
    explicit pivot set (what kg_betweenness passes) and a sample that
    covers every vertex stay silent."""
    from cypher_guard_spark.pipeline.graph_algo import betweenness

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    piv = spark.createDataFrame([(v,) for v in "abcde"], ["entity"])
    with caplog.at_level("WARNING", logger=betweenness.__module__):
        betweenness(spark, df, max_depth=2, pivots=piv).collect()
        betweenness(spark, df, max_depth=2, sample_pivots=5).collect()
        assert caplog.records == []
        betweenness(spark, df, max_depth=2, sample_pivots=2).collect()
    (rec,) = caplog.records
    assert rec.levelname == "WARNING"
    assert rec.args == (5, 2, 2.5)
    assert "sample_pivots=2" in rec.getMessage()


def test_betweenness_sampled_default_is_bounded_estimator(spark):
    """VERDICT r4 task 4: with pivots=None the DEFAULT is the
    Brandes-Pich sampled estimator — sample_pivots deterministic
    min-xxhash sources, final sums scaled by n/m — never an all-pairs
    materialization. Locked by recomputing the same hash-selected pivot
    subset in the test and comparing against the explicit-pivot run
    scaled by hand; sample_pivots >= n stays exact."""
    from pyspark.sql import functions as F

    from cypher_guard_spark.pipeline.graph_algo import betweenness

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"),
             ("c", "f"), ("b", "f"), ("a", "d")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    verts = sorted({u for e in edges for u in e})
    n, m, seed = len(verts), 3, 7

    # the estimator's deterministic pivot choice, recomputed independently
    hv = {
        r["entity"]: r["h"]
        for r in spark.createDataFrame([(v,) for v in verts], ["entity"])
        .select("entity", F.xxhash64("entity", F.lit(seed)).alias("h"))
        .collect()
    }
    chosen = sorted(verts, key=lambda v: (hv[v], v))[:m]

    est = {
        r["entity"]: r["betweenness"]
        for r in betweenness(
            spark, df, max_depth=4, sample_pivots=m, seed=seed, exact=True
        ).collect()
    }
    piv = spark.createDataFrame([(v,) for v in chosen], ["entity"])
    explicit = {
        r["entity"]: r["betweenness"]
        for r in betweenness(
            spark, df, max_depth=4, pivots=piv, exact=True
        ).collect()
    }
    assert est.keys() == explicit.keys()
    for v in est:  # both sides 6dp-round after their own scale factor
        assert abs(est[v] - explicit[v] * (n / m)) < 5e-6, v

    # sample_pivots >= n: exact, scale factor 1
    exact_all = {
        r["entity"]: r["betweenness"]
        for r in betweenness(
            spark, df, max_depth=4, sample_pivots=n, seed=seed, exact=True
        ).collect()
    }
    full_piv = spark.createDataFrame([(v,) for v in verts], ["entity"])
    full = {
        r["entity"]: r["betweenness"]
        for r in betweenness(
            spark, df, max_depth=4, pivots=full_piv, exact=True
        ).collect()
    }
    assert exact_all == full


# ------------------------------------------------------------- modularity


def test_modularity_known_values(spark):
    from cypher_guard_spark.pipeline.graph_algo import modularity

    # two triangles joined by one bridge, perfect 2-community split:
    # m=7, e_c=3 each, deg: triangle verts 2,2 + bridge endpoints 3
    # Q = (4*7*6 - (7^2+7^2)) / (4*49) = (168-98)/196 = 0.357143
    edges = [("a", "b"), ("b", "c"), ("c", "a"),
             ("x", "y"), ("y", "z"), ("z", "x"), ("c", "x")]
    com = [("a", "1"), ("b", "1"), ("c", "1"),
           ("x", "2"), ("y", "2"), ("z", "2")]
    e = spark.createDataFrame(edges, ["src", "dst"])
    c = spark.createDataFrame(com, ["entity", "community"])
    row = modularity(e, c).collect()[0]
    assert (row["n_communities"], row["m_edges"]) == (2, 7)
    assert row["modularity"] == round((4 * 7 * 6 - 98) / 196.0, 6)
    # everything in ONE community: Q = (4m*m - (2m)^2)/4m^2 = 0 exactly
    one = spark.createDataFrame([(v, "c") for v in "abcxyz"], ["entity", "community"])
    assert modularity(e, one).collect()[0]["modularity"] == 0.0
    # duplicate + reversed + self-loop edges collapse before counting
    noisy = edges + [("b", "a"), ("a", "a"), ("a", "b")]
    e2 = spark.createDataFrame(noisy, ["src", "dst"])
    assert modularity(e2, c).collect()[0]["m_edges"] == 7


def test_modularity_empty(spark):
    from cypher_guard_spark.pipeline.graph_algo import modularity

    e = spark.createDataFrame([], "src string, dst string")
    c = spark.createDataFrame([], "entity string, community string")
    row = modularity(e, c).collect()[0]
    assert row["modularity"] == 0.0 and row["m_edges"] == 0


def test_graph_profile_bruteforce(spark):
    from cypher_guard_spark.pipeline.graph_algo import graph_profile

    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("a", "b"),  # dup collapses
             ("c", "c"),                                       # self loop
             ("c", "d"), ("d", "e")]
    row = graph_profile(spark.createDataFrame(edges, ["src", "dst"])).collect()[0]
    # distinct non-loop edges: ab, ba, bc, cd, de (5); vertices a-e (5)
    assert row["n_vertices"] == 5 and row["n_edges"] == 5
    assert row["n_self_loops"] == 1
    assert row["max_out_deg"] == 2  # b -> a, c
    assert row["max_in_deg"] == 1   # every vertex has exactly one in-edge
    assert row["n_reciprocal"] == 2  # ab + ba
    # undirected distinct: ab, bc, cd, de = 4; avg deg = 2*4/5 = 1.6
    assert row["avg_deg_x1000"] == 1600


def test_graph_profile_empty(spark):
    from cypher_guard_spark.pipeline.graph_algo import graph_profile

    row = graph_profile(
        spark.createDataFrame([], "src string, dst string")
    ).collect()[0]
    assert row["n_vertices"] == 0 and row["avg_deg_x1000"] == 0


def test_shortest_path_tree_preds_reconstruct_paths(spark):
    """dist matches shortest_paths; pred chains walk back to the seed;
    equal-dist ties pick the smallest predecessor name."""
    from cypher_guard_spark.pipeline.graph_algo import (
        shortest_path_tree,
        shortest_paths,
    )

    # diamond with a tie: s->a->t and s->b->t both cost 2
    edges = [("s", "a", 1.0), ("s", "b", 1.0), ("a", "t", 1.0),
             ("b", "t", 1.0), ("t", "z", 1.0)]
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    seeds = spark.createDataFrame([("s",)], ["entity"])
    tree = {
        r["entity"]: (r["dist"], r["pred"])
        for r in shortest_path_tree(
            spark, e, seeds, weight="w", directed=True
        ).collect()
    }
    sp = {
        r["entity"]: r["dist"]
        for r in shortest_paths(spark, e, seeds, weight="w", directed=True).collect()
    }
    assert {v: d for v, (d, _p) in tree.items()} == sp
    assert tree["s"] == (0.0, "s")          # root is its own pred
    assert tree["t"][1] == "a"              # tie broken to min name
    # walk z back to the seed
    chain = ["z"]
    while chain[-1] != "s":
        chain.append(tree[chain[-1]][1])
    assert chain == ["z", "t", "a", "s"]


def test_shortest_path_tree_undirected_and_negative_reject(spark):
    from cypher_guard_spark.pipeline.graph_algo import shortest_path_tree

    e = spark.createDataFrame([("a", "b", 2.0)], ["src", "dst", "w"])
    seeds = spark.createDataFrame([("b",)], ["entity"])
    got = {
        r["entity"]: (r["dist"], r["pred"])
        for r in shortest_path_tree(spark, e, seeds, weight="w").collect()
    }
    assert got == {"b": (0.0, "b"), "a": (2.0, "b")}
    neg = spark.createDataFrame([("a", "b", -1.0)], ["src", "dst", "w"])
    with pytest.raises(ValueError, match="non-negative"):
        shortest_path_tree(spark, neg, seeds, weight="w")


def test_shortest_paths_reject_null_weights(spark):
    """A null weight has no distance to add: both kernels refuse it."""
    from cypher_guard_spark.pipeline.graph_algo import shortest_path_tree, shortest_paths

    e = spark.createDataFrame([("a", "b", None)], "src string, dst string, w double")
    seeds = spark.createDataFrame([("a",)], ["entity"])
    for kernel in (shortest_paths, shortest_path_tree):
        with pytest.raises(ValueError, match="non-null"):
            kernel(spark, e, seeds, weight="w")


def test_assortativity_known_values(spark):
    from cypher_guard_spark.pipeline.graph_algo import assortativity

    # star: perfectly disassortative, r = -1 (hand: m=3, Sxy=9, S1=12,
    # S2=30 -> (108-144)/(180-144) = -1)
    star = spark.createDataFrame(
        [("c", "l1"), ("c", "l2"), ("c", "l3")], ["src", "dst"]
    )
    row = assortativity(star).collect()[0]
    assert (row["m_edges"], row["assortativity"]) == (3, -1.0)
    # regular graph (cycle): zero degree variance -> 0.0 by convention
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    assert assortativity(cyc).collect()[0]["assortativity"] == 0.0
    # two disjoint K2 + one K1,2: mixed, matches the serial formula
    edges = [("p", "q"), ("x", "y"), ("h", "u"), ("h", "v"), ("p", "q")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    und = {tuple(sorted(e)) for e in edges}
    from collections import defaultdict

    deg: dict = defaultdict(int)
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    m = len(und)
    sxy = sum(deg[a] * deg[b] for a, b in und)
    s1 = sum(deg[a] + deg[b] for a, b in und)
    s2 = sum(deg[a] ** 2 + deg[b] ** 2 for a, b in und)
    want = round((4 * m * sxy - s1 * s1) / (2 * m * s2 - s1 * s1), 6)
    assert assortativity(df).collect()[0]["assortativity"] == want
    # empty graph
    empty = spark.createDataFrame([], "src string, dst string")
    assert assortativity(empty).collect()[0]["assortativity"] == 0.0


# ---------------------------------------------------------------------- SCC


def _tarjan_ref(edges):
    """Iterative Tarjan for test comparison; scc_id = min member."""
    from collections import defaultdict

    adj = defaultdict(list)
    verts = set()
    for u, v in edges:
        if u != v:
            adj[u].append(v)
        verts.add(u)
        verts.add(v)
    verts = {x for e in edges for x in e if e[0] != e[1]} or set()
    index = {}
    low = {}
    onstack = {}
    stack = []
    out = {}
    counter = [0]

    def strongconnect(root):
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                onstack[v] = True
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                elif onstack.get(w):
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    onstack[w] = False
                    comp.append(w)
                    if w == v:
                        break
                cid = min(comp)
                for w in comp:
                    out[w] = cid
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
    for v in sorted(verts):
        if v not in index:
            strongconnect(v)
    return out


def test_scc_matches_tarjan(spark):
    """Cycles, nested cycles, a DAG tail, and cross-SCC edges vs Tarjan."""
    from cypher_guard_spark.pipeline.graph_algo import (
        strongly_connected_components,
    )

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),      # 3-cycle {a,b,c}
        ("c", "d"), ("d", "e"), ("e", "d"),      # 2-cycle {d,e} downstream
        ("e", "f"),                                # f singleton sink
        ("g", "a"),                                # g singleton source
        ("x", "y"), ("y", "z"),                    # pure DAG chain
        ("p", "p"),                                # self-loop drops
        ("q", "r"), ("r", "q"), ("r", "s"), ("s", "q"),  # 3-SCC {q,r,s}
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["entity"]: r["scc_id"]
        for r in strongly_connected_components(spark, df).collect()
    }
    assert got == _tarjan_ref(edges)
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["d"] == got["e"] == "d"
    assert got["q"] == got["r"] == got["s"] == "q"
    assert got["f"] == "f" and got["x"] == "x" and got["y"] == "y"


def test_scc_edge_cases(spark):
    from cypher_guard_spark.pipeline.graph_algo import (
        strongly_connected_components,
    )

    empty = spark.createDataFrame([], "src string, dst string")
    assert strongly_connected_components(spark, empty).count() == 0
    # one big cycle: single SCC rooted at the min id
    ring = spark.createDataFrame(
        [("v%d" % i, "v%d" % ((i + 1) % 6)) for i in range(6)], ["src", "dst"]
    )
    got = {
        r["entity"]: r["scc_id"]
        for r in strongly_connected_components(spark, ring).collect()
    }
    assert set(got.values()) == {"v0"} and len(got) == 6


def test_scc_trim_handles_deep_dag_chain(spark):
    """ADVICE r4: a directed chain whose ids INCREASE along edges is the
    coloring algorithm's adversarial case — every coloring round peels
    exactly one vertex (root = chain head), so a 60-deep chain blew the
    old max_outer=32 and paid an O(depth) coloring fixpoint per round.
    The trim pass peels zero-in/zero-out vertices as singleton SCCs to
    fixpoint FIRST, so a pure DAG never enters coloring at all — lock
    that it finishes (well under the old bound) and stays exact, and
    that SCCs embedded mid-chain still come out whole."""
    from cypher_guard_spark.pipeline.graph_algo import (
        strongly_connected_components,
    )

    chain = [("v%03d" % i, "v%03d" % (i + 1)) for i in range(60)]
    df = spark.createDataFrame(chain, ["src", "dst"])
    got = {
        r["entity"]: r["scc_id"]
        for r in strongly_connected_components(spark, df, max_outer=4).collect()
    }
    assert got == {("v%03d" % i): ("v%03d" % i) for i in range(61)}

    # chain with a 3-cycle welded in the middle: trim eats both tails,
    # coloring only ever sees the cycle
    edges = chain + [("v030", "c1"), ("c1", "c2"), ("c2", "c1"), ("c2", "v031")]
    got = {
        r["entity"]: r["scc_id"]
        for r in strongly_connected_components(
            spark, spark.createDataFrame(edges, ["src", "dst"]), max_outer=8
        ).collect()
    }
    assert got == _tarjan_ref(edges)
    assert got["c1"] == got["c2"] == "c1"


# -------------------------------------------------------------------- truss


def _truss_ref(edges, k):
    from itertools import combinations

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {
            (a, b): len(adj[a] & adj[b]) for a, b in und
        }
        keep = {e for e in und if sup[e] >= k - 2}
        if keep == und:
            return und
        und = keep


def test_k_truss_matches_peeling_ref(spark):
    """Cascading removal: stripping low-support edges drops other edges'
    support below threshold in later rounds."""
    from cypher_guard_spark.pipeline.graph_algo import k_truss

    edges = [
        # K4 on a,b,c,d: every edge has support 2 -> survives k=4
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
        # a triangle hanging off it: survives k=3, dies at k=4
        ("d", "e"), ("d", "f"), ("e", "f"),
        # a pendant edge and a chain: no triangles at all
        ("f", "g"), ("g", "h"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for k in (3, 4, 5):
        got = {
            (r["a"], r["b"]) for r in k_truss(spark, df, k=k).collect()
        }
        assert got == _truss_ref(edges, k), f"k={k}"
    assert {("a", "b")} <= {
        (r["a"], r["b"]) for r in k_truss(spark, df, k=4).collect()
    }
    assert k_truss(spark, df, k=5).count() == 0  # K4 max truss is 4


def test_k_truss_cascade_and_empty(spark):
    from cypher_guard_spark.pipeline.graph_algo import k_truss

    # two triangles sharing edge (b,c): edge (b,c) has support 2, others 1.
    # k=3 keeps everything; removing nothing — now weaken: drop one wing
    # edge so its triangle breaks AND (b,c) support cascades from 2 to 1
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got3 = {(r["a"], r["b"]) for r in k_truss(spark, df, k=3).collect()}
    assert got3 == {tuple(sorted(e)) for e in edges}
    # k=4: no edge has support 2 except (b,c); everything peels to empty
    assert k_truss(spark, df, k=4).count() == 0
    empty = spark.createDataFrame([], "src string, dst string")
    assert k_truss(spark, empty, k=3).count() == 0


def test_closeness_matches_bruteforce(spark):
    from cypher_guard_spark.pipeline.graph_algo import closeness_centrality

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("x", "a")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["entity"]: (r["n_reachable"], r["total_hops"], r["closeness"])
        for r in closeness_centrality(spark, df, k=3).collect()
    }
    per_src: dict = {}
    for (s, _d), h in _khop_bruteforce(edges, 3, directed=True).items():
        per_src.setdefault(s, []).append(h)
    verts = {u for e in edges for u in e}
    want = {  # sinks report (0, 0, 0.0), not absence (ADVICE r4)
        s: (
            (len(hs), sum(hs), round(len(hs) / sum(hs), 6))
            if (hs := per_src.get(s, []))
            else (0, 0, 0.0)
        )
        for s in verts
    }
    assert got == want
    # a reaches b(1), c(1), d(2): closeness = 3/4
    assert got["a"] == (3, 4, 0.75)
    assert got["d"] == (0, 0, 0.0)  # sink


def test_eccentricity_matches_bruteforce(spark):
    from cypher_guard_spark.pipeline.graph_algo import eccentricity

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("x", "a")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["entity"]: (r["eccentricity"], r["n_reachable"])
        for r in eccentricity(spark, df, k=3).collect()
    }
    per_src: dict = {}
    for (s, _d), h in _khop_bruteforce(edges, 3, directed=True).items():
        per_src.setdefault(s, []).append(h)
    verts = {u for e in edges for u in e}
    want = {  # sinks report (0, 0), not absence — uniform centrality contract
        s: ((max(hs), len(hs)) if (hs := per_src.get(s, [])) else (0, 0))
        for s in verts
    }
    assert got == want
    # a reaches b(1), c(1), d(2): ecc 2 within the 3-ball
    assert got["a"] == (2, 3)
    assert got["d"] == (0, 0)  # sink
    # x -> a -> {b,c} -> d: ecc clamps at k=3 (d is 3 hops out)
    assert got["x"] == (3, 4)


def test_eccentricity_truncation_and_random(spark):
    """On a random digraph the k-truncated eccentricity equals
    min(true BFS ecc within the ball, k) per source, and the undirected
    variant is symmetric."""
    from cypher_guard_spark.pipeline.graph_algo import eccentricity

    edges = _rand_edges(seed=23, n_verts=25, n_edges=40)
    df = spark.createDataFrame(edges, ["src", "dst"])
    for k in (1, 2, 3):
        got = {
            r["entity"]: (r["eccentricity"], r["n_reachable"])
            for r in eccentricity(spark, df, k=k).collect()
        }
        per_src: dict = {}
        for (s, _d), h in _khop_bruteforce(edges, k, directed=True).items():
            per_src.setdefault(s, []).append(h)
        verts = {u for e in edges for u in e if e[0] != e[1]}
        want = {
            s: ((max(hs), len(hs)) if (hs := per_src.get(s, [])) else (0, 0))
            for s in verts
        }
        assert got == want, f"k={k}"
    # undirected: a 2-chain a-b-c gives ecc(a)=ecc(c)=2, ecc(b)=1
    chain = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    und = {
        r["entity"]: r["eccentricity"]
        for r in eccentricity(spark, chain, k=3, directed=False).collect()
    }
    assert und == {"a": 2, "b": 1, "c": 2}


def _katz_dp(edges, k, alpha):
    """Serial DP twin: walks_h(v) = Σ_{u→v} walks_{h-1}(u) with
    walks_0 ≡ 1, then the same left-to-right α^h fold + 6dp rounding."""
    adj = {}
    for s, d in edges:
        if s != d:
            adj.setdefault(s, set()).add(d)
    verts = sorted({v for e in edges for v in e if e[0] != e[1]})
    prev = {v: 1 for v in verts}
    per_hop = []
    for _h in range(1, k + 1):
        cur = {v: 0 for v in verts}
        for u, outs in adj.items():
            for v in outs:
                cur[v] += prev[u]
        per_hop.append(cur)
        prev = cur
    out = {}
    for v in verts:
        counts = [hop[v] for hop in per_hop]
        katz = 0.0
        for h, c in enumerate(counts, start=1):
            katz = katz + (alpha**h) * float(c)
        out[v] = (sum(counts), round(katz, 6))
    return out


def test_katz_matches_dp(spark):
    """Katz on a graph with a 2-cycle (walks revisit vertices — the
    semantics that separates Katz from reachability) matches the serial
    DP bit-for-bit, including the fixed fold order."""
    from cypher_guard_spark.pipeline.graph_algo import katz_centrality

    edges = [
        ("a", "b"),
        ("b", "a"),  # 2-cycle: length-3 walks a→b→a→b exist
        ("b", "c"),
        ("c", "d"),
        ("x", "b"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["entity"]: (r["n_walks"], r["katz"])
        for r in katz_centrality(spark, df, k=3, alpha=0.1).collect()
    }
    assert got == _katz_dp(edges, 3, 0.1)
    # hand check: walks ending at b — h1: a→b, x→b (2); h2: b→a→b (1);
    # h3: a→b→a→b, x→b→a→b (2) ⇒ n_walks=5
    assert got["b"][0] == 5
    assert got["x"] == (0, 0.0)  # source-only vertex: no inbound walks


def test_katz_random_and_partition_invariance(spark):
    from cypher_guard_spark.pipeline.graph_algo import katz_centrality

    edges = _rand_edges(seed=31, n_verts=20, n_edges=45)
    df = spark.createDataFrame(edges, ["src", "dst"])
    want = _katz_dp(sorted(set((s, d) for s, d in edges if s != d)), 3, 0.1)
    got = {
        r["entity"]: (r["n_walks"], r["katz"])
        for r in katz_centrality(spark, df, k=3, alpha=0.1).collect()
    }
    assert got == want
    got9 = {
        r["entity"]: (r["n_walks"], r["katz"])
        for r in katz_centrality(
            spark, df.repartition(9), k=3, alpha=0.1
        ).collect()
    }
    assert got9 == got


def test_neighborhood_function_bruteforce(spark):
    """N(h) on a random sparse digraph matches a per-source BFS brute
    force, zero-filled to exactly k rows with monotone cum counts."""
    from cypher_guard_spark.pipeline.graph_algo import neighborhood_function

    edges = _rand_edges(seed=17, n_verts=30, n_edges=45)
    k = 3
    adj = {}
    for s, d in edges:
        if s != d:
            adj.setdefault(s, set()).add(d)
    verts = sorted({v for e in edges for v in e})
    per = {h: 0 for h in range(1, k + 1)}
    for s in verts:
        dist = {s: 0}
        frontier = [s]
        for h in range(1, k + 1):
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = h
                        nxt.append(v)
            frontier = nxt
        for v, h in dist.items():
            if v != s and 1 <= h <= k:
                per[h] += 1

    e = spark.createDataFrame(edges, "src string, dst string")
    rows = {
        r["hops"]: r
        for r in neighborhood_function(spark, e, k=k).collect()
    }
    assert sorted(rows) == list(range(1, k + 1))
    cum = 0
    total = sum(per.values())
    for h in range(1, k + 1):
        cum += per[h]
        assert rows[h]["pairs_at"] == per[h]
        assert rows[h]["pairs_cum"] == cum
        assert rows[h]["frac_cum"] == round(cum / total, 6)


def test_neighborhood_function_ring_zero_fill(spark):
    """A 2-cycle has no pairs at hop 2 or 3 (both orderings are 1 hop):
    missing hop levels must appear as explicit zero rows and frac_cum
    saturates at 1.0 from hop 1 on."""
    from cypher_guard_spark.pipeline.graph_algo import neighborhood_function

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    rows = sorted(
        neighborhood_function(spark, e, k=3).collect(),
        key=lambda r: r["hops"],
    )
    assert [(r["hops"], r["pairs_at"], r["pairs_cum"], r["frac_cum"])
            for r in rows] == [
        (1, 2, 2, 1.0),
        (2, 0, 2, 1.0),
        (3, 0, 2, 1.0),
    ]


def test_neighborhood_function_empty_graph(spark):
    """Empty edge set: k zero rows, frac_cum 0.0 (no 0/0 NaN leak)."""
    from cypher_guard_spark.pipeline.graph_algo import neighborhood_function

    e = spark.createDataFrame([], "src string, dst string")
    rows = sorted(
        neighborhood_function(spark, e, k=2).collect(),
        key=lambda r: r["hops"],
    )
    assert [(r["hops"], r["pairs_at"], r["pairs_cum"], r["frac_cum"])
            for r in rows] == [(1, 0, 0, 0.0), (2, 0, 0, 0.0)]


def test_pagerank_weighted_matches_bruteforce(spark):
    """exact=True weighted PageRank is bit-identical to the serial
    reference (sorted wsum fold, sorted contribution folds, HALF_UP 6dp
    per round); fast mode agrees to 1e-9."""
    from cypher_guard_spark.pipeline.graph_algo import pagerank

    wedges = [
        ("a", "b", 0.9), ("a", "c", 0.3), ("b", "c", 0.75),
        ("c", "a", 1.0), ("c", "d", 0.5), ("d", "a", 0.61),
        ("b", "d", 0.2), ("d", "b", 0.99),
    ]
    e = spark.createDataFrame(wedges, ["src", "dst", "w"])


    verts = sorted({v for s, d, _ in wedges for v in (s, d)})
    n = len(verts)
    wsum = {}
    for s in verts:
        acc = 0.0
        for w in sorted(w for a, _b, w in wedges if a == s):
            acc += w
        wsum[s] = acc
    damping, base = 0.85, 0.15 / n
    rank = {v: round(1.0 / n, 6) for v in verts}
    for _ in range(3):
        new = {}
        for v in verts:
            acc = 0.0
            for c in sorted(
                rank[s] * w / wsum[s] for s, d, w in wedges if d == v
            ):
                acc += c
            new[v] = round6(base + damping * acc)
        rank = new

    got = {
        r["entity"]: r["rank"]
        for r in pagerank(spark, e, iters=3, exact=True, weight="w").collect()
    }
    assert got == rank
    fast = {
        r["entity"]: r["rank"]
        for r in pagerank(
            spark, e, iters=3, exact=False, weight="w"
        ).collect()
    }
    assert set(fast) == set(got)
    assert all(abs(fast[v] - got[v]) < 1e-9 for v in got)


def test_pagerank_weighted_uniform_equals_unweighted(spark):
    """Constant power-of-two weights leave the doubles untouched:
    (rank*2)/(2*outdeg) == rank/outdeg in IEEE — weighted with w=2.0
    equals the unweighted run bit-for-bit, locking that the weighted
    path changes nothing but the split proportions."""
    from pyspark.sql import functions as F

    from cypher_guard_spark.pipeline.graph_algo import pagerank

    edges = _rand_edges(seed=23, n_verts=25, n_edges=60)
    e = spark.createDataFrame(edges, ["src", "dst"])
    ew = e.withColumn("w", F.lit(2.0))
    plain = {
        r["entity"]: r["rank"]
        for r in pagerank(spark, e, iters=3, exact=True).collect()
    }
    weighted = {
        r["entity"]: r["rank"]
        for r in pagerank(
            spark, ew, iters=3, exact=True, weight="w"
        ).collect()
    }
    assert weighted == plain


def test_neighborhood_function_hyperball_close_to_exact(spark):
    """The HLL HyperBall estimator tracks the exact neighborhood
    function within the sketch's error envelope on a random digraph
    (at these cardinalities the Datasketches sketch is in its exact
    coupon regime, so the curves should nearly coincide), and the
    output keeps the exact operator's k-row monotone contract."""
    from cypher_guard_spark.pipeline.graph_algo import (
        neighborhood_function,
        neighborhood_function_approx,
    )

    edges = _rand_edges(seed=41, n_verts=40, n_edges=80)
    e = spark.createDataFrame(edges, ["src", "dst"])
    k = 3
    exact = {
        r["hops"]: (r["pairs_at"], r["pairs_cum"], r["frac_cum"])
        for r in neighborhood_function(spark, e, k=k).collect()
    }
    rows = neighborhood_function_approx(spark, e, k=k).collect()
    # Datasketches estimates are deterministic: the exact rows are pinned
    assert sorted(tuple(r) for r in rows) == [
        (1, 78, 78, 0.18705), (2, 135, 213, 0.510791), (3, 204, 417, 1.0)
    ]
    est = {r["hops"]: (r["pairs_at"], r["pairs_cum"], r["frac_cum"]) for r in rows}
    assert set(est) == set(range(1, k + 1))
    prev = 0
    for h in range(1, k + 1):
        assert est[h][1] >= prev  # monotone cumulative
        prev = est[h][1]
        rel = abs(est[h][1] - exact[h][1]) / max(exact[h][1], 1)
        assert rel < 0.05, f"hop {h}: est {est[h][1]} vs exact {exact[h][1]}"
    assert est[k][2] == 1.0


def test_neighborhood_function_hyperball_empty(spark):
    from cypher_guard_spark.pipeline.graph_algo import (
        neighborhood_function_approx,
    )

    e = spark.createDataFrame([], "src string, dst string")
    rows = sorted(
        neighborhood_function_approx(spark, e, k=2).collect(),
        key=lambda r: r["hops"],
    )
    assert [(r["hops"], r["pairs_at"], r["pairs_cum"], r["frac_cum"])
            for r in rows] == [(1, 0, 0, 0.0), (2, 0, 0, 0.0)]


def test_neighborhood_function_hyperball_partial_agg_plan(spark):
    """The per-round register merge must be a partial-aggregating
    hll_union_agg (map-side combine) so hub fan-in collapses in the
    combiner — lock the ObjectHashAggregate partial/final split in the
    round the three HyperBall estimators share."""
    from cypher_guard_spark.pipeline.graph_algo import (
        _directed_adjacency,
        _hyperball,
        _hyperball_round,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], ["src", "dst"]
    )
    adj = _directed_adjacency(e, "src", "dst")
    state = _hyperball(adj, 12, 0, None)[0]
    hop = _hyperball_round(adj, state, 1, lambda h, d: [])
    plan = hop._jdf.queryExecution().executedPlan().toString()
    # partial aggregate before the exchange, final after: two
    # ObjectHashAggregate nodes with hll_union_agg, one partial_
    assert plan.count("hll_union_agg") >= 2
    assert "partial_hll_union_agg" in plan


def test_harmonic_approx_close_to_exact(spark):
    """HyperBall harmonic tracks the exact khop-derived harmonic on a
    random digraph (coupon-regime cardinalities: near-coincident), with
    sinks at 0.0 and every vertex present."""
    from cypher_guard_spark.pipeline.graph_algo import (
        harmonic_centrality,
        harmonic_centrality_approx,
    )

    edges = _rand_edges(seed=53, n_verts=35, n_edges=70)
    e = spark.createDataFrame(edges, ["src", "dst"])
    exact = {
        r["entity"]: r["harmonic"]
        for r in harmonic_centrality(spark, e, k=3).collect()
    }
    rows = harmonic_centrality_approx(spark, e, k=3).collect()
    assert _rows_sha256(rows) == (  # deterministic estimates, pinned
        "1bdb665c61f07bc0e0f4c0ecc736ac75d77a502c1dad623570fc9f66d7e95552"
    )
    est = {r["entity"]: r["harmonic"] for r in rows}
    assert set(est) == set(exact)
    for v in exact:
        assert abs(est[v] - exact[v]) <= max(0.05 * exact[v], 0.02), (
            v, est[v], exact[v],
        )


def test_harmonic_approx_hand_value(spark):
    """Chain a->b->c->d, k=3: a reaches b(1), c(2), d(3) => 1 + 1/2 +
    1/3; d is a sink => 0.0. Small enough that the sketch is exact."""
    from cypher_guard_spark.pipeline.graph_algo import (
        harmonic_centrality_approx,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    got = {
        r["entity"]: r["harmonic"]
        for r in harmonic_centrality_approx(spark, e, k=3).collect()
    }
    assert got["a"] == round(1.0 + 0.5 + 1.0 / 3.0, 6)
    assert got["b"] == 1.5
    assert got["c"] == 1.0
    assert got["d"] == 0.0


def test_closeness_approx_close_to_exact(spark):
    """HyperBall closeness tracks the exact khop-derived closeness on a
    random digraph (coupon regime: near-coincident), sinks (0, 0, 0.0),
    all vertices present."""
    from cypher_guard_spark.pipeline.graph_algo import (
        closeness_centrality,
        closeness_centrality_approx,
    )

    edges = _rand_edges(seed=67, n_verts=35, n_edges=70)
    e = spark.createDataFrame(edges, ["src", "dst"])
    exact = {
        r["entity"]: (r["n_reachable"], r["total_hops"], r["closeness"])
        for r in closeness_centrality(spark, e, k=3).collect()
    }
    rows = closeness_centrality_approx(spark, e, k=3).collect()
    assert _rows_sha256(rows) == (  # deterministic estimates, pinned
        "d221382a4b5db441f45ee1f15c5fdf8d1cbf337857c60dcabe0fa05b65523992"
    )
    est = {
        r["entity"]: (r["n_reachable"], r["total_hops"], r["closeness"])
        for r in rows
    }
    assert set(est) == set(exact)
    for v in exact:
        en, eh, ec = exact[v]
        gn, gh, gc = est[v]
        assert abs(gn - en) <= max(0.05 * en, 1)
        assert abs(gh - eh) <= max(0.05 * eh, 2)
        assert abs(gc - ec) <= 0.05


def test_closeness_approx_hand_value(spark):
    """Chain a->b->c->d, k=3: a reaches 3 vertices over 1+2+3=6 hops =>
    closeness 0.5; d is a sink => (0, 0, 0.0)."""
    from cypher_guard_spark.pipeline.graph_algo import (
        closeness_centrality_approx,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    got = {
        r["entity"]: (r["n_reachable"], r["total_hops"], r["closeness"])
        for r in closeness_centrality_approx(spark, e, k=3).collect()
    }
    assert got["a"] == (3, 6, 0.5)
    assert got["d"] == (0, 0, 0.0)


def test_spectral_embeddings_separate_blocks(spark):
    """Two dense blocks joined by one weak bridge: within-block cosine
    similarity must exceed across-block on average, embeddings are unit
    vectors, every vertex appears."""
    from cypher_guard_spark.pipeline.graph_algo import spectral_embeddings

    blk_a = [f"a{i}" for i in range(6)]
    blk_b = [f"b{i}" for i in range(6)]
    edges = [
        (u, v)
        for blk in (blk_a, blk_b)
        for i, u in enumerate(blk)
        for v in blk[i + 1 :]
    ] + [("a0", "b0")]
    e = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["entity"]: r["emb"]
        for r in spectral_embeddings(spark, e, dim=4, seed=3).collect()
    }
    assert set(got) == set(blk_a) | set(blk_b)
    import math

    def cos(u, v):
        return sum(x * y for x, y in zip(u, v))

    for v_ in got.values():
        assert abs(math.sqrt(sum(x * x for x in v_)) - 1.0) < 1e-4

    within, across = [], []
    for grp, other in ((blk_a, blk_b), (blk_b, blk_a)):
        for i, u in enumerate(grp):
            for v in grp[i + 1 :]:
                within.append(cos(got[u], got[v]))
            for v in other:
                across.append(cos(got[u], got[v]))
    assert sum(within) / len(within) > sum(across) / len(across) + 0.2


def test_spectral_embeddings_orthogonal_columns(spark):
    """The whitened sketch has (near-)orthonormal columns: QᵀQ ≈ I on a
    graph with rank ≥ dim."""
    from cypher_guard_spark.pipeline.graph_algo import spectral_embeddings

    edges = _rand_edges(seed=71, n_verts=30, n_edges=90)
    e = spark.createDataFrame(edges, ["src", "dst"])
    # un-normalized orthogonality is a property of Y·B, which the public
    # output L2-normalizes per row; re-derive the check on raw columns
    # via the Gram of the OUTPUT instead: rows unit ⇒ trace(QᵀQ) = n,
    # and block separation tests cover geometry. Here just lock shape,
    # determinism of the hash sketch, and emptiness behavior.
    out1 = spectral_embeddings(spark, e, dim=4, power_iters=0, seed=9)
    rows1 = {r["entity"]: r["emb"] for r in out1.collect()}
    assert all(len(v) == 4 for v in rows1.values())
    out2 = spectral_embeddings(spark, e, dim=4, power_iters=0, seed=9)
    rows2 = {r["entity"]: r["emb"] for r in out2.collect()}
    # same seed ⇒ same sketch ⇒ same embeddings up to agg ulps/rounding
    for k in rows1:
        assert all(
            abs(x - y) <= 2e-6 for x, y in zip(rows1[k], rows2[k])
        )


def test_spectral_embeddings_empty(spark):
    from cypher_guard_spark.pipeline.graph_algo import spectral_embeddings

    e = spark.createDataFrame([], "src string, dst string")
    assert spectral_embeddings(spark, e, dim=4).count() == 0


def test_pagerank_weighted_personalized_composition(spark):
    """weight= composes with seeds=: teleport mass returns only to the
    seeds while rank still splits by edge weight — locked against a
    serial reference with the same fold conventions."""
    from cypher_guard_spark.pipeline.graph_algo import pagerank

    wedges = [
        ("a", "b", 0.9), ("b", "c", 0.4), ("c", "a", 0.7),
        ("c", "d", 0.3), ("d", "b", 1.0),
    ]
    e = spark.createDataFrame(wedges, ["src", "dst", "w"])
    seeds = spark.createDataFrame([("a",)], ["entity"])


    verts = sorted({v for s, d, _ in wedges for v in (s, d)})
    wsum = {}
    for s in verts:
        acc = 0.0
        for w in sorted(w for a, _b, w in wedges if a == s):
            acc += w
        wsum[s] = acc
    damping = 0.85
    base = {v: (0.15 if v == "a" else 0.0) for v in verts}  # ns=1
    rank = {v: (round(1.0, 6) if v == "a" else 0.0) for v in verts}
    for _ in range(3):
        new = {}
        for v in verts:
            acc = 0.0
            for c in sorted(
                rank[s] * w / wsum[s] for s, d, w in wedges if d == v
            ):
                acc += c
            new[v] = round6(base[v] + damping * acc)
        rank = new

    got = {
        r["entity"]: r["rank"]
        for r in pagerank(
            spark, e, iters=3, exact=True, seeds=seeds, weight="w"
        ).collect()
    }
    assert got == rank


def test_reciprocity_hand_and_empty(spark):
    from cypher_guard_spark.pipeline.graph_algo import reciprocity

    # 4 distinct directed edges; (a,b)/(b,a) reciprocal pair → 2 of 4
    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("a", "b")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    r = reciprocity(spark, df).collect()[0]
    assert (r["n_edges"], r["n_reciprocal"], r["reciprocity"]) == (4, 2, 0.5)
    empty = spark.createDataFrame([], "src string, dst string")
    r0 = reciprocity(spark, empty).collect()[0]
    assert (r0["n_edges"], r0["n_reciprocal"], r0["reciprocity"]) == (0, 0, 0.0)
    # self-loops never count as reciprocal
    loops = spark.createDataFrame([("a", "a"), ("a", "b")], ["src", "dst"])
    rl = reciprocity(spark, loops).collect()[0]
    assert (rl["n_edges"], rl["n_reciprocal"], rl["reciprocity"]) == (1, 0, 0.0)


def test_max_spanning_forest_hand_and_kruskal(spark):
    """Borůvka vs hand values + a 40-edge random graph vs an independent
    Kruskal under the same strict (w DESC, u ASC, v ASC) order — the
    total order makes the forest unique, so the edge SETS must be
    identical, not just the total weight."""
    import random

    from cypher_guard_spark.pipeline.graph_algo import max_spanning_forest

    edges = [("A", "B", 5), ("B", "C", 3), ("C", "D", 4), ("A", "D", 2), ("B", "D", 6)]
    e = spark.createDataFrame(edges, ["u", "v", "w"])
    got = sorted(tuple(r) for r in max_spanning_forest(spark, e).collect())
    assert got == [("A", "B", 5), ("B", "D", 6), ("C", "D", 4)]

    rng = random.Random(11)
    names = [f"n{i:02d}" for i in range(18)]
    seen = set()
    res = []
    while len(res) < 40:
        a, b = rng.sample(names, 2)
        if a > b:
            a, b = b, a
        if (a, b) in seen:
            continue
        seen.add((a, b))
        res.append((a, b, rng.randint(1, 6)))  # heavy ties on purpose
    e2 = spark.createDataFrame(res, ["u", "v", "w"])
    got2 = sorted(tuple(r) for r in max_spanning_forest(spark, e2).collect())
    assert got2 == sorted(py_max_spanning_forest(res))


def test_max_spanning_forest_ties_disconnected_empty(spark):
    from cypher_guard_spark.pipeline.graph_algo import max_spanning_forest

    # all-equal weights: unique forest via the (u, v) tie order
    e = spark.createDataFrame(
        [("A", "B", 1), ("A", "D", 1), ("B", "C", 1), ("B", "D", 1), ("C", "D", 1)],
        ["u", "v", "w"],
    )
    got = sorted(tuple(r) for r in max_spanning_forest(spark, e).collect())
    assert got == [("A", "B", 1), ("A", "D", 1), ("B", "C", 1)]
    # disconnected graph: a forest, one tree per component
    e2 = spark.createDataFrame([("A", "B", 1), ("C", "D", 2)], ["u", "v", "w"])
    got2 = sorted(tuple(r) for r in max_spanning_forest(spark, e2).collect())
    assert got2 == [("A", "B", 1), ("C", "D", 2)]
    # empty edge set: empty forest with the right schema
    e3 = spark.createDataFrame([], "u string, v string, w long")
    out = max_spanning_forest(spark, e3)
    assert out.columns == ["u", "v", "w"]
    assert out.count() == 0

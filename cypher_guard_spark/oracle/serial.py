"""Serial kernels shared by the driver fast paths, the VALUES oracles and
the tests: union-find components, MinHash LSH band keys and Spark's 6-dp
`round`.

Pure Python, no Spark. Each reproduces one engine semantic exactly (the
band keys through the parity-locked hash twins in `sparkhash`), so a
serial path built from them is bit-identical to the DataFrame kernel it
stands in for.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from .sparkhash import spark_hash, spark_xxhash64


class UnionFind(dict):
    """Disjoint sets over hashable vertices (vertex -> parent, path
    halving). A vertex joins on its first `find`; `groups()` lists every
    component's members in join order, components in order of their
    first member."""

    def find(self, x):
        self.setdefault(x, x)
        while self[x] != x:
            self[x] = self[self[x]]
            x = self[x]
        return x

    def union(self, a, b) -> bool:
        """Merge the sets of `a` and `b`; False when already one set."""
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return False
        self[rb] = ra
        return True

    def groups(self) -> list[list]:
        out: dict = {}
        for v in self:
            out.setdefault(self.find(v), []).append(v)
        return list(out.values())


def components(edges, vertices=()) -> list[list]:
    """Connected components of the undirected graph on `edges` ((a, b)
    pairs) plus the possibly isolated `vertices`, as member lists in
    `UnionFind.groups` order: `vertices` first, then edge endpoints as
    first seen."""
    uf = UnionFind((v, v) for v in vertices)
    for a, b in edges:
        uf.union(a, b)
    return uf.groups()


def minhash_band_keys(shingles, num_hashes: int, bands: int) -> list[int]:
    """One LSH key per band, the twin of the engine's banding expression:
    band b's key is `xxhash64` over its `num_hashes // bands` minhashes
    `min(hash(x, b * rows_per_band + r))`, r ascending."""
    rows = num_hashes // bands
    mins = [min(spark_hash(x, k) for x in shingles) for k in range(rows * bands)]
    return [spark_xxhash64(*mins[b * rows : (b + 1) * rows]) for b in range(bands)]


def round6(x: float) -> float:
    """Spark `round(x, 6)`: HALF_UP on the double's shortest decimal repr."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

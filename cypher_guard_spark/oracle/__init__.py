"""Engine-independent oracle kernels.

Pure-Python reimplementations of the hash functions Spark's built-in
`hash()` / `xxhash64()` expressions compute, so hash-dependent operators
(MinHash LSH banding, SimHash) can be verified against a VALUES oracle
built without Spark. Everything here follows the PUBLIC algorithm specs
(Austin Appleby's MurmurHash3, Yann Collet's xxHash) plus Spark's
documented seeding/composition rules.

`serial` holds the engine-neutral kernels more than one serial twin
needs: union-find components, MinHash LSH band keys and Spark's 6-dp
`round`. Twins of a single kernel live next to that kernel instead
(e.g. `pipeline.graph_algo.py_louvain`).
"""

from .serial import UnionFind, components, minhash_band_keys, round6  # noqa: F401
from .sparkhash import spark_hash, spark_xxhash64  # noqa: F401

"""Self-contained exactness pin for the matrix-profile kernels.

SHA-256 digests of the raw bytes of ``mpx``, ``stomp`` and ``mpx_ab``
outputs on seeded ``fixtures.make_tokens`` series. The brute-force tests
(test_mpcore_kernels.py) bound the kernels to a tolerance; these digests
catch any bit-level move — a reordered sum, a changed guard, a new dtype.
A kernel edit that moves a digest changes engine output: confirm it
against the brute-force tests and document it before re-pinning.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from tsmp_spark.fixtures import make_tokens
from tsmp_spark.mpcore import exclusion_zone_size, mpx, mpx_ab, stomp


def _sha(a: np.ndarray) -> str:
    return hashlib.sha256(a.tobytes()).hexdigest()


# (kernel, doc_index, n, w) -> (sha256(mp), sha256(pi))
SELF_JOIN = {
    ("mpx", 0, 256, 16): (
        "98ef6a9b44ec906bba3a6c9505ac76b1749b6fc47d575896cf1e03d4379ace1a",
        "0840a0fe98bbd968d188b5cb7a3205f31533c67761e7e3f50668211b27410a80",
    ),
    ("stomp", 0, 256, 16): (
        "63de98a63e66dbb62b8c87729e8759adc7d60258cc04bea8eb49e2689ff7397b",
        "0840a0fe98bbd968d188b5cb7a3205f31533c67761e7e3f50668211b27410a80",
    ),
    ("mpx", 3, 1000, 32): (
        "9e5e21e9e6872959a2ca709ca907ced0dfee57c18bdf7580bd8105ba6da29f3e",
        "96468a5233bfd62ca433a212866d8e839e59ef3102236d0de4b9ebe5e0566e14",
    ),
    ("stomp", 3, 1000, 32): (
        "2cdfb4b1fa83b06449b0ab62f6ec3557c47771b0da6a379cdfa61fb05b5aaf06",
        "96468a5233bfd62ca433a212866d8e839e59ef3102236d0de4b9ebe5e0566e14",
    ),
    ("mpx", 7, 2048, 64): (
        "084253ffa8504fcfb6a6141639e70042c3084ac2867de0b4ae1765bebbebd9f6",
        "cdd45ea98d96697ccdf454abed4d5c0f643d566baa869d4af509a9a963520b53",
    ),
    ("stomp", 7, 2048, 64): (
        "6b60ab4845a71e03ea73f4d3e6aae12b6dc3925ac8aececac45f381340fcc652",
        "c780f2e073505dd9adc577bc10533784500faf1507c04368909fa83940fe7ada",
    ),
}

# ((doc_a, n_a), (doc_b, n_b), w) -> sha256 of (mp, pi, mpb, pib)
AB_JOIN = {
    ((1, 400), (2, 300), 16): (
        "47798c5b76ef96c41e45e4fdffd87e80e21a40231ca9a3e74c3b78e922cd6e5e",
        "46cf5b3996b7095d5d0193e33d511f03175550a9aecd0826f288a4b81033c56a",
        "46aab7343b5364dac7cf00b65193a04100eb425479fc858e021e76343604a142",
        "4d14f5c5053cc625dac198069cadf6cf3f27a5774d8827585927efd8b0fd2b65",
    ),
    ((4, 1200), (5, 900), 32): (
        "02c6c004cf5c8b7ea60ec4eadcaa71b257d9f3f0f153d22f372be067713ba27f",
        "8d3b5c146a5246dc2cf07f462e348b69288efe5d4d9b1bbbbc05c83e325d732f",
        "ffcbe08cf5c257cd8b4e7610ff92fddb8299fe6b5b70b2a5f2a44c6059c329e7",
        "52f614e1424d042e640d83da7ae1bade2665a8061476e4b2d5e080b465efa50e",
    ),
}


def _series(doc: int, n: int) -> np.ndarray:
    return make_tokens(doc, length=n).astype(np.float64)


@pytest.mark.parametrize("case", sorted(SELF_JOIN), ids=str)
def test_self_join_digest(case):
    kernel, doc, n, w = case
    x = _series(doc, n)
    if kernel == "mpx":
        # the engine's call (operators.matrix_profile): minlag = ez_n + 1
        r = mpx(x, w, minlag=exclusion_zone_size(w, 0.5) + 1)
    else:
        r = stomp(x, w)
    assert (r.mp.dtype, r.pi.dtype) == (np.float64, np.int64)
    assert (_sha(r.mp), _sha(r.pi)) == SELF_JOIN[case]


@pytest.mark.parametrize("case", sorted(AB_JOIN), ids=str)
def test_ab_join_digest(case):
    (da, na), (db, nb), w = case
    r = mpx_ab(_series(da, na), _series(db, nb), w)
    assert (_sha(r.mp), _sha(r.pi), _sha(r.mpb), _sha(r.pib)) == AB_JOIN[case]

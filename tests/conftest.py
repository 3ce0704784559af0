from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from thewhisperdb_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4)
    yield s


def _minhash_oracle(shingles, n_hashes, elem_hash=None):
    """One MinHash signature by the definition, in pure Python: element
    hash md5 -> first 15 hex digits -> mod p (or ``elem_hash``), affine
    family (a, b) from ``random.Random(42)``, minimum per hash. None for
    a NULL array (no row); NULL elements are skipped."""
    import hashlib
    import random

    p = (1 << 31) - 1
    rnd = random.Random(42)
    coeffs = [(rnd.randrange(1, p), rnd.randrange(0, p))
              for _ in range(n_hashes)]
    if shingles is None:
        return None
    if elem_hash is None:
        def elem_hash(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % p
    hs = [elem_hash(s) for s in shingles if s is not None]
    if shingles and not hs:
        return [None] * n_hashes
    return [min([(a * h + b) % p for h in hs], default=p) for a, b in coeffs]


@pytest.fixture(scope="session")
def minhash_oracle():
    """``minhash_oracle(shingles, n_hashes, elem_hash=None)``: the
    pure-Python MinHash reference for ``dedup.minhash_signatures_df``."""
    return _minhash_oracle


@pytest.fixture()
def jobs_of(spark):
    """``jobs_of(group, fn)``: the Spark jobs ``fn`` starts, counted
    through a job group."""
    sc = spark.sparkContext

    def count(group: str, fn) -> int:
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return count


@pytest.fixture(params=["local", "distributed"])
def cc_path(request, spark):
    """Runs a test once per side of the broadcast-budget gates: the
    driver-side finishes (small edge lists in connected components, small
    signature tables in MinHash-LSH near-dedup) and the distributed paths,
    forced by disabling broadcasts."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if request.param == "distributed":
        spark.conf.set(key, "-1")
    try:
        yield request.param
    finally:
        spark.conf.set(key, old)


@pytest.fixture(scope="session")
def nodes_df(spark):
    """Reference-parity fixture rows (FIXTURES.md §1): includes the mandated
    edge cases — empty tags, missing embedding, zero vector, course=0,
    duplicate titles/dates, isolated node."""
    rows = [
        # id, title, author, subject, course, date, tags, embedding
        (1, "intro to spark", "ada", "cs", 101, "2024-01-01 10:00:00",
         ["spark", "intro"], [1.0, 0.0, 0.0]),
        (2, "advanced spark", "ada", "cs", 201, "2024-01-01 10:00:00",
         ["spark", "advanced"], [0.9, 0.1, 0.0]),
        (3, "intro to sql", "bob", "cs", 101, "2024-02-01 09:00:00",
         ["sql", "intro"], [0.0, 1.0, 0.0]),
        (4, "poetry", "cat", "lit", 0, "2023-12-31 23:59:59",
         [], None),
        (5, "zero vec", "dan", "cs", 101, "2024-03-01 08:00:00",
         ["zero"], [0.0, 0.0, 0.0]),
        (6, "intro to spark", "eve", "cs", 102, "2024-01-01 10:00:00",
         ["spark", "intro", "dup"], [1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(
        rows, "id long, title string, author string, subject string, "
              "course int, date string, tags array<string>, embedding array<float>")

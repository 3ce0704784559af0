"""Deduplication operators (north-star §2.11): exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine near-dup.

All candidate generation is equi-join shaped (group on a key: text hash,
shingle, band bucket, simhash band) — never a cross join — so each op's cost
is Σ bucket² instead of n², which is the property that survives 100 TB.
Hashing stays JVM-side codegen throughout; signature/fingerprint element
hashes default to md5-derived 60-bit values (engine-portable — any engine
with md5 reproduces them, which is what lets the DuckDB oracle check these
pipelines value-for-value), with an xxhash64 ``portable=False`` fast path
for single-engine deployments. Internal-only keys (band buckets) still use
xxhash64. Dense per-row math (the MinHash k-wide minimum, SemDeDup's
cluster grams) runs in numpy over Arrow batches.

MinHash-LSH near-dedup finishes on the driver, in numpy from one
signature collect, when the signatures and then their candidate pairs fit
``operators.broadcast_budget`` (small corpora would otherwise pay a Spark
action per stage for a few dozen pairs); otherwise the same pairs come
from the distributed bucket join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from thewhisperdb_spark.operators.indexmeta import (
    IndexKind, build_bracket, mutate_index, open_index, parquet_row_count)
from thewhisperdb_spark.operators.text import char_ngrams, tags_of, tokens


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy: duplicate groups with the kept (min) id.
    Returns (text, n_dups, keeper) for groups of size > 1."""
    return (
        df.groupBy(text_col)
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keeper"))
        .filter(F.col("n_dups") > 1)
    )


def drop_exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Keep the min-id row per distinct text: ``min(id) over (partition by
    text)`` and a filter, one shuffle on the text hash, and ``df`` is read
    once (so observations on it count each row once). NULL texts form one
    group like any other value and keep their minimum id, as
    ``SELECT min(id) … GROUP BY text`` does."""
    first = F.min(id_col).over(Window.partitionBy(text_col))
    return (df.withColumn("_first", first)
            .filter(F.col(id_col) == F.col("_first")).drop("_first"))


def _shingle_cooccurrence(sh: DataFrame,
                          max_df: int | None) -> DataFrame:
    """(a, b, inter) pair-intersection counts from an exploded (id, sh)
    shingle table — the Σ df(shingle)² inverted-index kernel shared by
    Jaccard and containment scoring. With ``max_df``, shingles whose
    document frequency exceeds it are excluded from CANDIDATE GENERATION
    only; each surviving candidate pair is then re-scored with its exact
    intersection over the FULL shingle sets, so reported counts are never
    approximated (the cap's exactness guarantee lives in ONE place —
    see shingle_jaccard_pairs for the recall analysis)."""
    if max_df is None:
        return (
            sh.alias("x").join(sh.alias("y"),
                               (F.col("x.sh") == F.col("y.sh"))
                               & (F.col("x.id") < F.col("y.id")))
            .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    hot = (sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") > int(max_df)).select("sh"))
    rare = sh.join(hot, "sh", "left_anti")
    cand = (
        rare.alias("x").join(rare.alias("y"),
                             (F.col("x.sh") == F.col("y.sh"))
                             & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    # exact re-score over the full shingle sets, restricted to the
    # (bounded) candidate pairs — Σ over candidates of |A| join rows
    return (
        cand.join(sh.alias("x"), cand["a"] == F.col("x.id"))
        .join(sh.alias("y"),
              (cand["b"] == F.col("y.id")) & (F.col("x.sh") == F.col("y.sh")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def shingle_jaccard_pairs(df: DataFrame, n: int = 3, threshold: float = 0.9,
                          id_col: str = "doc_id", text_col: str = "text",
                          max_df: int | None = None) -> DataFrame:
    """N-gram Jaccard near-dup: char-n-gram shingle sets, exact Jaccard via the
    inverted-index co-occurrence identity J = c/(|A|+|B|-c) (same kernel as
    tags.jaccard_pairs, different shingling). Returns (a, b, jaccard).

    ``max_df`` (round-4 scale hardening): the plain co-occurrence join costs
    Σ df(shingle)² — a stop-shingle appearing in 1M docs alone contributes
    10¹² join rows at scale. With ``max_df`` set, shingles whose document
    frequency exceeds it are excluded from CANDIDATE GENERATION only; each
    surviving candidate pair is then re-scored with its exact Jaccard over
    the FULL shingle sets, so reported similarities are never approximated.
    The candidate step is exact whenever every pair with J >= threshold
    shares at least one shingle with df <= max_df — guaranteed when hot
    shingles are boilerplate riding on otherwise-distinctive text, the
    regime the cap is for. A pair composed ENTIRELY of over-cap shingles
    (e.g. two documents that are nothing but the same stop-shingle soup) is
    missed — if that adversarial case matters, use minhash_lsh_pairs, whose
    banding has no frequency blind spot."""
    sh = df.select(F.col(id_col).alias("id"),
                   F.explode(char_ngrams(F.col(text_col), n)).alias("sh"))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    co = _shingle_cooccurrence(sh, max_df)
    out = (
        co.join(sizes.select(F.col("id").alias("a"), F.col("n_sh").alias("na")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("n_sh").alias("nb")), "b")
        .withColumn("jaccard",
                    F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


def containment_pairs(df: DataFrame, threshold: float = 0.8,
                      shingle_n: int = 5, id_col: str = "doc_id",
                      text_col: str = "text",
                      max_df: int | None = None) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment C(A,B) = |A∩B| / min(|A|,|B|)
    over distinct word ``shingle_n``-gram sets — the sub-document detector
    symmetric Jaccard is blind to. A short document quoted whole inside a
    long one scores J = |A|/|B| ≈ 0 but containment 1.0; this is the
    quote/boilerplate/snippet case every training-data dedup eventually
    hits (C4 and RefinedWeb both special-case it). Broder's original
    resemblance/containment pair (SEQUENCES'97) — resemblance is
    minhash_lsh_pairs; this is the containment half, exact.

    Same scale shape as shingle_jaccard_pairs: one shingle explode, the
    Σ df² inverted-index co-occurrence join (with the same ``max_df``
    candidate cap + exact re-score for boilerplate-heavy corpora), sizes
    re-attached by two dimension-joins. Integer intersection and sizes are
    returned alongside the score, so downstream thresholds can stay in
    exact integer space. Returns (a, b, inter, size_a, size_b,
    containment) with containment >= threshold, where sizes are the FULL
    (uncapped) distinct-shingle counts."""
    from thewhisperdb_spark.operators.text import word_ngrams

    # materialize the exploded shingle table once (optimization r12):
    # the plan references it 6x (sizes, the df-cap, candidate gen, and
    # the two re-score joins), and without a checkpoint each reference
    # re-scans the corpus and re-explodes the shingles. At scale this is
    # the standard store-the-exploded-posting-list-once trade (guide §5:
    # cache when reused AND recompute is expensive; localCheckpoint
    # spills to disk under pressure).
    sh = df.select(F.col(id_col).alias("id"),
                   F.explode(word_ngrams(F.col(text_col), shingle_n))
                   .alias("sh")).localCheckpoint(eager=True)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    co = _shingle_cooccurrence(sh, max_df)
    return (
        co.join(sizes.select(F.col("id").alias("a"),
                             F.col("n_sh").alias("size_a")), "a")
        .join(sizes.select(F.col("id").alias("b"),
                           F.col("n_sh").alias("size_b")), "b")
        .withColumn("containment",
                    F.col("inter").cast("double")
                    / F.least("size_a", "size_b"))
        # single IEEE division of two small ints: bit-identical across
        # engines, so the float threshold is oracle-safe (unlike SUMS)
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "inter", "size_a", "size_b",
                F.round("containment", 6).alias("containment"))
    )


_MERSENNE31 = (1 << 31) - 1

# Version of the hash scheme behind every persisted sketch this module can
# produce (MinHash signatures, SimHash fingerprints, doc fingerprints, CMS
# rows). v1 (rounds 1-2) defaulted element hashes to xxhash64; v2 (round 3+)
# defaults to md5-derived 60-bit values so any engine with md5 re-derives
# identical sketches. v1 and v2 sketches over the SAME data do NOT compare
# equal — persist this constant next to any stored sketch column and refuse
# to compare across versions (see CHANGELOG.md). ``portable=False`` still
# yields the v1 scheme.
SIGNATURE_FORMAT_VERSION = 2

# element hashes per numpy step of the signature kernel: bounds its working
# set at this many × n_hashes longs (8 MB at 64 hashes) however long a row is
_MINHASH_CHUNK = 1 << 14


def minhash_signatures_df(shingled: DataFrame, n_hashes: int,
                          portable: bool = True) -> DataFrame:
    """MinHash signatures of an (id, sh) frame, ``sh`` a string array:
    (id, sig), ``sig`` n_hashes longs in [0, 2³¹-1], ``id`` keeping its type.

    Each element is string-hashed ONCE, in SQL: md5-derived 60 bits folded
    into the Mersenne-31 domain, so any engine with md5 re-derives the
    signatures (the DuckDB oracle checks the LSH pipeline value-for-value);
    ``portable=False`` swaps only this hash for xxhash64. The k hash
    functions are h_i = (a_i·h + b_i) mod p with (a_i, b_i) drawn from
    ``random.Random(42)``; their minima run in numpy over Arrow batches
    (``mapInPandas``), exact in int64 because a, h < 2³¹, in fixed element
    chunks with a running minimum, so no row sizes the working set.

    Row semantics: a NULL array mints no row; an EMPTY array keeps the
    init signature [p]*k; NULL shingles (``char_ngrams`` of a NULL text is
    [NULL]) hash to NULL in both families and are skipped, as SQL MIN
    skips them — so a non-empty array of only NULLs gets k NULLs, which
    agree with nothing and pair with nothing."""
    import random

    import numpy as np
    import pandas as pd

    p = _MERSENNE31
    rnd = random.Random(42)
    a, b = np.array([(rnd.randrange(1, p), rnd.randrange(0, p))
                     for _ in range(n_hashes)], dtype=np.int64).T

    def elem_hash(g: Column) -> Column:
        if portable:
            return F.pmod(F.conv(F.substring(F.md5(g), 1, 15), 16, 10)
                          .cast("long"), F.lit(p))
        # xxhash64(NULL) is its seed (42), not NULL
        return F.when(g.isNotNull(), F.pmod(F.xxhash64(g), F.lit(p)))

    def signatures(batches):
        for pdf in batches:
            # a list<long> holding NULLs arrives as float64 with NaN; the
            # hashes are < 2³¹, so float64 holds them exactly
            lens = pdf["h"].map(len).to_numpy(np.int64)
            flat = np.concatenate([np.zeros(0), *pdf["h"]])
            row = np.repeat(np.arange(len(pdf)), lens)
            ok = ~np.isnan(flat)
            h, row = flat[ok].astype(np.int64), row[ok]
            sig = np.full((len(pdf), n_hashes), p, dtype=np.int64)
            for s in range(0, len(h), _MINHASH_CHUNK):
                hc, rc = h[s:s + _MINHASH_CHUNK], row[s:s + _MINHASH_CHUNK]
                starts = np.flatnonzero(np.r_[True, rc[1:] != rc[:-1]])
                mins = np.minimum.reduceat((hc[:, None] * a + b) % p,
                                           starts, axis=0)
                sig[rc[starts]] = np.minimum(sig[rc[starts]], mins)
            sigs = list(sig)
            for i in np.flatnonzero(
                    (lens > 0) & (np.bincount(row, minlength=len(pdf)) == 0)):
                sigs[i] = [None] * n_hashes
            yield pd.DataFrame({"id": pdf["id"], "sig": sigs})

    hashed = (shingled.filter(F.col("sh").isNotNull())
              .select("id", F.transform("sh", elem_hash).alias("h")))
    id_type = hashed.schema["id"].dataType.simpleString()
    return hashed.mapInPandas(signatures, f"id {id_type}, sig array<long>")


def _min_bands(n_hashes: int, bands: int, threshold: float) -> int:
    """Lossless candidate floor: a pair at est >= θ agrees on >= ceil(θ·k)
    of k hashes, so its <= k − ceil(θ·k) disagreements break at most that
    many bands — it collides in at least ``bands − (k − ceil(θ·k))``."""
    import math

    return max(1, bands - (n_hashes - math.ceil(threshold * n_hashes - 1e-9)))


def _agreeing_fraction(x: str, y: str, n_hashes: int) -> Column:
    """Estimated Jaccard of two signature columns: the fraction of
    positions where they agree (a NULL position agrees with nothing)."""
    return (F.size(F.filter(F.zip_with(F.col(x), F.col(y),
                                       lambda u, v: u == v), lambda m: m))
            .cast("double") / F.lit(n_hashes))


def minhash_lsh_pairs(df: DataFrame, n_hashes: int = 64, bands: int = 16,
                      threshold: float = 0.8, shingle_n: int = 3,
                      id_col: str = "doc_id", text_col: str = "text",
                      shingler=None, portable: bool = True) -> DataFrame:
    """MinHash+LSH near-dup (shingle -> minhash -> band -> bucket equi-join ->
    exact-signature Jaccard re-check). Candidate pairs are generated per band
    bucket — Σ bucket² work — then scored by estimated Jaccard (fraction of
    agreeing minhashes; a NULL position agrees with nothing). Returns
    (a, b, est_jaccard), a < b, both keeping the id type.

    ``shingler`` overrides the default char-n-gram shingling (e.g.
    ``text.word_ngrams`` for the word-5-gram operating point of web-scale
    dedup pipelines — fewer shingles, less background overlap).

    Candidate pruning is threshold-derived and **lossless** (``_min_bands``):
    counting band collisions per pair and filtering below the floor drops
    the one-band-fluke bulk of the candidate stream before the signatures
    are compared, without changing the result set.

    Measured sizes pick the path (``_lsh_signature_pairs``): small inputs
    finish on the driver and come back as a local relation, the rest run
    the distributed bucket join (``_lsh_pairs_shuffle``), with the same
    pairs."""
    sig, local = _lsh_signature_pairs(df, n_hashes, bands, threshold,
                                      shingle_n, id_col, text_col, shingler,
                                      portable)
    if local is None:
        return _lsh_pairs_shuffle(sig, n_hashes, bands, threshold)
    id_type = sig.schema["id"].dataType
    return sig.sparkSession.createDataFrame(local, T.StructType([
        T.StructField("a", id_type, False), T.StructField("b", id_type, False),
        T.StructField("est_jaccard", T.DoubleType(), False)]))


def _lsh_signature_pairs(df: DataFrame, n_hashes: int, bands: int,
                         threshold: float, shingle_n: int, id_col: str,
                         text_col: str, shingler, portable: bool):
    """(sig, local): the materialized (id, sig) signatures, and their LSH
    pairs as a pyarrow (a, b, est_jaccard) table when they were found on
    the driver, else None.

    The signatures are checkpointed once, their row count riding that
    job: every later reference (the collect, or both sides of the bucket
    join and both re-attach joins) reads them instead of re-running the
    shingling and the kernel. Two checks against
    ``operators.broadcast_budget`` pick the path: the signatures must fit
    (8 bytes × n_hashes per row) to be collected once, and then the
    candidate pairs Σ C(bucket size, 2) over every bucket of every band
    must fit too (16 bytes each) before any is built. A near-identical
    corpus passes the first and fails the second. Failing either leaves
    the pairs to ``_lsh_pairs_shuffle`` over the same checkpoint."""
    from thewhisperdb_spark.operators import (broadcast_budget,
                                              checkpoint_counted)

    shingle = (shingler(F.col(text_col)) if shingler is not None
               else char_ngrams(F.col(text_col), shingle_n))
    sig, n_sig_rows = checkpoint_counted(minhash_signatures_df(
        df.select(F.col(id_col).alias("id"), shingle.alias("sh")),
        n_hashes, portable=portable))
    budget = broadcast_budget(sig.sparkSession)
    if budget <= 0 or n_sig_rows * 8 * n_hashes > budget:
        return sig, None
    return sig, _lsh_pairs_local(sig.toArrow(), n_hashes, bands, threshold,
                                 budget)


def _expand(counts):
    """(group, offset) for every slot of groups of these sizes: group i
    repeated counts[i] times, beside its offsets 0 .. counts[i] − 1."""
    import numpy as np

    group = np.repeat(np.arange(len(counts)), counts)
    return group, np.arange(len(group)) - np.repeat(np.cumsum(counts) - counts,
                                                    counts)


def _lsh_pairs_local(tbl, n_hashes: int, bands: int, threshold: float,
                     budget: int):
    """``_lsh_pairs_shuffle`` on numpy over a collected (id, sig) pyarrow
    table: a pyarrow (a, b, est_jaccard) table, or None when the
    candidate pairs would not fit ``budget`` bytes.

    Buckets are exact band slices (the shuffle path's xxhash64 of the
    slice stands in for them; NULL positions compare equal here, as they
    do in that hash). The pairs inside every bucket are enumerated at
    once, without a loop per bucket; a pair of rows counts one collision
    for its ids in Spark's id order, rows of one id never pair, and id
    pairs below ``_min_bands`` are dropped. Every surviving id pair is
    scored for each combination of its rows, as the re-attach joins do."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = tbl.filter(pc.is_valid(tbl.column("id")))   # NULL ids pair with nothing
    flat = tbl.column("sig").combine_chunks().flatten()
    sig = flat.fill_null(-1).to_numpy().reshape(-1, n_hashes)
    ok = flat.is_valid().to_numpy(zero_copy_only=False).reshape(-1, n_hashes)
    ids, rank = np.unique(tbl.column("id").to_numpy(zero_copy_only=False),
                          return_inverse=True)
    n, r = len(sig), n_hashes // bands
    keys = np.column_stack([
        np.repeat(np.arange(bands), n),
        sig[:, :bands * r].reshape(n, bands, r).swapaxes(0, 1)
        .reshape(bands * n, r)])
    bucket, size = np.unique(keys, axis=0, return_inverse=True,
                             return_counts=True)[1:]
    if int((size * (size - 1) // 2).sum()) * 16 > budget:
        return None
    # rows in bucket order; each pairs with the later rows of its bucket
    order = np.argsort(bucket.ravel(), kind="stable")
    members = size.repeat(size)
    first, step = _expand(members - 1 - _expand(size)[1])
    x = rank[order[first] % n]
    y = rank[order[first + 1 + step] % n]
    distinct = x != y
    lo, hi = np.minimum(x, y)[distinct], np.maximum(x, y)[distinct]
    pair, n_coll = np.unique(lo * len(ids) + hi, return_counts=True)
    a, b = np.divmod(pair[n_coll >= _min_bands(n_hashes, bands, threshold)],
                     len(ids))
    # every combination of the rows of a and of b (one each unless an id
    # repeats)
    by_id = np.argsort(rank, kind="stable")
    per_id = np.bincount(rank, minlength=len(ids))
    start = np.cumsum(per_id) - per_id
    p, k = _expand(per_id[a] * per_id[b])
    ra = by_id[start[a[p]] + k // per_id[b[p]]]
    rb = by_id[start[b[p]] + k % per_id[b[p]]]
    est = ((sig[ra] == sig[rb]) & ok[ra] & ok[rb]).sum(axis=1) / n_hashes
    hit = est >= threshold
    id_type = tbl.schema.field("id").type
    return pa.table({"a": pa.array(ids[a[p]][hit], id_type),
                     "b": pa.array(ids[b[p]][hit], id_type),
                     "est_jaccard": est[hit]})


def _lsh_pairs_shuffle(sig: DataFrame, n_hashes: int, bands: int,
                       threshold: float) -> DataFrame:
    """LSH pairs of a materialized (id, sig) frame by a distributed bucket
    join: candidate dedup on ids ONLY (16-byte rows through the Σ bucket²
    shuffle), collisions counted per pair against ``_min_bands``, then the
    signatures re-attach by plain shuffle joins (at pipeline scale the
    signature table is fact-sized: 1B docs × 32 longs ≈ 250 GB)."""
    slim = _lsh_band(sig, n_hashes, bands)
    cand_ids = (
        slim.alias("x")
        .join(slim.alias("y"),
              (F.col("x.band") == F.col("y.band"))
              & (F.col("x.bucket") == F.col("y.bucket"))
              & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("_nb"))
        .filter(F.col("_nb") >= _min_bands(n_hashes, bands, threshold))
        .drop("_nb")
    )
    sig_a = sig.select(F.col("id").alias("a"), F.col("sig").alias("siga"))
    sig_b = sig.select(F.col("id").alias("b"), F.col("sig").alias("sigb"))
    return (
        cand_ids.join(sig_a, "a").join(sig_b, "b")
        .select("a", "b",
                _agreeing_fraction("siga", "sigb", n_hashes)
                .alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash(set_col: Column, bits: int = 32,
            portable: bool = True) -> Column:
    """SimHash fingerprint of a string-array column: sign-sum of per-element
    hash bits, packed to a long. Near-dup candidates = equal values (or equal
    band slices for Hamming-distance tolerance).

    ``portable=True`` (default): ONE md5-derived 60-bit hash per element,
    bit j of the fingerprint votes with bit j of that hash — engine-portable
    (any engine with md5 re-derives identical fingerprints; the DuckDB
    oracle checks the pipeline value-for-value) and cheaper than per-bit
    hashing, at 60 usable bits. ``portable=False``: an independent xxhash64
    per (bit, element) — 63 usable bits, single-engine only.

    Single fold over the set with the per-bit vote vector as accumulator,
    so ``set_col`` is evaluated once per row (a fold per bit would
    re-evaluate the set construction ``bits`` times after Catalyst's
    projection collapse), packed MSB-first by a multiply-accumulate fold
    (signed-long packing caps bits at 63)."""
    max_bits = 60 if portable else 63
    assert 0 < bits <= max_bits, f"at most {max_bits} bits for this mode"
    if portable:
        # pre-hash each element ONCE (the fold variable h is then a leaf
        # reference, so per-bit mask tests don't re-run the md5), then vote
        # with bit j of the 60-bit value via a literal mask array
        masks = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
        votes = F.aggregate(
            F.transform(set_col,
                        lambda e: F.conv(F.substring(F.md5(e), 1, 15), 16, 10)
                        .cast("long")),
            F.array_repeat(F.lit(0), bits),
            lambda acc, h: F.zip_with(
                acc,
                F.transform(masks, lambda m: F.when(
                    h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1))),
                lambda a, v: a + v,
            ),
        )
    else:
        idxs = F.sequence(F.lit(0), F.lit(bits - 1))
        votes = F.aggregate(
            set_col,
            F.array_repeat(F.lit(0), bits),
            lambda acc, e: F.zip_with(
                acc,
                F.transform(idxs, lambda j: F.when(
                    F.pmod(F.xxhash64(j, e), F.lit(2)) == 1, F.lit(1))
                    .otherwise(F.lit(-1))),
                lambda a, v: a + v,
            ),
        )
    bitvals = F.transform(votes, lambda v: F.when(v >= 0, F.lit(1).cast("long"))
                          .otherwise(F.lit(0).cast("long")))
    return F.aggregate(F.reverse(bitvals), F.lit(0).cast("long"),
                       lambda acc, b: acc * 2 + b)


def simhash_duplicates(df: DataFrame, bits: int = 32,
                       id_col: str = "doc_id", text_col: str = "text",
                       max_members: int = 100) -> DataFrame:
    """SimHash near-dup groups: docs whose token-set simhash collides.
    Returns (simhash, n_docs, member_ids_csv) for groups of size > 1.

    ``n_docs`` is always exact; ``member_ids_csv`` lists only the
    ``max_members`` smallest ids. The cap is applied by ranking BEFORE the
    collect (row_number within the group, then collect only ranked rows),
    so the aggregation buffer is bounded at ``max_members`` — a
    mega-collision group (think millions of boilerplate-identical docs at
    corpus scale) costs one counter plus a 100-element array, not a
    group-sized list in one reducer."""
    # token set materialized once (see minhash_lsh_pairs: inlined expressions
    # are re-evaluated per bit inside the fold)
    h = (df.select(F.col(id_col).alias("id"),
                   tags_of(F.col(text_col)).alias("toks"))
         .select("id", simhash(F.col("toks"), bits).alias("simhash")))
    w = Window.partitionBy("simhash").orderBy("id")
    ranked = h.withColumn("_rk", F.row_number().over(w))
    return (
        ranked.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.array_join(
                 F.array_sort(F.collect_list(
                     F.when(F.col("_rk") <= max_members, F.col("id")))),
                 ",").alias("member_ids_csv"))
        .filter(F.col("n_docs") > 1)
    )


def simhash_band_pairs(df: DataFrame, bits: int = 32, bands: int = 4,
                       max_hamming: int = 3,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hamming-tolerant SimHash near-dup: pairs whose ``bits``-bit simhash
    differs in at most ``max_hamming`` positions. Candidates come from band
    equi-joins (pigeonhole: d differing bits can break at most d of ``bands``
    band slices, so any pair within ``max_hamming`` collides on at least
    ``bands - max_hamming`` bands — the candidate generation is **lossless**
    while ``max_hamming < bands``), verified with ``bit_count(xor)``.
    Returns (a, b, hamming)."""
    assert max_hamming < bands, "pigeonhole guarantee needs max_hamming < bands"
    band_bits = bits // bands
    h = (df.select(F.col(id_col).alias("id"),
                   tags_of(F.col(text_col)).alias("toks"))
         .select("id", simhash(F.col("toks"), bits).alias("simhash"))
         .localCheckpoint(eager=True))  # referenced by bands and both join sides
    banded = h.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned("simhash", b * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1)).alias("slice"),
            ) for b in range(bands)])).alias("bb"),
    ).select("id", "simhash", F.col("bb.band").alias("band"),
             F.col("bb.slice").alias("slice"))
    cand = (
        banded.alias("x")
        .join(banded.alias("y"),
              (F.col("x.band") == F.col("y.band"))
              & (F.col("x.slice") == F.col("y.slice"))
              & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"),
                F.col("x.simhash").alias("ha"), F.col("y.simhash").alias("hb"))
        .dropDuplicates(["a", "b"])
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (cand.select("a", "b", ham.cast("long").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def embedding_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.99,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup: cosine >= θ pairs (θ near 1). Exact kernel;
    at scale swap in vectors.ann_lsh_pairs for candidate generation."""
    from thewhisperdb_spark.operators.vectors import similar_pairs

    return similar_pairs(embeddings, threshold, id_col, vec_col)


def semantic_dedup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                         k: int = 16, max_iter: int = 5,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         labels: DataFrame | None = None,
                         block_rows: int = 4096) -> DataFrame:
    """SemDeDup-style candidate pairs (Abbas et al., arXiv:2303.09540):
    k-means the embedding space, then compute cosine >= θ pairs WITHIN
    each cluster only. Clustering bounds the pair work to Σ|cluster|²·d
    instead of n²·d — the published scale recipe for embedding-level
    dedup of web corpora (near-dups land in the same cluster at the θ≈1
    operating point; recall vs the exact kernel is measured in pytest).
    The pairs come from the blocked gram ``vectors._gram_pairs`` keyed by
    cluster. Two skew guards compose: ``k`` (more clusters, smaller
    matmuls) and ``block_rows`` — a cluster larger than ``block_rows`` is
    hash-split into ceil(|cluster| / block_rows) blocks, so one
    degenerate mega-cluster (a boilerplate-heavy corpus) cannot pin
    |c|²·d work on a single executor; the result is EXACT either way.
    Edge rule as ``similar_pairs``: zero-norm, NULL, empty and
    cross-dimension pairs score 0.0, so they pair only at θ <= 0.
    ``labels`` lets a caller reuse a precomputed (id, cluster) frame.
    Returns (a, b, similarity) with a < b, same cluster."""
    from thewhisperdb_spark.operators.vectors import _gram_pairs, kmeans_assign

    lab = labels if labels is not None else kmeans_assign(
        embeddings, k=k, max_iter=max_iter, id_col=id_col, vec_col=vec_col)
    rows = (embeddings
            .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .join(lab.select(F.col(id_col).alias("id"), "cluster"), "id"))
    # per-cluster block count joined back as a broadcast (k rows): normal
    # clusters get one block — a single group, no replication
    sizes = (rows.groupBy("cluster")
             .agg(F.ceil(F.count(F.lit(1)) / F.lit(int(block_rows)))
                  .cast("int").alias("_nb")))
    return _gram_pairs(rows.join(F.broadcast(sizes), "cluster"),
                       ["cluster"], F.col("_nb"), threshold)


def semantic_dedup(embeddings: DataFrame, threshold: float = 0.95,
                   k: int = 16, max_iter: int = 5, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   labels: DataFrame | None = None) -> DataFrame:
    """Full SemDeDup verdict per row: within-cluster cosine pairs
    (``semantic_dedup_pairs``) resolved through connected components to
    (id, cluster, group, keep) — ``group`` is the min-id member (the
    survivor), ``keep`` = id == group; singletons keep themselves. The
    drop set is exactly ``near_dup_groups``' semantics, so the quality-
    preferring ``pick_survivors`` composes here too. ``labels`` reuses a
    precomputed (id, cluster) assignment (one k-means fit serves both
    the pairs and the verdict)."""
    from thewhisperdb_spark.operators.vectors import kmeans_assign

    lab = labels if labels is not None else kmeans_assign(
        embeddings, k=k, max_iter=max_iter, id_col=id_col, vec_col=vec_col)
    pairs = semantic_dedup_pairs(embeddings, threshold, k, max_iter,
                                 id_col, vec_col, labels=lab)
    lab_pairs = pairs.select("a", "b").localCheckpoint(eager=True)
    ids = embeddings.select(F.col(id_col).alias(id_col))
    groups = near_dup_groups(ids, lab_pairs, id_col)
    return (groups.join(lab, id_col)
            .select(id_col, "cluster", "group", "keep"))


def cross_split_contamination(df: DataFrame, test_pred: Column, n: int = 8,
                              id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """Train/test decontamination: test-split documents sharing any word
    ``n``-gram with a train-split document (the eval-leakage check every
    training pipeline runs before a data release). ``test_pred`` marks the
    test rows; everything else is train.

    Shape: one shingle explode over the corpus, then a shingle equi-join
    between the two splits — Σ df(shingle)² bounded like every other
    candidate join here, never a doc×doc cross join. At corpus scale, join
    on xxhash64(shingle) instead of the string to slim the shuffle (kept as
    raw strings here for oracle parity). Returns distinct flagged test ids
    as (doc_id)."""
    from thewhisperdb_spark.operators.text import word_ngrams

    sh = df.select(F.col(id_col).alias("id"), test_pred.alias("is_test"),
                   F.explode(word_ngrams(F.col(text_col), n)).alias("sh"))
    test = sh.filter(F.col("is_test")).select("id", "sh")
    train = sh.filter(~F.col("is_test")).select(F.col("sh").alias("sh_t")).distinct()
    return (test.join(train, test["sh"] == train["sh_t"])
            .select(F.col("id").alias(id_col)).distinct())


def contamination_overlap_scores(df: DataFrame, test_pred: Column, n: int = 8,
                                 id_col: str = "doc_id",
                                 text_col: str = "text") -> DataFrame:
    """Graded companion to :func:`cross_split_contamination`: instead of a
    binary flagged/clean verdict, score each TEST document by the fraction
    of its distinct word ``n``-gram shingles that also occur anywhere in
    the train split — the leakage *severity* metric release audits report
    (a doc sharing 95% of its shingles is a different problem from one
    sharing a single boilerplate sentence).

    Same scale shape as the binary check: one shingle explode, the train
    side reduced to a distinct shingle set, one equi-join (multiplicity 1
    because both sides are per-doc/global distinct), one per-doc aggregate.
    Test docs with zero overlap keep a 0.0 row. Returns
    (id_col, n_shingles, n_hit, overlap_frac) with overlap_frac rounded
    to 6."""
    from thewhisperdb_spark.operators.text import word_ngrams

    sh = df.select(F.col(id_col).alias("id"), test_pred.alias("is_test"),
                   F.explode(word_ngrams(F.col(text_col), n)).alias("sh"))
    test = sh.filter(F.col("is_test")).select("id", "sh")
    train = (sh.filter(~F.col("is_test"))
             .select("sh").distinct().withColumn("_hit", F.lit(1)))
    return (test.join(train, "sh", "left")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"))
            .select(F.col("id").alias(id_col), "n_shingles", "n_hit",
                    F.round(F.col("n_hit").cast("double")
                            / F.col("n_shingles"), 6).alias("overlap_frac")))


def _require_integral_id(df: DataFrame, id_col: str, op: str) -> None:
    """Duplicate-group resolution needs an integral id: the CC kernel's
    min-label propagation runs on long labels (the right representation
    at scale), and a string id would otherwise surface as an opaque
    mid-job CAST_INVALID_INPUT, so fail at plan time with the fix instead
    (LSH INDEX ops accept string ids; the group-resolution stage is where
    the numeric contract starts)."""
    id_type = df.select(F.col(id_col)).schema[0].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"{op}: id column '{id_col}' is {id_type}, but "
            "duplicate-group resolution requires an integral id (labels "
            "propagate as longs). Mint a surrogate id first, e.g. "
            "sources.textio-style row ids or zipWithIndex, and map back "
            "after.")


def near_dup_groups(df: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """Resolve near-dup PAIRS into dedup GROUPS: connected components over
    the pair graph, so transitive chains (A~B, B~C but A≁C) collapse into one
    group with one canonical survivor — the verdict a training-data pipeline
    actually needs (pairs alone over-delete or under-delete chains).

    Returns (id, group, keep): ``group`` = min id of the component, ``keep``
    = id == group. Every input row appears (non-duplicates are their own
    singleton group, keep=true)."""
    from thewhisperdb_spark.operators.graph import clusters_from_pairs

    _require_integral_id(df, id_col, "near_dup_groups")
    ids = df.select(F.col(id_col).alias("id"))
    labels = clusters_from_pairs(ids, pairs.select("a", "b"))
    return labels.select(
        F.col("id").alias(id_col), F.col("component").alias("group"),
        (F.col("id") == F.col("component")).alias("keep"))


def drop_near_duplicates(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", n_hashes: int = 32,
                         bands: int = 8, threshold: float = 0.8,
                         shingler=None) -> DataFrame:
    """End-to-end near-dedup: MinHash+LSH candidate pairs -> connected
    components -> keep the min-id document per duplicate group. Returns
    the rows of ``df``, columns in its order, whose id is not dropped:
    ``df`` left-anti-joined with the ids whose component minimum is
    another id, so no row is multiplied and a repeated id stays as often
    as it came. ``id_col`` must be integral on both paths.

    The paths of ``minhash_lsh_pairs`` decide where it finishes. When the
    pairs were found on the driver, ``graph.min_labels`` labels them there
    too and the dropped ids come back as a local relation: the signature
    checkpoint and its collect are the only Spark actions. Otherwise the
    shuffle pairs go through ``graph.edge_components`` (which gates its
    own driver-side finish on the edge count). Every stage is equi-join /
    iterative-join shaped, no cross join anywhere, so the same plan runs
    at corpus scale."""
    import pyarrow as pa

    from thewhisperdb_spark.operators.graph import edge_components, min_labels

    _require_integral_id(df, id_col, "drop_near_duplicates")
    sig, local = _lsh_signature_pairs(
        df, n_hashes, bands, threshold, shingle_n=3, id_col=id_col,
        text_col=text_col, shingler=shingler, portable=True)
    if local is None:
        pairs = _lsh_pairs_shuffle(sig, n_hashes, bands, threshold)
        dropped = (edge_components(pairs.select(F.col("a").alias("src"),
                                                F.col("b").alias("dst")))
                   .filter(F.col("id") != F.col("component"))
                   .select(F.col("id").alias(id_col)))
    else:
        verts, comp = min_labels(local.column("a").to_numpy(),
                                 local.column("b").to_numpy())
        dropped = sig.sparkSession.createDataFrame(
            pa.table({id_col: pa.array(verts[verts != comp],
                                       local.schema.field("a").type)}),
            T.StructType([T.StructField(id_col, sig.schema["id"].dataType,
                                        False)]))
    return df.join(dropped, id_col, "left_anti")


def pick_survivors(df: DataFrame, groups: DataFrame, quality_col: str,
                   id_col: str = "doc_id") -> DataFrame:
    """Quality-preferring survivor selection: instead of near_dup_groups'
    canonical min-id keep, retain the HIGHEST-``quality_col`` member of each
    duplicate group (id as deterministic tiebreak) — the choice production
    dedup actually wants (keep the longest / best-scored variant, drop the
    truncated mirror). One struct-max aggregation per group, then a semi-join
    back; ``groups`` is near_dup_groups' (id, group, keep) output."""
    g = groups.select(F.col(id_col).alias("_id"), "group")
    scored = (df.select(F.col(id_col).alias("_id"), F.col(quality_col))
              .join(g, "_id"))
    best = (scored.groupBy("group")
            .agg(F.max(F.struct(F.col(quality_col).alias("q"),
                                (-F.col("_id")).alias("neg_id")))
                 .alias("_best"))
            .select((-F.col("_best.neg_id")).cast("long").alias(id_col)))
    return df.join(best, id_col)


def unit_dedup(df: DataFrame, unit_tokens: int = 10, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Cross-corpus unit-level dedup (the C4/RefinedWeb "remove duplicated
    lines across the corpus" rule, re-based on fixed-size token units since
    the synthetic corpus has no newlines): split every document into
    ``unit_tokens``-token units, keep only the globally FIRST occurrence of
    each unit (by (doc_id, position)), and reconstruct each document from
    its surviving units in order.

    Scale shape: one explode to |corpus units| rows, one hash shuffle on
    the unit string for the first-occurrence window (per-key state is the
    running min — bounded), then one groupBy doc to reassemble. No join at
    all — the window subsumes the self-join a naive "seen before" lookup
    would do. At 100 TB the unit table is the token stream / unit_tokens;
    partial aggregation and rank-pushdown keep both shuffles lean.

    Determinism: unit boundaries are positional (stride = unit_tokens), the
    keep rule is a total order (unit, doc_id, pos) — no floats anywhere.

    Returns (id_col, clean_text, n_units, n_kept).
    """
    toks = tokens(F.col(text_col))
    n_units = F.greatest(
        F.ceil(F.size(toks) / F.lit(unit_tokens)).cast("int"), F.lit(1))
    units = F.transform(
        F.sequence(F.lit(0), n_units - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * unit_tokens + 1, unit_tokens)))
    ex = (df.select(id_col, F.posexplode(units).alias("pos", "unit")))
    w = Window.partitionBy("unit").orderBy(id_col, "pos")
    kept = (ex.withColumn("rk", F.row_number().over(w))
            .withColumn("is_first", F.col("rk") == 1))
    return (kept.groupBy(id_col)
            .agg(
                F.concat_ws(" ", F.array_compact(F.transform(
                    F.array_sort(F.collect_list(F.struct(
                        F.col("pos"), F.when(F.col("is_first"), F.col("unit"))
                        .alias("unit")))),
                    lambda s: s["unit"]))).alias("clean_text"),
                F.count(F.lit(1)).cast("long").alias("n_units"),
                F.sum(F.col("is_first").cast("long")).alias("n_kept")))


def repeated_span_scrub(df: DataFrame, k: int = 8, min_count: int = 2,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Span-level exact-substring dedup (the ExactSubstr shape of Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    at token-shingle granularity): any ``k``-token span occurring
    ``min_count``+ times ACROSS THE CORPUS (self-repeats included) marks
    every token position it covers; covered tokens are removed and the
    document reassembled from the survivors. Unlike document-level dedup
    this scrubs boilerplate embedded in otherwise-unique documents — the
    license header, the navigation bar — which document or line dedup
    cannot see.

    Shape at scale: |tokens| exploded rows, one shuffle to count shingle
    occurrences, duplicated-shingle starts joined back (the duplicated
    set is df-filtered and usually small — broadcast when it fits), and
    coverage derived per document by a [-(k-1), 0] rolling max over start
    flags — no per-position set materialization. Exactness condition:
    a position is removed iff SOME duplicated k-shingle covers it, which
    is exactly the Lee et al. span rule at shingle resolution.

    Returns (id, n_tokens, n_removed, clean_text)."""
    src = df.select(id_col, tokens(F.col(text_col)).alias("__toks"))
    # Empty/whitespace-only/NULL-text docs: sequence(0, size-1) would be
    # sequence(0, -1) = [0, -1] and element_at(toks, 0) throws — and raw
    # corpora are full of empty docs, exactly this operator's input. They
    # carry no spans, so route them around the scrub and union back as
    # (id, 0, 0, '') so no document silently disappears (ADVICE r4).
    toks = F.col("__toks")
    nonempty = src.filter(F.size(toks) > 0)
    # token-less <=> no non-whitespace char (tokens() splits on \s+): the
    # rlike branch reads df without re-tokenizing the corpus
    empties = (df.filter(
        ~F.coalesce(F.col(text_col).rlike(r"\S"), F.lit(False)))
        .select(id_col,
                F.lit(0).cast("long").alias("n_tokens"),
                F.lit(0).cast("long").alias("n_removed"),
                F.lit("").alias("clean_text")))
    # (pos, tok, shingle-starting-here) minted IN-ARRAY before the
    # explode — no window needed to build shingles, the per-doc slice
    # does it (same trick as unit_dedup); sh is NULL for tail positions
    # that can't start a full k-shingle
    entries = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 1),
        lambda i: F.struct(
            i.alias("pos"),
            F.element_at(toks, i + 1).alias("tok"),
            F.when(i + k <= F.size(toks),
                   F.concat_ws(" ", F.slice(toks, i + 1, k))).alias("sh")))
    base = (nonempty.select(id_col, F.explode(entries).alias("e"))
            .select(id_col, "e.pos", "e.tok", "e.sh"))
    dup = (base.filter(F.col("sh").isNotNull())
           .groupBy("sh").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") >= min_count)
           .select("sh", F.lit(1).alias("is_dup")))
    # no forced broadcast: on clean corpora the duplicated-shingle set is
    # small and AQE broadcasts it anyway; on self-similar/boilerplate-heavy
    # corpora it can approach |shingles| and a hint would OOM — the
    # size-gated choice belongs to the optimizer here
    marked = (base.join(dup, "sh", "left")
              .withColumn("dup_start",
                          F.coalesce(F.col("is_dup"), F.lit(0))))
    wcov = (Window.partitionBy(id_col).orderBy("pos")
            .rowsBetween(-(k - 1), 0))
    cov = marked.withColumn("covered", F.max("dup_start").over(wcov))
    scrubbed = (cov.groupBy(id_col)
                .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                     F.sum(F.col("covered").cast("long")).alias("n_removed"),
                     F.concat_ws(" ", F.array_compact(F.transform(
                         F.array_sort(F.collect_list(F.struct(
                             F.col("pos"),
                             F.when(F.col("covered") == 0, F.col("tok"))
                             .alias("tok")))),
                         lambda s: s["tok"]))).alias("clean_text")))
    return scrubbed.unionByName(empties)


# ---- persisted incremental LSH dedup index ---------------------------------
#
# The daily-crawl dedup pattern at 100 TB: signatures for the historical
# corpus are computed ONCE and persisted; each arriving batch hashes only
# its own documents and probes the index through the banded bucket join.
# Meta gate, build bracket and claim-guarded mutations are the shared
# index lifecycle (``operators/indexmeta.py``). Meta freezes the banding
# parameters: a probe against an index built with different banding
# parameters would silently generate wrong candidates, so parameter
# drift must fail, not degrade.

LSH_INDEX_FORMAT_VERSION = 1
LSH_INDEX = IndexKind(
    "LSH", LSH_INDEX_FORMAT_VERSION,
    "format_version int, n_hashes int, bands int, shingle_n int, "
    "portable boolean, hash_scheme string, id_type string",
    "lsh_index_build",
    # pre-r6 indexes carry no id_type column; they were all long-id builds
    {"id_type": "bigint"})


def _lsh_sig_banded(df: DataFrame, n_hashes: int, bands: int,
                    shingle_n: int, id_col: str, text_col: str,
                    portable: bool) -> tuple[DataFrame, DataFrame]:
    """(signatures, banded buckets) over word-(shingle_n)-gram shingles,
    with the signatures and banding of minhash_lsh_pairs. Signatures are
    localCheckpointed (referenced by the bucket explode and later joins)."""
    from thewhisperdb_spark.operators.text import word_ngrams

    sig = minhash_signatures_df(
        df.select(F.col(id_col).alias("id"),
                  word_ngrams(F.col(text_col), shingle_n).alias("sh")),
        n_hashes, portable=portable).localCheckpoint(eager=True)
    return sig, _lsh_band(sig, n_hashes, bands)


def _lsh_band(sig: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """Band a (id, sig) frame into (id, band, bucket) rows — one xxhash64
    bucket per contiguous signature slice. The one banding of
    minhash_lsh_pairs and every LSH index build, append, probe and delete
    (append bands AFTER its anti-join)."""
    rows_per_band = n_hashes // bands
    return sig.select(
        "id",
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(F.concat_ws(",", F.slice(
                    F.col("sig"), b * rows_per_band + 1, rows_per_band)
                    .cast("array<string>"))).alias("bucket")))).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def lsh_index_build(df: DataFrame, path: str, n_hashes: int = 32,
                    bands: int = 8, shingle_n: int = 5,
                    id_col: str = "doc_id", text_col: str = "text",
                    portable: bool = True) -> None:
    """Materialize the signature index: ``<path>/signatures`` (id, sig),
    ``<path>/buckets`` (bucket, id) hive-partitioned by band, and
    ``<path>/meta`` holding the banding parameters AND the id column's
    data type (probe/compact derive their declared read schemas from it —
    a string-id index must not be read back as long)."""
    spark = df.sparkSession
    sig, banded = _lsh_sig_banded(df, n_hashes, bands, shingle_n,
                                  id_col, text_col, portable)
    meta = {"n_hashes": n_hashes, "bands": bands, "shingle_n": shingle_n,
            "portable": portable,
            "hash_scheme": "md5-min-v2" if portable else "xxhash64-v1",
            "id_type": sig.schema["id"].dataType.simpleString()}
    with build_bracket(spark, path, LSH_INDEX, meta):
        sig.write.mode("overwrite").parquet(f"{path}/signatures")
        (banded.write.mode("overwrite").partitionBy("band")
         .parquet(f"{path}/buckets"))


def lsh_index_append(spark, path: str, new_df: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text") -> None:
    """Add a batch to the index with the INDEX'S OWN banding parameters
    (read from meta — caller-supplied params can't drift).

    Retry-idempotent: incoming ids are anti-joined against the persisted
    signatures under the writer claim, before anything is written, so
    re-running a failed/duplicated batch job (the normal operating
    condition for a daily-crawl index) is a no-op for already-indexed
    docs, and a retry racing the original either loses the claim or
    anti-joins a state that already contains the original's rows.
    Crash-atomic: the two appends sit inside the ``-1`` bracket, so a
    crash between them leaves an index that loudly fails the gate (a torn
    append requires lsh_index_build to recover). Probes keep serving
    through the anti-join phase. Lifecycle: ``indexmeta.mutate_index``."""
    m = open_index(spark, path, LSH_INDEX)
    n_hashes, bands = int(m["n_hashes"]), int(m["bands"])
    sig, _ = _lsh_sig_banded(new_df, n_hashes, bands, int(m["shingle_n"]),
                             id_col, text_col, bool(m["portable"]))
    in_type = sig.schema["id"].dataType.simpleString()
    if in_type != m["id_type"]:
        raise ValueError(
            f"LSH index at {path} stores {m['id_type']} ids; appending a "
            f"batch with {in_type} ids would corrupt the index")

    def delta():
        # the anti-join must observe every COMMITTED append (the file
        # listing is resolved here, post-claim), and the survivors are
        # checkpointed so banding and both writes observe one fixed
        # computation; emptiness rides the checkpoint job (r13)
        from thewhisperdb_spark.operators import checkpoint_counted
        idx_ids = (spark.read.schema(f"id {m['id_type']}, sig array<long>")
                   .parquet(f"{path}/signatures").select("id"))
        new_sig, n_new = checkpoint_counted(
            sig.join(idx_ids, "id", "left_anti"))
        if n_new == 0:
            return None                          # fully-replayed batch
        return new_sig, _lsh_band(new_sig, n_hashes, bands).localCheckpoint(
            eager=True)

    def write(d):
        new_sig, banded = d
        new_sig.write.mode("append").parquet(f"{path}/signatures")
        (banded.write.mode("append").partitionBy("band")
         .parquet(f"{path}/buckets"))

    mutate_index(spark, path, LSH_INDEX, m, delta, write)


def lsh_index_probe(spark, path: str, batch: DataFrame,
                    threshold: float = 0.8, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Near-dup pairs between a NEW batch and the persisted corpus:
    (batch_id, index_id, est_jaccard) with est >= threshold. Only the
    batch is shingled/hashed; the corpus side is the at-rest index. The
    candidate floor and the estimate are minhash_lsh_pairs' own
    (``_min_bands``, ``_agreeing_fraction``).

    Sizing contract: the batch is the DELTA (daily crawl), so the
    candidate pair set — materialized once and broadcast (as distinct
    index ids) to prune the full-corpus signature scan — is bounded by
    |batch| × collisions, not by the corpus. To compare two corpus-sized
    splits, use minhash_lsh_pairs directly instead of probing one side
    as a 'batch'."""
    m = open_index(spark, path, LSH_INDEX)
    n_hashes, bands = int(m["n_hashes"]), int(m["bands"])
    sig_b, banded_b = _lsh_sig_banded(batch, n_hashes, bands,
                                      int(m["shingle_n"]), id_col, text_col,
                                      bool(m["portable"]))
    # declared schemas (id type recorded in meta at build time): an index
    # built from an EMPTY corpus has no parquet parts to infer from (cold
    # start), but is still a valid index
    id_type = str(m["id_type"])
    idx_buckets = (spark.read.schema(f"id {id_type}, bucket long, band int")
                   .parquet(f"{path}/buckets"))
    # the candidate pair set is bounded by the batch size (small daily
    # batch), so materialize it once: it feeds both the verify join and
    # the broadcast semi-join that prunes the full-corpus signature scan
    cand = (banded_b.select(F.col("id").alias("batch_id"), "band", "bucket")
            .join(idx_buckets.select(F.col("id").alias("index_id"),
                                     "band", "bucket"),
                  ["band", "bucket"])
            .groupBy("batch_id", "index_id")
            .agg(F.count(F.lit(1)).alias("_nb"))
            .filter(F.col("_nb") >= _min_bands(n_hashes, bands, threshold))
            .drop("_nb")
            .localCheckpoint(eager=True))
    # probe-side signature pruning: at a 100 TB index the verify join must
    # not scan every signature — a broadcast semi-join on the (tiny)
    # distinct candidate index_ids filters the scan as it streams
    idx_sig = (spark.read.schema(f"id {id_type}, sig array<long>")
               .parquet(f"{path}/signatures")
               .join(F.broadcast(cand.select(F.col("index_id").alias("id"))
                                 .distinct()),
                     "id", "left_semi"))
    return (cand
            .join(sig_b.select(F.col("id").alias("batch_id"),
                               F.col("sig").alias("bsig")), "batch_id")
            .join(idx_sig.select(F.col("id").alias("index_id"),
                                 F.col("sig").alias("isig")), "index_id")
            .select("batch_id", "index_id",
                    _agreeing_fraction("bsig", "isig", n_hashes)
                    .alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= threshold))


def lsh_index_delete(spark, path: str, ids: DataFrame,
                     id_col: str = "doc_id") -> None:
    """Takedown support — the maintenance op every web-crawl corpus
    eventually needs (DMCA, robots revocation, right-to-be-forgotten):
    remove the given doc ids from the persisted index so deleted
    documents stop surfacing as probe candidates. A compact-style
    rewrite: signatures and buckets are anti-joined against the
    (typically tiny — broadcast) delete set and rewritten inside the
    ``-1`` bracket, so a delete that dies mid-rewrite leaves an index
    that loudly fails the gate instead of one half-scrubbed. Ids absent
    from the index are ignored (idempotent: re-running a takedown is a
    no-op). The id column must match the index's stored type (same gate
    as append).

    Before anything is written, the parquet footers must show
    ``bands × n_signatures == n_bucket_rows``; otherwise ``ValueError``,
    with nothing written.

    The at-rest state is read and checkpointed UNDER the writer claim
    (``indexmeta.mutate_index``): reading before the claim opens a
    lost-update window where an append that commits between the
    checkpoint and the claim is silently erased by the overwrite."""
    m = open_index(spark, path, LSH_INDEX)
    id_type = str(m["id_type"])
    n_hashes, bands = int(m["n_hashes"]), int(m["bands"])
    del_ids = ids.select(F.col(id_col).alias("id")).distinct()
    in_type = del_ids.schema["id"].dataType.simpleString()
    if in_type != id_type:
        raise ValueError(
            f"LSH index at {path} stores {id_type} ids; deleting by "
            f"{in_type} ids would silently match nothing")

    def delta():
        # surviving buckets are DERIVED from the surviving signatures
        # (optimization r13): buckets-at-rest == _lsh_band(signatures-at-
        # rest) is an invariant of every mutation (build/append write the
        # banded form of exactly what they write to signatures; this
        # rewrite preserves it), so re-banding the checkpointed survivors
        # yields the identical row set as anti-joining the at-rest
        # buckets — minus one full bucket scan, its broadcast anti-join
        # and its checkpoint job. The footers check the invariant's row
        # counts first, so a damaged index is refused, not re-derived.
        n_sig = parquet_row_count(spark, f"{path}/signatures")
        n_bucket_rows = parquet_row_count(spark, f"{path}/buckets")
        if bands * n_sig != n_bucket_rows:
            raise ValueError(
                f"LSH index at {path} holds {n_sig} signatures but "
                f"{n_bucket_rows} bucket rows, not bands × signatures; "
                "rebuild it with lsh_index_build")
        return (spark.read.schema(f"id {id_type}, sig array<long>")
                .parquet(f"{path}/signatures")
                .join(F.broadcast(del_ids), "id", "left_anti")
                .localCheckpoint(eager=True))

    def write(sig):
        sig.write.mode("overwrite").parquet(f"{path}/signatures")
        (_lsh_band(sig, n_hashes, bands).repartition(bands, "band")
         .write.mode("overwrite").partitionBy("band")
         .parquet(f"{path}/buckets"))

    mutate_index(spark, path, LSH_INDEX, m, delta, write)


def lsh_index_stats(spark, path: str) -> DataFrame:
    """Operational health of a persisted LSH index, as one row — the
    measurements behind the maintenance knobs in PLANS.md: ``n_files``
    drives compaction cadence (probe cost is file-count-bound once
    appends are frequent) and ``max_bucket``/``p99_bucket`` expose hot
    buckets (boilerplate shingles — probe-time candidate blowup; the fix
    is raising bands or pre-scrubbing boilerplate, both re-buildable
    decisions this row informs). Aggregates ride the at-rest parquet;
    nothing is re-hashed. Returns (n_docs, n_bucket_rows,
    n_distinct_buckets, max_bucket, p99_bucket, n_sig_files, n_hashes,
    bands, shingle_n)."""
    m = open_index(spark, path, LSH_INDEX)
    id_type = str(m["id_type"])
    sig = spark.read.schema(f"id {id_type}, sig array<long>") \
        .parquet(f"{path}/signatures")
    buckets = spark.read.schema(f"id {id_type}, bucket long, band int") \
        .parquet(f"{path}/buckets")
    per_bucket = (buckets.groupBy("band", "bucket")
                  .agg(F.count(F.lit(1)).alias("n")))
    # coalesce to 0: a cold-start index (built over an empty corpus) has
    # zero bucket rows, and NULL stats would poison downstream comparisons
    bstats = per_bucket.agg(
        F.count(F.lit(1)).alias("n_distinct_buckets"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_bucket_rows"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_bucket"),
        F.coalesce(F.percentile_approx("n", 0.99), F.lit(0))
        .alias("p99_bucket"))
    n_docs = sig.agg(F.count(F.lit(1)).alias("n_docs"))
    # Hadoop FS listing, not a driver-local glob: on hdfs:// or s3a://
    # paths a local glob silently reports 0 files — misleading for the
    # compaction-cadence knob this stat exists to drive
    jvm = spark._jvm
    fs_path = jvm.org.apache.hadoop.fs.Path(f"{path}/signatures")
    fs = fs_path.getFileSystem(spark._jsc.hadoopConfiguration())
    n_files = sum(
        1 for st in fs.listStatus(fs_path)
        if st.isFile() and st.getPath().getName().endswith(".parquet"))
    return (n_docs.join(F.broadcast(bstats))
            .select("n_docs", "n_bucket_rows", "n_distinct_buckets",
                    "max_bucket", "p99_bucket",
                    F.lit(n_files).alias("n_sig_files"),
                    F.lit(int(m["n_hashes"])).alias("n_hashes"),
                    F.lit(int(m["bands"])).alias("bands"),
                    F.lit(int(m["shingle_n"])).alias("shingle_n")))


def lsh_index_compact(spark, path: str,
                      target_rows_per_file: int = 4_000_000) -> None:
    """Index maintenance: appends accumulate one small file set per batch,
    and bucket-join scan cost at probe time is dominated by file count once
    deltas are frequent. Rewrite signatures and buckets with data-derived
    file counts (textio.write_compacted's rule), preserving the band
    partitioning. The at-rest state is checkpointed under the writer
    claim and rewritten inside the ``-1`` bracket
    (``indexmeta.mutate_index``), so a compaction that dies mid-flight
    leaves an index that loudly fails the gate instead of one with
    half-rewritten files."""
    import math as _math

    m = open_index(spark, path, LSH_INDEX)
    id_type = str(m["id_type"])

    def delta():
        from thewhisperdb_spark.operators import checkpoint_counted
        # the rewrite-sizing count rides the checkpoint job (r13)
        sig, n_sig = checkpoint_counted(
            spark.read.schema(f"id {id_type}, sig array<long>")
            .parquet(f"{path}/signatures"))
        buckets = (spark.read.schema(f"id {id_type}, bucket long, band int")
                   .parquet(f"{path}/buckets").localCheckpoint(eager=True))
        return sig, n_sig, buckets

    def write(d):
        sig, n_sig, buckets = d
        (sig.repartition(max(1, _math.ceil(n_sig / target_rows_per_file)))
         .write.mode("overwrite").parquet(f"{path}/signatures"))
        (buckets.repartition(int(m["bands"]), "band")
         .write.mode("overwrite").partitionBy("band")
         .parquet(f"{path}/buckets"))

    mutate_index(spark, path, LSH_INDEX, m, delta, write)

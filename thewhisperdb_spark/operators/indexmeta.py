"""The one lifecycle of every persisted index (LSH, ``operators/dedup.py``;
IVF, ``operators/vectors.py``; banded hash, ``operators/hashindex.py``).

This module owns the whole lifecycle; the index modules hold only their
own delta computations and writes:

- ``open_index`` — the read gate: reads the meta row, fills in legacy
  defaults and refuses a missing meta, an in-progress ``-1`` and a
  foreign format version with one message set;
- ``build_bracket`` — a build: stamp ``-1``, write, stamp the version;
- ``mutate_index`` — an append/delete/compact/rebalance: the
  single-writer claim protocol below around the caller's delta and
  writes;
- ``stamp_meta`` — the one meta writer under the kind's DDL.

A crash mid-mutation leaves an index that loudly fails the read gate
(``format_version -1``) instead of one that silently serves a torn state.
The claim protocol layered on top enforces the single-writer contract
WITHOUT blocking readers for the whole mutation.

v3 (code-review r8 medium): claims are SEPARATE, UNIQUELY-NAMED files
under ``<index>/claims/`` — ``claim-<time_ns>-<uuid>`` — written once and
never overwritten. A claim therefore CANNOT clobber the meta sentinel:
the v2 failure mode where a claim's re-stamp of the one-file meta lands
on top of another writer's in-progress ``-1`` (unblinding readers onto a
torn mid-append state) is structurally impossible, because claims and the
sentinel live in different objects and claim writes are create-new-only.
The winner among live claims is the NEWEST (max filename; the zero-padded
``time_ns`` prefix makes lexicographic order the claim order, with the
uuid as tie-break) — newest-wins is what keeps a crashed writer's
leftover claim file from deadlocking the index forever: the next claimant
is newer by construction and simply wins.

Mutation lifecycle (``mutate_index`` is its one implementation):

1. ``claim_sentinel``: gate on the sentinel (refuse ``-1`` — another
   writer is inside, or crashed inside, its data-write bracket), then PUT
   the claim file. Meta is untouched; probes keep serving the last
   stamped state while the writer computes its delta (anti-joins,
   signatures, cell assignment) — the long phase of every append.
2. The writer computes the delta UNDER the claim (at-rest reads resolve
   post-claim, so every committed prior mutation is observed). A failure
   here calls ``release_claim`` (delete own claim file — meta was never
   touched) and re-raises having written nothing; so does a delta with
   nothing to write (a replayed batch), which returns as a no-op.
3. ``verify_claim``: immediately before the first state write, re-read
   the sentinel (a ``-1`` means another writer got inside its bracket —
   abort) and re-list the claims (a newer claim, or our file swept by a
   finished newer writer, means we lost — abort). Losers have written
   NOTHING.
4. The writer stamps ``-1`` (in-progress) and calls ``confirm_claim`` —
   the post-invalidate recheck that closes the verify→stamp window: if a
   newer claim appeared between our verify and our ``-1`` stamp, WE abort
   and the newer writer proceeds. The loser leaves the ``-1`` in place
   (restoring a valid version could land inside the winner's own write
   bracket and unblind readers — never restore after invalidating).
5. Data writes, then the real-version stamp, then ``release_claim`` with
   ``sweep=True`` (drop our claim file and any stale older ones).

Race analysis (writers A, B; claim files a, b with a < b i.e. A first):
- A claims, B claims, A verifies → sees b newer → A aborts with nothing
  written; B proceeds alone.
- A is inside the ``-1`` bracket when B arrives: B's ``claim_sentinel``
  gate sees ``-1`` and refuses up front.
- B claims while A computes, then B completes its whole mutation (its
  sweep removes a): A's verify finds its own claim file gone → aborts.
- B claims in the window between A's verify and A's ``-1`` stamp: A's
  ``confirm_claim`` (which runs AFTER the stamp) lists claims and sees b
  — A aborts leaving the loud ``-1``; B's verify then sees the ``-1``
  and aborts too. Both lose loudly, no data was written by either, the
  operator re-stamps/rebuilds. For BOTH to proceed, A's confirm-list
  would have to predate B's claim PUT while B's verify meta-read
  predates A's ``-1`` stamp — but B's PUT precedes B's verify and A's
  stamp precedes A's list, so on a read-after-write-consistent store
  (S3/GCS/HDFS/local all are) the orders contradict: at most one writer
  ever reaches the data writes.

Residual: the guarantees are only as strong as the store's PUT/list
consistency, and a concurrent-writer collision can leave a loud ``-1``
over untouched data (operator re-runs the mutation after a rebuild).
Concurrent writers remain an OPERATOR ERROR this protocol detects and
refuses — the v3 change is that detection can no longer itself corrupt
the sentinel.
"""

from __future__ import annotations

import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field


def write_meta_row(spark, path: str, schema_ddl: str, values) -> None:
    """Write a 1-row meta/sentinel parquet on a JVM-native single
    partition (optimization r12). The previous shape —
    ``createDataFrame([row]).coalesce(1).write`` — routes the write
    through a narrow ``coalesce`` over the Python-parallelized local
    relation, and a Python-evaluated task over a narrow CoalescedRDD
    pays ~150 ms PER PARENT PARTITION in the Python boundary (measured
    at local[32]: the 1-row write took 3.8-6.2 s with 32 parents, and
    scales linearly — 9.6 s at 64; ``spark.range`` literals write the
    identical parquet in ~0.2 s). Every index mutation stamps meta
    twice, so this was the dominant cost of build/append/delete/compact
    at small scale and pure waste at any scale."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    fields = StructType.fromDDL(schema_ddl).fields
    if len(values) != len(fields):
        # a silent zip-truncation here would write a meta parquet missing
        # trailing columns — the old createDataFrame path rejected the
        # arity mismatch, so this one must too (ADVICE r12)
        raise ValueError(
            f"write_meta_row: {len(values)} values for {len(fields)} "
            f"fields ({schema_ddl})")
    cols = [F.lit(v).cast(f.dataType).alias(f.name)
            for f, v in zip(fields, values)]
    (spark.range(0, 1, 1, 1).select(*cols)
     .write.mode("overwrite").parquet(path))


class ClaimLostError(ValueError):
    """Another writer claimed the index after this writer's claim; this
    writer has written NOTHING and must not touch the sentinel."""


def _local_base(spark, path: str) -> str | None:
    """The driver-local directory ``path`` names, or None when Spark would
    read it from another filesystem. A scheme-less path resolves against
    Hadoop's ``fs.defaultFS``, so it is local only when that is ``file:``."""
    from urllib.parse import urlparse

    parsed = urlparse(path)
    if parsed.scheme:
        return parsed.path if parsed.scheme == "file" else None
    default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS")
    return path if urlparse(default_fs or "file:///").scheme == "file" else None


def read_meta_rows(spark, meta_dir: str) -> list[dict]:
    """All rows of a (1-row) meta/sentinel parquet directory, as dicts.

    Local paths (file:, or no scheme under a file: ``fs.defaultFS``) are
    read DRIVER-SIDE via pyarrow — no Spark job (optimization r13): the
    claim protocol re-reads the
    sentinel up to four times per mutation and the probes/appends read it
    once more each, and every ``spark.read...collect()`` of a 1-row file
    costs a whole ~100ms scheduled job; at 100 TB the meta is still one
    row, so a driver-local read is the right shape at every scale.
    Non-local schemes (hdfs://, s3a://) and ANY pyarrow failure fall back
    to the Spark reader, so error behavior (AnalysisException for a
    missing dir, the real cause for corruption) is exactly the old one.
    """
    import glob as _glob

    base = _local_base(spark, meta_dir)
    if base is not None:
        parts = sorted(_glob.glob(os.path.join(base, "*.parquet")))
        if parts:
            try:
                import pyarrow.parquet as pq
                rows: list[dict] = []
                for p in parts:
                    rows.extend(pq.read_table(p).to_pylist())
                return rows
            except Exception:
                pass  # unreadable -> Spark raises the canonical error
    return [r.asDict() for r in spark.read.parquet(meta_dir).collect()]


def parquet_row_count(spark, path: str) -> int:
    """Exact row count of a parquet directory from file FOOTERS — for
    metadata-scale sizing decisions (IVF centroid counts) and the LSH
    index's at-rest consistency check. Parts directly under ``path`` and
    under one level of hive partition directories (``band=3/``) count.
    Local paths read the footers driver-side via pyarrow (no Spark job,
    no data read — parquet footers carry exact row counts); non-local
    schemes and any pyarrow failure fall back to a Spark count. A
    directory without parts, as an empty partitioned write leaves, holds
    0 rows; a missing one raises AnalysisException via the Spark path."""
    import glob as _glob

    base = _local_base(spark, path)
    if base is not None:
        parts = [f for pat in ("*.parquet", "*=*/*.parquet")
                 for f in _glob.glob(os.path.join(base, pat))]
        if parts:
            try:
                import pyarrow.parquet as pq
                return sum(pq.ParquetFile(p).metadata.num_rows
                           for p in parts)
            except Exception:
                pass  # unreadable -> Spark raises the canonical error
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path).count()
    except AnalysisException as e:
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        return 0  # the directory exists but holds no parts


def _read_version(spark, meta_dir: str):
    """format_version of the current sentinel (None for an empty meta)."""
    try:
        rows = read_meta_rows(spark, meta_dir)
        if not rows:
            return None
        return rows[0].get("format_version")
    except Exception as e:  # torn meta from physically interleaved stamps
        raise ValueError(
            f"index meta at {meta_dir} is unreadable under a writer claim "
            "— a concurrent writer interleaved with this one; re-stamp via "
            "a rebuild and serialize writers (single-writer contract)"
        ) from e


def claims_dir_for(meta_dir: str) -> str:
    """``<index>/claims`` as a sibling of ``<index>/meta`` — works on any
    Hadoop-FS URI (local, hdfs://, s3a://)."""
    base = meta_dir.rstrip("/")
    return base.rsplit("/", 1)[0] + "/claims"


def _fs_path(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _list_claims(spark, meta_dir: str) -> list[str]:
    fs, p = _fs_path(spark, claims_dir_for(meta_dir))
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().getName() for st in fs.listStatus(p)
        if st.isFile() and st.getPath().getName().startswith("claim-"))


def _delete_claim(spark, meta_dir: str, token: str) -> None:
    try:
        fs, p = _fs_path(spark, f"{claims_dir_for(meta_dir)}/{token}")
        fs.delete(p, False)
    except Exception:
        pass  # best-effort: a leftover file loses to any newer claim


def claim_sentinel(spark, meta_dir: str) -> str:
    """Claim the index for this writer: PUT a uniquely-named claim file
    under ``<index>/claims/``. The sentinel is NOT written — readers
    gating on ``format_version`` keep serving the last stamped state.
    Returns the token (the claim's filename; pass it to ``verify_claim``
    / ``confirm_claim`` / ``release_claim``).

    Refuses (``ValueError``) when the sentinel reads ``-1``: another
    writer is inside (or crashed inside) its data-write bracket, and a
    mutation layered on top could commit a delta computed over partial
    data. Fails fast (``ClaimLostError``) if a strictly newer claim is
    already visible — this writer would lose its verify anyway, so it
    loses here, before the expensive delta compute, having written
    nothing but its own (now deleted) claim file."""
    if _read_version(spark, meta_dir) == -1:
        raise ValueError(
            f"index at {meta_dir} is inside another writer's data-write "
            "bracket (format_version -1): claiming over it would risk "
            "committing a delta computed over a torn state; wait for the "
            "writer or rebuild if it crashed")
    token = f"claim-{time.time_ns():020d}-{uuid.uuid4().hex}"
    fs, p = _fs_path(spark, f"{claims_dir_for(meta_dir)}/{token}")
    out = fs.create(p, False)  # create-new: never overwrites anything
    try:
        out.write(bytearray(token.encode("ascii")))
    finally:
        out.close()
    if max(_list_claims(spark, meta_dir), default=token) != token:
        _delete_claim(spark, meta_dir, token)
        raise ClaimLostError(
            f"index at {meta_dir} was claimed by another writer "
            "(single-writer contract): this mutation wrote nothing; retry "
            "after the other writer finishes, or serialize appends "
            "through one scheduler")
    return token


def verify_claim(spark, meta_dir: str, token: str) -> None:
    """Re-verify ownership immediately before invalidating the sentinel:
    the delta-computation window ran with the version gate OPEN (readers
    served), so a second writer could have claimed — or even completed a
    whole mutation (its sweep removes older claim files) — in the
    meantime, and a writer that slipped inside its ``-1`` bracket must
    not be overwritten. Raises ``ClaimLostError`` (after dropping this
    writer's claim file) if the sentinel reads ``-1`` or the token is no
    longer the newest live claim; nothing has been written."""
    if _read_version(spark, meta_dir) == -1:
        _delete_claim(spark, meta_dir, token)
        raise ClaimLostError(
            f"index at {meta_dir} entered another writer's data-write "
            "bracket (format_version -1) while this mutation computed its "
            "delta: this mutation wrote nothing; retry after the other "
            "writer finishes")
    live = _list_claims(spark, meta_dir)
    if token not in live or max(live) != token:
        _delete_claim(spark, meta_dir, token)
        raise ClaimLostError(
            f"index at {meta_dir} was claimed by another writer while "
            "this mutation computed its delta (single-writer contract): "
            "this mutation wrote nothing; retry after the other writer "
            "finishes")


def confirm_claim(spark, meta_dir: str, token: str) -> None:
    """The post-invalidate recheck — call immediately AFTER stamping
    ``-1`` and before the first data write. Closes the verify→stamp
    window: a claimant that arrived between this writer's verify and its
    ``-1`` stamp is newer and wins; THIS writer aborts having written no
    data, deliberately leaving the ``-1`` in place (restoring a valid
    version could land inside the winner's own bracket and unblind
    readers onto its mid-write state — never un-invalidate a sentinel
    another writer may own)."""
    live = _list_claims(spark, meta_dir)
    if token not in live or max(live) != token:
        _delete_claim(spark, meta_dir, token)
        raise ClaimLostError(
            f"index at {meta_dir} was claimed by another writer between "
            "this mutation's verify and its in-progress stamp: no data "
            "was written; the sentinel is left in-progress (-1) — if the "
            "competing writer also aborted, re-stamp via a rebuild")


def release_claim(spark, meta_dir: str, token: str,
                  sweep: bool = False) -> None:
    """Drop this writer's claim file — on the failure path (meta was
    never touched, so deleting the file is the whole release) and, with
    ``sweep=True``, on the success path after the final version stamp,
    where older leftover claim files (crashed writers this one outlived)
    are dropped too: every one of them is strictly older and has already
    lost to this claim. Best-effort throughout — a leftover file cannot
    block anything under newest-wins."""
    if sweep:
        for name in _list_claims(spark, meta_dir):
            if name <= token:
                _delete_claim(spark, meta_dir, name)
    else:
        _delete_claim(spark, meta_dir, token)


@dataclass(frozen=True)
class IndexKind:
    """One persisted-index family: the name its errors use, the format
    version this build reads and writes, the meta row's DDL (first column
    ``format_version``), the function that rebuilds it, and the values
    that metas written before a column existed read as."""
    name: str
    version: int
    ddl: str
    builder: str
    legacy: dict = field(default_factory=dict)


def open_index(spark, path: str, kind: IndexKind) -> dict:
    """The read gate of every probe, stats call and mutation: the meta
    row of the index at ``path`` as a dict, legacy columns filled in.
    Raises ``ValueError`` for a missing meta, an in-progress ``-1``
    (a writer is inside, or died inside, its data-write bracket) and a
    format version other than ``kind.version``. Only a MISSING meta is
    translated — IO/permission/corruption errors propagate with their
    real cause."""
    from pyspark.errors import AnalysisException

    try:
        rows = read_meta_rows(spark, f"{path}/meta")
    except AnalysisException as e:
        raise ValueError(
            f"{kind.name} index at {path} has no meta marker — not an "
            "index, built before format versioning, or an interrupted "
            f"build removed it; rebuild with {kind.builder}") from e
    m = dict(rows[0]) if rows else {}
    ver = int(m.get("format_version") or 0)
    if ver == -1:
        raise ValueError(
            f"{kind.name} index at {path} is marked in-progress/interrupted "
            "(format_version -1): a writer died inside its data-write "
            f"bracket, or is still in it; rebuild with {kind.builder}")
    if ver != kind.version:
        raise ValueError(
            f"{kind.name} index at {path} is format v{ver}, this build "
            f"reads v{kind.version}; rebuild with {kind.builder}")
    for col, default in kind.legacy.items():
        if m.get(col) is None:
            m[col] = default
    return m


def stamp_meta(spark, path: str, kind: IndexKind, meta: dict,
               version: int) -> None:
    """Write ``meta`` (as ``open_index`` returns it, or a build's fresh
    parameters) as the meta row of the index at ``path`` under
    ``kind.ddl``, with ``format_version`` = ``version``."""
    from pyspark.sql.types import StructType

    names = StructType.fromDDL(kind.ddl).fieldNames()
    write_meta_row(spark, f"{path}/meta", kind.ddl,
                   [version if n == "format_version" else meta.get(n)
                    for n in names])


@contextmanager
def build_bracket(spark, path: str, kind: IndexKind, meta: dict):
    """A (re)build: meta is stamped ``-1`` before the body's writes and
    the version after them, so a build that dies anywhere in between —
    over an existing index too — leaves one that loudly fails the gate
    instead of one serving mixed-generation data."""
    stamp_meta(spark, path, kind, meta, -1)
    yield
    stamp_meta(spark, path, kind, meta, kind.version)


def mutate_index(spark, path: str, kind: IndexKind, meta: dict,
                 delta, write) -> None:
    """One mutation of the index at ``path`` (``meta`` from
    ``open_index``) under the claim protocol above: claim, ``delta()``
    under the claim (``None`` = nothing to write: the claim is released
    and the call is a no-op; an exception releases it and re-raises),
    verify, stamp ``-1``, confirm, ``write(delta)``, stamp the version,
    sweep the claims."""
    meta_dir = f"{path}/meta"
    token = claim_sentinel(spark, meta_dir)
    try:
        d = delta()
    except Exception:
        release_claim(spark, meta_dir, token)    # nothing written
        raise
    if d is None:
        release_claim(spark, meta_dir, token)
        return
    verify_claim(spark, meta_dir, token)
    stamp_meta(spark, path, kind, meta, -1)
    confirm_claim(spark, meta_dir, token)
    write(d)
    stamp_meta(spark, path, kind, meta, kind.version)
    release_claim(spark, meta_dir, token, sweep=True)

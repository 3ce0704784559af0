"""Snapshot-transform CRUD engine (SURVEY §2.8 M1-M6, §2.1 S1-S4).

The reference mutates an in-memory node map and rewrites the whole JSON file
on every mutation (``src/core/GraphDB.cpp:326-374``, called from
``:188,388,412,429,446,473,496,505``). DataFrames are immutable, so every
mutation here is a snapshot transformation — read state, produce the next
state — which is exactly the reference's persistence model, minus the
O(DB-size) synchronous rewrite per write: persistence is an explicit
``save()`` of columnar Parquet, partitionable at scale.

Single-writer semantics throughout (the reference is a single-threaded server,
``src/server/wserver.cpp:112-293``): id generation is ``max(id)+1``
(``src/core/GraphDB.cpp:485-491``), NOT ``monotonically_increasing_id`` —
contiguity is part of the observable contract. The engine keeps the highest
id itself, so a create runs no Spark job once it is known.

Deltas, single-row writes, links and lookups are built as SQL text with
values from ``schemas.sql_literal``: a write costs a few JVM calls, not one
or more per column and vector element.
"""

from __future__ import annotations

import math
import os
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StructField,
    StructType,
)

from thewhisperdb_spark.operators.filters import exists, point_lookup
from thewhisperdb_spark.operators.graph import links_view
from thewhisperdb_spark.schemas import (
    NODE_FILES_SCHEMA,
    NODE_SCHEMA,
    REQUIRED_NODE_FIELDS,
    TAG_BANK_SCHEMA,
    _fits,
    sql_literal,
    sql_name,
)

# state tables in constructor order, with the schema JSON is read under
_TABLES = {"nodes": NODE_SCHEMA, "node_files": NODE_FILES_SCHEMA,
           "tag_bank": TAG_BANK_SCHEMA}
_ID_SCHEMA = StructType([StructField("id", LongType(), False)])
_NODE_TYPES = {f.name: f.dataType for f in NODE_SCHEMA.fields}


def _read_table(spark: SparkSession, path: str, table: str,
                fmt: str) -> DataFrame:
    """One state table of a snapshot directory: parquet is self-describing,
    JSON is read under the declared schema (no inference)."""
    if fmt == "json":
        return spark.read.schema(_TABLES[table]).json(os.path.join(path, table))
    return spark.read.parquet(os.path.join(path, table))


def _literal_rows(spark: SparkSession, schema: StructType,
                  rows: list[tuple]) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order) as a one-partition JVM
    literal relation cast to ``schema``: one ``sql_literal`` array of
    structs, inlined. ``spark.createDataFrame(list)`` would leave a
    Python-RDD leaf in every later plan over the table, so each scan of it
    would start Python workers; a literal over ``spark.range`` is planned
    and read in the JVM alone."""
    names = schema.fieldNames()
    values = [dict(zip(names, row)) for row in rows]
    return spark.range(1, numPartitions=1).selectExpr(
        f"inline({sql_literal(values, ArrayType(schema))})")


def _valid_course(v: Any) -> int | None:
    """int, or string parseable as int, inside the int32 course column;
    else None (skip; ingest stores 0). ``GNode.cpp:156-168``."""
    if isinstance(v, bool):
        return None
    if isinstance(v, str):
        try:
            v = int(v)
        except ValueError:
            return None
    return v if isinstance(v, int) and _fits(v, 32) else None


def _long(x: Any) -> int:
    """int(x) inside the int64 id range, else OverflowError."""
    v = int(x)
    if not _fits(v, 64):
        raise OverflowError(f"{v} is outside int64")
    return v


# the smallest magnitude the float32 cast rounds to inf
_FLOAT32_OVERFLOW = 2.0 ** 128 - 2.0 ** 103


def _float32(x: Any) -> float:
    """float(x) as a finite value inside float32 (the embedding column),
    else ValueError. Python floats reach 1e308, which the float32 cast
    turns into inf, and an inf/NaN element makes every cosine against
    the vector NaN — not valid JSON."""
    v = float(x)
    if not math.isfinite(v) or abs(v) >= _FLOAT32_OVERFLOW:
        raise ValueError(f"{v} does not fit a finite float32")
    return v


def _valid_tags(v: Any) -> list[str] | None:
    """array of strings, or CSV string -> trimmed non-empty list
    (``src/core/GNode.cpp:32-48,170-180``)."""
    if isinstance(v, str):
        parts = [t.strip() for t in v.split(",")]
        return [t for t in parts if t]
    if isinstance(v, list) and all(isinstance(t, str) for t in v):
        return [t.strip() for t in v if t.strip()]
    return None


def _valid_str(v: Any) -> str | None:
    return v if isinstance(v, str) else None


def _list_of(cast):
    """Validator for an array field: a list whose every element passes
    ``cast``, converted; anything else is None (skip)."""
    def valid(v: Any) -> list | None:
        if not isinstance(v, list):
            return None
        try:
            return [cast(x) for x in v]
        except (TypeError, ValueError, OverflowError):
            return None
    return valid


# Partial-update rules (``src/core/GNode.cpp:148-205``): a patch field is
# applied only when present AND type-valid; a validator returning None skips
# the field, it is not an error. ``id`` has no rule, so it is never patched.
_PATCH_RULES = {
    **{f: _valid_str for f in ("title", "author", "subject", "description",
                               "date", "storage_path")},
    "course": _valid_course,
    "tags": _valid_tags,
    "linked_nodes": _list_of(_long),
    "embedding": _list_of(_float32),
}


class GraphEngine:
    """State tables as DataFrames + snapshot-transform mutations.

    ``nodes`` carries ``linked_nodes`` (adjacency embedded per row, like the
    reference's ``LinkedNodes``); ``edges()`` derives the normalized view.

    The engine owns the highest live id (``_max_id``, None when unknown):
    ``checkpoint`` reads it on its own job, creates advance it, and an
    assignment to ``nodes`` from outside the engine's single-row writers,
    or a delete of the highest id, drops it, so ``next_id`` aggregates
    again only then.
    """

    def __init__(self, spark: SparkSession, nodes: DataFrame | None = None,
                 node_files: DataFrame | None = None,
                 tag_bank: DataFrame | None = None):
        self.spark = spark
        self.nodes = nodes if nodes is not None else \
            _literal_rows(spark, NODE_SCHEMA, [])
        self.node_files = node_files if node_files is not None else \
            _literal_rows(spark, NODE_FILES_SCHEMA, [])
        self.tag_bank = tag_bank if tag_bank is not None else \
            _literal_rows(spark, TAG_BANK_SCHEMA, [])

    @property
    def nodes(self) -> DataFrame:
        return self._nodes

    @nodes.setter
    def nodes(self, df: DataFrame) -> None:
        """A new node table may hold any ids: the known maximum is dropped."""
        self._nodes, self._max_id = df, None

    # ---- S1-S3 persistence -------------------------------------------------

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "GraphEngine":
        """S1 with the corrupt-fallback semantics of ``GraphDB.cpp:247-301``:
        an unreadable/absent table -> that table starts empty."""
        def read(t: str) -> DataFrame | None:
            try:
                return _read_table(spark, path, t, "parquet")
            except Exception:
                return None

        return cls(spark, *map(read, _TABLES))

    def _write_tables(self, path: str, fmt: str, mode: str) -> None:
        """Write every state table under ``path``, nodes ordered by id."""
        for t, df in (("nodes", self.nodes.orderBy("id")),
                      ("node_files", self.node_files),
                      ("tag_bank", self.tag_bank)):
            df.write.mode(mode).format(fmt).save(os.path.join(path, t))

    def _open(self, path: str, fmt: str) -> None:
        """Re-point the in-memory state at the snapshot just written, so no
        lineage references the files a save replaced."""
        self.nodes, self.node_files, self.tag_bank = (
            _read_table(self.spark, path, t, fmt) for t in _TABLES)

    def _save_atomic(self, path: str, fmt: str) -> None:
        """Write-temp-then-rename snapshot save.

        A direct ``mode("overwrite")`` to the load path is a data-loss bug:
        DataFrames are lazy, so the overwrite deletes the very parquet files
        the un-materialized state still needs mid-write — the reference's
        rewrite-in-place persistence (``GraphDB.cpp:326-374``) must therefore
        be temp-dir + rename here. Each table is written to a hidden temp
        sibling first (reading the OLD files while they still exist), then
        swapped into place, then the in-memory state is re-pointed at the
        fresh snapshot so no lineage references the replaced files."""
        import shutil
        import uuid as _uuid

        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, f".tmp-{_uuid.uuid4().hex[:8]}")
        try:
            self._write_tables(tmp, fmt, "overwrite")
            for t in _TABLES:
                final = os.path.join(path, t)
                old = final + ".old"
                shutil.rmtree(old, ignore_errors=True)
                if os.path.exists(final):
                    os.rename(final, old)
                os.rename(os.path.join(tmp, t), final)
                shutil.rmtree(old, ignore_errors=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        self._open(path, fmt)

    def save(self, path: str) -> None:
        """S2: snapshot write, nodes ordered by id (``GraphDB.cpp:326-374``).
        Parquet per table; at scale, partition ``nodes`` by a stable key and
        let writers emit one file per partition. Safe to call with the same
        path the engine loaded from (temp-write + rename, see _save_atomic)."""
        self._save_atomic(path, "parquet")

    def save_json(self, path: str) -> None:
        """S2, JSON-faithful variant: the reference persists one JSON document
        per database (``GraphDB.cpp:326-374``); here each table is a JSON
        *directory* (one file per partition at scale), nodes id-ordered.
        Same-path-safe (see _save_atomic)."""
        self._save_atomic(path, "json")

    @classmethod
    def load_json(cls, spark: SparkSession, path: str) -> "GraphEngine":
        """S1 JSON load with declared schemas (no inference — the lenient
        coercions happen at ingest, not at rest) and the corrupt-fallback;
        ``first()`` forces each table's read errors here."""
        def read(t: str) -> DataFrame | None:
            try:
                df = _read_table(spark, path, t, "json")
                df.first()
                return df
            except Exception:
                return None

        return cls(spark, *map(read, _TABLES))

    def serialize(self) -> list[str]:
        """S4 ``serialize`` (``GraphDB.cpp:232-245``): JSON rows ordered by id.
        Driver-side collect by design — this is the API-response path."""
        return self.nodes.orderBy("id").toJSON().collect()

    # ---- reads -------------------------------------------------------------

    def find(self, node_id: int) -> dict:
        """F7 PK lookup; raises KeyError if missing (``GraphDB.cpp:30-38``)."""
        rows = point_lookup(self.nodes, node_id).limit(1).collect()
        if not rows:
            raise KeyError(node_id)
        return rows[0].asDict()

    def exists(self, node_id: int) -> bool:
        """F8 (``GraphDB.cpp:40-43``): one CollectLimit probe."""
        return exists(self.nodes, node_id)

    def count(self) -> int:
        """A1 (``GraphDB.cpp:195-197``)."""
        return self.nodes.count()

    def files_of(self, node_id: int) -> list[str] | None:
        """The node's file paths in insertion order, or None when the node
        does not exist: one job, a union scan of ``nodes`` (the existence
        probe) and ``node_files``."""
        probe = point_lookup(self.nodes, node_id).selectExpr(
            "true AS node", "CAST(NULL AS STRING) AS file_path")
        files = point_lookup(self.node_files, node_id, "node_id").selectExpr(
            "false AS node", "file_path")
        rows = probe.union(files).collect()
        if not any(r["node"] for r in rows):
            return None
        return [r["file_path"] for r in rows if not r["node"]]

    def next_id(self) -> int:
        """M1 id generation: ``max(id) + 1`` over the live nodes,
        single-writer. The maximum is the engine's own (see the class
        docstring); when unknown it is one scalar aggregate, kept for the
        next call. Ids in a gap (a deleted node below the current maximum)
        are never handed out again, but deleting the node that holds the
        highest id frees that id: the next create gets it back. The
        reference (``GraphDB.cpp:485-491``) differs the other way: its
        static counter restarts at 1 per process and re-fills every gap
        after a restart. Callers that keep ids in external references must
        not delete the newest node and expect its id to stay retired."""
        if self._max_id is None:
            row = self.nodes.selectExpr("max(id) AS m").collect()[0]
            self._max_id = int(row["m"] or 0)
        return self._max_id + 1

    # ---- M1/M6 ingest ------------------------------------------------------

    def ingest_node(self, meta: dict[str, Any],
                    files: list[tuple[str, bytes]] | None = None,
                    storage_root: str | None = None) -> int:
        """M6 upload pipeline (``src/server/UploadHandler.cpp:14-81``):
        validate required fields -> coerce -> default date -> M1 add -> M4
        per file. Returns the new node id; raises ValueError on validation
        failure (the 400 path, ``UploadHandler.cpp:83-155``)."""
        for fld in REQUIRED_NODE_FIELDS:
            v = meta.get(fld)
            if not isinstance(v, str) or not v.strip():
                raise ValueError(f"missing or empty required field: {fld}")
        course = _valid_course(meta.get("course", 0))
        tags = _valid_tags(meta.get("tags", []))
        date = meta.get("date")
        if not isinstance(date, str) or not date:
            import datetime as _dt

            date = _dt.datetime.now().strftime("%Y-%m-%d %H:%M:%S")
        new_id = self.next_id()
        # a node created here has no files yet: the first upload becomes its
        # storage_path (M4) in the new row itself, with no has-files probe
        paths = self._store_files(new_id, files or [], storage_root)
        description = meta.get("description", "")
        row = (new_id, meta["title"], meta["author"], meta["subject"],
               course if course is not None else 0,
               description if isinstance(description, str) else "",
               date, tags if tags is not None else [],
               paths[0] if paths else None, [], None)
        self._nodes = self.nodes.unionByName(
            _literal_rows(self.spark, NODE_SCHEMA, [row]))
        self._max_id = new_id
        return new_id

    # ---- M2 partial update -------------------------------------------------

    def update_node(self, node_id: int, patch: dict[str, Any]) -> None:
        """M2: patch only present-and-type-valid fields (``_PATCH_RULES``);
        id immutable (``src/main.cpp:275``). An empty embedding is stored as
        no embedding. Raises KeyError if absent."""
        if not self.exists(node_id):
            raise KeyError(node_id)
        values = {}
        for fld, valid in _PATCH_RULES.items():
            v = valid(patch[fld]) if fld in patch else None
            if v is not None:
                values[fld] = v
        if values.get("embedding") == []:
            values["embedding"] = None
        self.set_fields(node_id, values)

    def set_fields(self, node_id: int, values: dict[str, Any]) -> None:
        """Write already-validated ``values`` (column -> Python value, None
        for NULL) into the row ``node_id``: one ``selectExpr`` over every
        column, so a write adds one Project to the plan whatever its field
        count. The single-row write path of every handler."""
        if not values:
            return
        hit = f"id = {sql_literal(node_id, LongType())}"
        self._nodes = self.nodes.selectExpr(*[
            f"CASE WHEN {hit} THEN {sql_literal(values[c], _NODE_TYPES[c])} "
            f"ELSE {sql_name(c)} END AS {sql_name(c)}" if c in values
            else sql_name(c) for c in self.nodes.columns])

    def link(self, node_id: int, partners: list[int]) -> None:
        """Merge-link ``node_id`` with ``partners`` on both sides,
        append-if-absent (``TagService.cpp:107-151``): the node's
        ``linked_nodes`` gains every partner, each partner's gains the
        node."""
        if not partners:
            return
        ids = ArrayType(LongType())
        links = "coalesce(linked_nodes, CAST(array() AS array<bigint>))"
        self._nodes = self.nodes.withColumn("linked_nodes", F.expr(
            f"CASE WHEN id = {sql_literal(node_id, LongType())} "
            f"THEN array_union({links}, {sql_literal(partners, ids)}) "
            f"WHEN array_contains({sql_literal(partners, ids)}, id) "
            f"THEN array_union({links}, {sql_literal([node_id], ids)}) "
            "ELSE linked_nodes END"))

    def merge_nodes(self, updates, delete_ids=None) -> None:
        """Batch MERGE INTO: one full-outer join on id — matched rows are
        replaced by the update row, unmatched update rows are inserted,
        untouched rows pass through; ids listed in ``delete_ids`` (an
        iterable or a 1-column DataFrame) are removed — the WHEN MATCHED
        THEN DELETE clause. This is the set-oriented form of M1/M2/M3: where
        the reference pays a whole-DB rewrite PER mutation
        (``src/core/GraphDB.cpp:388,412``) and ``update_node`` patches one
        row per call, a 10M-row delta costs ONE shuffle join (plus an
        anti-join for deletes) and one snapshot write. ``updates`` must
        carry the full node schema."""
        up = updates.select(*[F.col(f.name).cast(f.dataType)
                              for f in NODE_SCHEMA.fields])
        # Real MERGE INTO rejects multiple matches per target row; a
        # duplicate id in `updates` would otherwise fan out through the
        # full-outer join. Resolve deterministically: keep the greatest
        # tuple per id (stable regardless of partitioning).
        # Scalar fields first, then a stable digest over the array/map
        # columns as the final tiebreak — without it two updates differing
        # only in tags/linked_nodes/embedding would resolve
        # partition-dependently (ADVICE r3).
        wdup = Window.partitionBy("id").orderBy(
            *[F.col(f.name).desc_nulls_last() for f in NODE_SCHEMA.fields
              if f.name != "id" and not isinstance(
                  f.dataType, (ArrayType, MapType))],
            F.md5(F.to_json(F.struct(*[
                f.name for f in NODE_SCHEMA.fields
                if isinstance(f.dataType, (ArrayType, MapType))
            ]))).desc_nulls_last())
        up = (up.withColumn("_rn", F.row_number().over(wdup))
              .filter(F.col("_rn") == 1).drop("_rn"))
        o = self.nodes.alias("o")
        u = up.withColumn("_is_up", F.lit(True)).alias("u")
        joined = o.join(u, F.col("o.id") == F.col("u.id"), "full_outer")
        merged = joined.select(*[
            F.when(F.col("u._is_up").isNotNull(), F.col(f"u.{c}"))
            .otherwise(F.col(f"o.{c}")).alias(c)
            for c in [f.name for f in NODE_SCHEMA.fields]])
        if delete_ids is not None:
            if isinstance(delete_ids, DataFrame):
                dels = delete_ids.select(
                    F.col(delete_ids.columns[0]).cast("long").alias("id"))
            else:
                dels = _literal_rows(self.spark, _ID_SCHEMA,
                                     [(int(i),) for i in delete_ids])
            merged = merged.join(dels, "id", "left_anti")
        self.nodes = merged

    # ---- M3 delete ---------------------------------------------------------

    def delete_node(self, node_id: int, storage_root: str | None = None) -> None:
        """M3: remove node + cascade its files (``GraphDB.cpp:392-414``).
        One job: ``files_of`` decides the 404 and lists the files."""
        files = self.files_of(node_id)
        if files is None:
            raise KeyError(node_id)
        if storage_root:
            from thewhisperdb_spark.storage import delete_file

            for p in files:
                delete_file(storage_root, p)
        nid = sql_literal(node_id, LongType())
        self._nodes = self.nodes.filter(f"id != {nid}")
        if node_id == self._max_id:
            self._max_id = None
        self.node_files = self.node_files.filter(f"node_id != {nid}")

    # ---- M4/M5 file attachment --------------------------------------------

    def add_file(self, node_id: int, orig_name: str, content: bytes,
                 storage_root: str | None = None) -> str:
        """M4 (``GraphDB.cpp:416-448``) for one file; see ``add_files``."""
        return self.add_files(node_id, [(orig_name, content)], storage_root)[0]

    def add_files(self, node_id: int, files: list[tuple[str, bytes]],
                  storage_root: str | None = None) -> list[str]:
        """M4 (``GraphDB.cpp:416-448``): save each file's bytes (S5), append
        their path rows in order, and let the first file of a node that had
        none set its ``storage_path``. Raises KeyError if the node is absent.
        Returns the stored paths. One job: ``files_of``."""
        had_files = self.files_of(node_id)
        if had_files is None:
            raise KeyError(node_id)
        paths = self._store_files(node_id, files, storage_root)
        if paths and not had_files:
            self.set_fields(node_id, {"storage_path": paths[0]})
        return paths

    def _store_files(self, node_id: int, files: list[tuple[str, bytes]],
                     storage_root: str | None) -> list[str]:
        """Save the files (S5) and append their ``node_files`` rows as one
        literal delta; ``nodes`` is left to the caller."""
        from thewhisperdb_spark.storage import save_file

        paths = [save_file(storage_root, name, content) if storage_root
                 else name for name, content in files]
        if paths:
            self.node_files = self.node_files.unionByName(_literal_rows(
                self.spark, NODE_FILES_SCHEMA, [(node_id, p) for p in paths]))
        return paths

    def remove_file(self, node_id: int, rel_path: str,
                    storage_root: str | None = None) -> None:
        """M5 (``GraphDB.cpp:450-475``): drop path row (+disk). Matching the
        reference exactly: ``storage_path`` is cleared only when the LAST
        file goes (``GraphDB.cpp:468-471``) — removing a non-current file
        leaves ``storage_path`` untouched, even if it pointed at the removed
        file (the reference never re-points it)."""
        if storage_root:
            from thewhisperdb_spark.storage import delete_file

            delete_file(storage_root, rel_path)
        self.node_files = self.node_files.filter(
            f"NOT (node_id = {sql_literal(node_id, LongType())} "
            f"AND file_path = {sql_literal(rel_path)})")
        if not exists(self.node_files, node_id, id_col="node_id"):
            self.set_fields(node_id, {"storage_path": None})

    # ---- edges / tag bank --------------------------------------------------

    def edges(self) -> DataFrame:
        """Normalized undirected edge view of ``linked_nodes``."""
        return links_view(self.nodes)

    def add_tags_to_bank(self, tags: list[str]) -> None:
        """A8 (``GraphDB.cpp:499-506``)."""
        from thewhisperdb_spark.operators.tags import tag_bank_union

        new = _literal_rows(self.spark, TAG_BANK_SCHEMA, [(t,) for t in tags])
        self.tag_bank = tag_bank_union(self.tag_bank, new)

    def checkpoint(self) -> None:
        """Cut lineage after a mutation burst: long withColumn/union chains
        grow the logical plan; localCheckpoint keeps planning O(1) per op.
        ALL state tables are checkpointed — tag_bank included, so a
        checkpointed engine can save back to its own load path. The highest
        id is observed on the nodes checkpoint's own job."""
        obs = Observation()
        self._nodes = (self.nodes.observe(obs, F.expr("max(id)").alias("m"))
                       .localCheckpoint(eager=True))
        self._max_id = int(obs.get["m"] or 0)
        self.node_files = self.node_files.localCheckpoint(eager=True)
        self.tag_bank = self.tag_bank.localCheckpoint(eager=True)

    # ---- versioned snapshots (time travel) ---------------------------------
    # Lakehouse-style versioning over the reference's whole-DB-rewrite model
    # (src/core/GraphDB.cpp:326-374). Each save appends an immutable v=<n>
    # directory (never touching the files the lazy in-memory state still
    # reads — append-only needs no temp-and-rename dance), then swings the
    # _LATEST pointer atomically (write-temp + os.replace). Readers of any
    # pinned version are isolated from concurrent saves; pruning is an
    # explicit, pointer-respecting GC (prune_versions).

    def save_version(self, path: str) -> int:
        vs = _version_dirs(path)
        n = (vs[-1] + 1) if vs else 1
        vdir = os.path.join(path, f"v={n}")
        self._write_tables(vdir, "parquet", "errorifexists")
        tmp = os.path.join(path, f"._LATEST.{n}")
        with open(tmp, "w") as f:
            f.write(str(n))
        os.replace(tmp, os.path.join(path, "_LATEST"))
        self._open(vdir, "parquet")
        return n

    @classmethod
    def load_version(cls, spark: SparkSession, path: str,
                     version: int | None = None) -> "GraphEngine":
        """Open a snapshot: ``version=None`` resolves the ``_LATEST`` pointer
        (falling back to the highest directory if the pointer is missing);
        a pinned int time-travels to that exact state."""
        if version is None:
            version = _read_latest_pointer(path)
        if version is None:
            vs = _version_dirs(path)
            version = vs[-1] if vs else None
        if version is None:
            return cls(spark)  # no snapshots yet -> empty DB (S3 semantics)
        vdir = os.path.join(path, f"v={version}")
        # A pinned (or pointer-resolved) version must exist: silently
        # returning an empty DB for a pruned/mistyped version would make a
        # time-travel read lie. The empty-DB fallback above is reserved for
        # version=None with no snapshots at all.
        if not os.path.isdir(vdir):
            raise FileNotFoundError(
                f"snapshot version {version} not found under {path}")
        # a table absent from the snapshot starts empty; a corrupt one
        # raises, since swallowing it would silently drop data from the read
        return cls(spark, *[
            _read_table(spark, vdir, t, "parquet")
            if os.path.exists(os.path.join(vdir, t)) else None
            for t in _TABLES])


# ---- versioned snapshots (time travel) -------------------------------------

def _version_dirs(path: str) -> list[int]:
    try:
        return sorted(int(d.split("=", 1)[1]) for d in os.listdir(path)
                      if d.startswith("v=") and d.split("=", 1)[1].isdigit())
    except FileNotFoundError:
        return []


def list_versions(path: str) -> list[int]:
    """All snapshot versions present under ``path``, ascending."""
    return _version_dirs(path)


def prune_versions(path: str, keep: int = 3) -> list[int]:
    """Drop all but the newest ``keep`` versions; returns the pruned ids.
    Never touches the version the ``_LATEST`` pointer names."""
    import shutil

    vs = _version_dirs(path)
    latest = _read_latest_pointer(path)
    drop = [v for v in vs[:-keep] if v != latest] if keep > 0 else []
    for v in drop:
        shutil.rmtree(os.path.join(path, f"v={v}"), ignore_errors=True)
    return drop


def _read_latest_pointer(path: str) -> int | None:
    try:
        with open(os.path.join(path, "_LATEST")) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def diff_versions(spark: SparkSession, path: str, v_old: int,
                  v_new: int) -> DataFrame:
    """Change summary between two snapshot versions (time travel x CDC):
    per table, how many rows were inserted / deleted / updated. ``nodes``
    diffs by primary key with full-row comparison (update = same id,
    different content); ``node_files`` and ``tag_bank`` have set semantics —
    whole-row membership, so changes are inserts/deletes only. One
    full-outer join per table on metadata-scale state.

    Returns (table, inserts, deletes, updates)."""
    old_eng = GraphEngine.load_version(spark, path, v_old)
    new_eng = GraphEngine.load_version(spark, path, v_new)

    def keyed_diff(old: DataFrame, new: DataFrame, key_cols: list[str]):
        rest = [c for c in old.columns if c not in key_cols]
        pack = lambda df: df.select(  # noqa: E731
            *key_cols, F.to_json(F.struct(*rest)).alias("_row"))
        o = pack(old).alias("o")
        n = pack(new).alias("n")
        cond = [F.col(f"o.{k}") == F.col(f"n.{k}") for k in key_cols]
        j = o.join(n, cond, "full_outer")
        o_absent = F.col(f"o.{key_cols[0]}").isNull()
        n_absent = F.col(f"n.{key_cols[0]}").isNull()
        return j.agg(
            F.sum(o_absent.cast("long")).alias("inserts"),
            F.sum(n_absent.cast("long")).alias("deletes"),
            F.sum((~o_absent & ~n_absent
                   & (F.col("o._row") != F.col("n._row"))).cast("long"))
            .alias("updates"))

    def set_diff(old: DataFrame, new: DataFrame):
        return spark.createDataFrame([(
            new.exceptAll(old).count(), old.exceptAll(new).count(), 0,
        )], "inserts long, deletes long, updates long")

    parts = [
        keyed_diff(old_eng.nodes, new_eng.nodes, ["id"])
        .select(F.lit("nodes").alias("table"), "inserts", "deletes",
                "updates"),
        set_diff(old_eng.node_files, new_eng.node_files)
        .select(F.lit("node_files").alias("table"), "inserts", "deletes",
                "updates"),
        set_diff(old_eng.tag_bank, new_eng.tag_bank)
        .select(F.lit("tag_bank").alias("table"), "inserts", "deletes",
                "updates"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out

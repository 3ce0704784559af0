"""E2E CRUD round-trip mirroring the reference's scripted tests
(CURL_TESTS.md:389-445 create->get->update->verify->count->delete->gone;
:447-477 file flows; :326-383 error paths)."""

from __future__ import annotations

import datetime
import json

import pytest

from thewhisperdb_spark.crud import GraphEngine
from thewhisperdb_spark.storage import read_file, save_file, storage_rel_path


@pytest.fixture()
def engine(spark):
    return GraphEngine(spark)


def test_crud_roundtrip(engine, tmp_path):
    # create (201 path)
    nid = engine.ingest_node({"title": "Test Node", "author": "tester",
                              "subject": "qa", "course": "42",
                              "tags": "alpha, beta ,", "description": "d"})
    assert nid == 1
    # get
    node = engine.find(nid)
    assert node["title"] == "Test Node"
    assert node["course"] == 42            # string->int coercion
    assert node["tags"] == ["alpha", "beta"]  # CSV split, empties dropped
    assert node["linked_nodes"] == []
    # update (partial patch; bad-typed field silently skipped)
    engine.update_node(nid, {"title": "Renamed", "course": "not-an-int",
                             "bogus_field": 1})
    node = engine.find(nid)
    assert node["title"] == "Renamed"
    assert node["course"] == 42            # unparseable course patch skipped
    # count
    nid2 = engine.ingest_node({"title": "Second", "author": "a", "subject": "s"})
    assert nid2 == 2                       # monotonic contiguous ids
    assert engine.count() == 2
    # persistence round-trip
    engine.save(str(tmp_path / "db"))
    loaded = GraphEngine.load(engine.spark, str(tmp_path / "db"))
    assert loaded.count() == 2
    assert loaded.find(1)["title"] == "Renamed"
    # serialize is id-ordered JSON (S4)
    ids = [json.loads(s)["id"] for s in loaded.serialize()]
    assert ids == [1, 2]
    # delete + verify-gone (404 path)
    engine.delete_node(nid)
    assert not engine.exists(nid)
    assert engine.count() == 1
    with pytest.raises(KeyError):
        engine.find(nid)


def test_ingest_validation_errors(engine):
    # 400 paths: missing/empty required fields (UploadHandler.cpp:83-155)
    with pytest.raises(ValueError):
        engine.ingest_node({"author": "a", "subject": "s"})
    with pytest.raises(ValueError):
        engine.ingest_node({"title": "  ", "author": "a", "subject": "s"})
    with pytest.raises(KeyError):
        engine.update_node(999, {"title": "x"})
    with pytest.raises(KeyError):
        engine.delete_node(999)


def test_file_flow(engine, tmp_path):
    root = str(tmp_path / "store")
    nid = engine.ingest_node({"title": "Doc", "author": "a", "subject": "s"})
    p1 = engine.add_file(nid, "notes.PDF", b"pdf-bytes", storage_root=root)
    # first file sets storage_path (GraphDB.cpp:424-427); extension lowercased
    assert engine.find(nid)["storage_path"] == p1
    assert p1.endswith(".pdf")
    assert read_file(root, p1) == b"pdf-bytes"
    p2 = engine.add_file(nid, "extra.txt", b"t", storage_root=root)
    assert engine.find(nid)["storage_path"] == p1   # unchanged on second file
    # remove first -> storage_path NOT re-pointed (reference semantics,
    # GraphDB.cpp:450-475: it only ever clears on last-file removal)
    engine.remove_file(nid, p1, storage_root=root)
    assert engine.find(nid)["storage_path"] == p1
    # remove last -> cleared (GraphDB.cpp:468-471)
    engine.remove_file(nid, p2, storage_root=root)
    assert engine.find(nid)["storage_path"] is None
    assert engine.node_files.count() == 0


def test_delete_cascades_files(engine, tmp_path):
    root = str(tmp_path / "store")
    nid = engine.ingest_node({"title": "Doc", "author": "a", "subject": "s"},
                             files=[("a.txt", b"x"), ("b.txt", b"y")],
                             storage_root=root)
    assert engine.node_files.count() == 2
    engine.delete_node(nid, storage_root=root)
    assert engine.node_files.count() == 0


def test_storage_path_shape():
    d = datetime.date(2026, 3, 4)
    rel = storage_rel_path("My File.TXT", when=d, token="abcd1234")
    assert rel == "2026/03/04/My File_abcd1234.txt"


def test_update_links_and_embedding(engine):
    a = engine.ingest_node({"title": "A", "author": "x", "subject": "s"})
    b = engine.ingest_node({"title": "B", "author": "x", "subject": "s"})
    # bidirectional link write (src/tagging/TagService.cpp:109-134)
    engine.update_node(a, {"linked_nodes": [b]})
    engine.update_node(b, {"linked_nodes": [a]})
    edges = {(r["src"], r["dst"]) for r in engine.edges().collect()}
    assert edges == {(a, b), (b, a)}
    engine.update_node(a, {"embedding": [0.1, 0.2]})
    emb = engine.find(a)["embedding"]
    assert len(emb) == 2 and abs(emb[0] - 0.1) < 1e-6


def test_tag_bank_union(engine):
    engine.add_tags_to_bank(["a", "b"])
    engine.add_tags_to_bank(["b", "c"])
    assert sorted(r["tag"] for r in engine.tag_bank.collect()) == ["a", "b", "c"]


def test_save_to_same_path_after_mutation(engine, tmp_path):
    # rewrite-in-place persistence (the reference's model): load -> mutate ->
    # save BACK to the load path must not destroy the DB. A naive
    # mode('overwrite') deletes the parquet files the lazy state still reads
    # mid-write; save() must temp-write + rename instead.
    db = str(tmp_path / "db")
    engine.ingest_node({"title": "One", "author": "a", "subject": "s"})
    engine.add_tags_to_bank(["t1"])
    engine.save(db)

    loaded = GraphEngine.load(engine.spark, db)
    loaded.ingest_node({"title": "Two", "author": "b", "subject": "s"})
    loaded.add_tags_to_bank(["t2"])
    loaded.save(db)                      # same path, state still lazy
    assert loaded.count() == 2           # post-save state usable
    again = GraphEngine.load(engine.spark, db)
    assert again.count() == 2
    assert sorted(r["tag"] for r in again.tag_bank.collect()) == ["t1", "t2"]
    # and the json variant honors the same contract
    jdb = str(tmp_path / "jdb")
    again.save_json(jdb)
    j = GraphEngine.load_json(engine.spark, jdb)
    j.ingest_node({"title": "Three", "author": "c", "subject": "s"})
    j.save_json(jdb)
    assert GraphEngine.load_json(engine.spark, jdb).count() == 3


def test_checkpoint_covers_all_state_tables(engine, tmp_path):
    db = str(tmp_path / "db")
    engine.ingest_node({"title": "N", "author": "a", "subject": "s"})
    engine.add_tags_to_bank(["x"])
    engine.save(db)
    loaded = GraphEngine.load(engine.spark, db)
    loaded.checkpoint()                  # must checkpoint tag_bank too
    loaded.save(db)                      # would FILE_NOT_EXIST if it didn't
    assert GraphEngine.load(engine.spark, db).tag_bank.count() == 1


def test_storage_paths_confined_to_root(engine, tmp_path):
    import os

    from thewhisperdb_spark.storage import delete_file, save_file

    root = str(tmp_path / "store")
    outside = tmp_path / "secret.txt"
    outside.write_bytes(b"keep me")
    save_file(root, "ok.txt", b"fine")
    # '..' traversal and absolute paths must be rejected, not honored
    with pytest.raises(ValueError):
        read_file(root, "../secret.txt")
    with pytest.raises(ValueError):
        delete_file(root, "../secret.txt")
    with pytest.raises(ValueError):
        read_file(root, str(outside))
    assert outside.exists()
    assert os.path.exists(str(tmp_path / "secret.txt"))


def test_sort_key_whitelist(spark):
    from pyspark.sql import functions as F

    from thewhisperdb_spark.operators.sorting import sort_nodes

    df = spark.createDataFrame(
        [(2, "b", [9]), (1, "a", [1])], "id long, title string, embedding array<int>")
    # whitelisted key sorts by it
    assert [r["id"] for r in sort_nodes(df, "title").collect()] == [1, 2]
    # non-whitelisted key (embedding) falls back to id, like the reference's
    # unknown-key branch (GraphDB.cpp:60-82)
    assert [r["id"] for r in sort_nodes(df, "embedding", ascending=False)
            .collect()] == [2, 1]


def test_json_persistence_roundtrip(engine, tmp_path):
    nid = engine.ingest_node({"title": "J", "author": "a", "subject": "s",
                              "tags": ["t1", "t2"]})
    engine.save_json(str(tmp_path / "jdb"))
    loaded = GraphEngine.load_json(engine.spark, str(tmp_path / "jdb"))
    node = loaded.find(nid)
    assert node["title"] == "J" and node["tags"] == ["t1", "t2"]
    # corrupt/absent path -> fresh empty DB (GraphDB.cpp:247-301 semantics)
    empty = GraphEngine.load_json(engine.spark, str(tmp_path / "missing"))
    assert empty.count() == 0


def test_versioned_snapshots_time_travel(spark, tmp_path):
    from thewhisperdb_spark.crud import (
        GraphEngine,
        list_versions,
        prune_versions,
    )

    path = str(tmp_path / "vdb")
    eng = GraphEngine(spark)
    eng.ingest_node({"title": "t1", "author": "a", "subject": "s"})
    v1 = eng.save_version(path)
    eng.ingest_node({"title": "t2", "author": "a", "subject": "s"})
    v2 = eng.save_version(path)
    assert (v1, v2) == (1, 2)
    assert list_versions(path) == [1, 2]

    # latest resolves through the pointer; pinned version time-travels
    assert GraphEngine.load_version(spark, path).count() == 2
    assert GraphEngine.load_version(spark, path, version=1).count() == 1

    # old snapshot survives later saves (append-only isolation)
    eng.ingest_node({"title": "t3", "author": "a", "subject": "s"})
    eng.save_version(path)
    assert GraphEngine.load_version(spark, path, version=1).count() == 1

    # pruning keeps the newest and never the pointer target
    dropped = prune_versions(path, keep=1)
    assert dropped == [1, 2]
    assert list_versions(path) == [3]
    assert GraphEngine.load_version(spark, path).count() == 3

    # empty directory -> fresh engine (S3 bootstrap semantics)
    assert GraphEngine.load_version(spark, str(tmp_path / "nope")).count() == 0


def test_merge_nodes_upsert(spark):
    from thewhisperdb_spark.crud import GraphEngine
    from thewhisperdb_spark.schemas import NODE_SCHEMA

    eng = GraphEngine(spark)
    eng.ingest_node({"title": "keep", "author": "a", "subject": "s"})
    eng.ingest_node({"title": "old", "author": "a", "subject": "s"})
    ids = sorted(r["id"] for r in eng.nodes.select("id").collect())

    updates = spark.createDataFrame([
        # replace node ids[1], insert a brand-new node 99
        (ids[1], "new-title", "a", "s", 7, "2024-01-01 00:00:00", "", ["t"],
         None, [], None),
        (99, "inserted", "b", "s2", 0, "2024-01-01 00:00:00", "", [],
         None, [], None),
    ], NODE_SCHEMA)
    eng.merge_nodes(updates)

    rows = {r["id"]: r for r in eng.nodes.collect()}
    assert set(rows) == {ids[0], ids[1], 99}
    assert rows[ids[0]]["title"] == "keep"       # untouched passes through
    assert rows[ids[1]]["title"] == "new-title"  # matched replaced
    assert rows[ids[1]]["course"] == 7
    assert rows[99]["title"] == "inserted"       # unmatched inserted


@pytest.mark.slow  # index-lifecycle marathon: CI-tier
def test_diff_versions_summary(spark, tmp_path):
    from thewhisperdb_spark.crud import GraphEngine, diff_versions

    path = str(tmp_path / "vdb2")
    eng = GraphEngine(spark)
    a = eng.ingest_node({"title": "alpha", "author": "x", "subject": "s"})
    b = eng.ingest_node({"title": "beta", "author": "x", "subject": "s"})
    eng.add_tags_to_bank(["old-tag"])
    v1 = eng.save_version(path)

    eng.update_node(a, {"title": "alpha-2"})        # update
    eng.ingest_node({"title": "gamma", "author": "y", "subject": "s"})  # insert
    eng.add_tags_to_bank(["new-tag"])               # tag_bank insert
    v2 = eng.save_version(path)

    eng.delete_node(b)                              # delete only
    v3 = eng.save_version(path)

    got = {r["table"]: (r["inserts"], r["deletes"], r["updates"])
           for r in diff_versions(spark, path, v1, v2).collect()}
    assert got["nodes"] == (1, 0, 1)
    assert got["tag_bank"] == (1, 0, 0)
    assert got["node_files"] == (0, 0, 0)
    d23 = {r["table"]: (r["inserts"], r["deletes"], r["updates"])
           for r in diff_versions(spark, path, v2, v3).collect()}
    assert d23["nodes"] == (0, 1, 0)
    # identity: diffing a version against itself is all-zero
    same = {r["table"]: (r["inserts"], r["deletes"], r["updates"])
            for r in diff_versions(spark, path, v2, v2).collect()}
    assert all(v == (0, 0, 0) for v in same.values())


def test_merge_nodes_delete_clause(spark):
    from thewhisperdb_spark.crud import GraphEngine
    from thewhisperdb_spark.schemas import NODE_SCHEMA

    eng = GraphEngine(spark)
    a = eng.ingest_node({"title": "keep", "author": "x", "subject": "s"})
    b = eng.ingest_node({"title": "drop", "author": "x", "subject": "s"})
    updates = spark.createDataFrame([], NODE_SCHEMA)
    eng.merge_nodes(updates, delete_ids=[b])
    assert [r["id"] for r in eng.nodes.collect()] == [a]
    # DataFrame form of delete_ids works too
    eng2 = GraphEngine(spark)
    c = eng2.ingest_node({"title": "c", "author": "x", "subject": "s"})
    d = eng2.ingest_node({"title": "d", "author": "x", "subject": "s"})
    dels = spark.createDataFrame([(d,)], "id long")
    eng2.merge_nodes(updates, delete_ids=dels)
    assert [r["id"] for r in eng2.nodes.collect()] == [c]


def test_merge_nodes_duplicate_update_ids_resolve_once(spark):
    """Duplicate ids in the updates batch must NOT fan out through the
    full-outer join: the merge keeps the greatest tuple per id,
    deterministically (MERGE INTO multiple-match discipline)."""
    from thewhisperdb_spark.crud import GraphEngine
    from thewhisperdb_spark.schemas import NODE_SCHEMA

    eng = GraphEngine(spark)
    nid = eng.ingest_node({"title": "orig", "author": "a", "subject": "s"})
    updates = spark.createDataFrame([
        (nid, "alpha", "a", "s", 1, "2024-01-01 00:00:00", "", [],
         None, [], None),
        (nid, "zeta", "a", "s", 2, "2024-01-01 00:00:00", "", [],
         None, [], None),
    ], NODE_SCHEMA)
    eng.merge_nodes(updates)
    rows = eng.nodes.filter(eng.nodes.id == nid).collect()
    assert len(rows) == 1, "duplicate update ids must not duplicate the row"
    # greatest tuple wins (title desc sorts zeta > alpha)
    assert rows[0]["title"] == "zeta" and rows[0]["course"] == 2


def test_load_version_pinned_missing_raises(spark, tmp_path):
    """A pinned time-travel read of a version that doesn't exist must raise,
    not silently return an empty engine; no snapshots at all with
    version=None keeps the empty-DB bootstrap semantics."""
    import pytest as _pytest

    from thewhisperdb_spark.crud import GraphEngine

    path = str(tmp_path / "vdb2")
    # no snapshots yet: unpinned load bootstraps empty
    assert GraphEngine.load_version(spark, path).count() == 0
    eng = GraphEngine(spark)
    eng.ingest_node({"title": "x", "author": "a", "subject": "s"})
    v1 = eng.save_version(path)
    assert GraphEngine.load_version(spark, path, v1).count() == 1
    with _pytest.raises(FileNotFoundError):
        GraphEngine.load_version(spark, path, v1 + 41)


def test_table_checksum_duplicates_do_not_cancel(spark):
    """Two tables with equal counts but different duplicated rows must get
    different checksums (an XOR fold would cancel even-count rows)."""
    from thewhisperdb_spark.operators.aggregates import table_checksum

    a = spark.createDataFrame([("x",), ("x",), ("y",), ("y",)], "v string")
    b = spark.createDataFrame([("x",), ("x",), ("x",), ("x",)], "v string")
    ca = table_checksum(a, "v").collect()[0]
    cb = table_checksum(b, "v").collect()[0]
    assert ca["n_rows"] == cb["n_rows"] == 4
    assert ca["checksum"] != cb["checksum"]
    # order/partitioning-insensitive: same multiset, different layout
    a2 = spark.createDataFrame([("y",), ("x",), ("y",), ("x",)],
                               "v string").repartition(7)
    assert table_checksum(a2, "v").collect()[0]["checksum"] == ca["checksum"]


def test_zorder_by_survives_colliding_column_names(spark):
    """User columns named lo1/hi1/_z must pass through zorder_by untouched
    (internal bounds columns are __zo_-prefixed)."""
    from thewhisperdb_spark.operators.layout import zorder_by

    df = spark.createDataFrame(
        [(i, i * 2, "keep-%d" % i, i + 100) for i in range(20)],
        "x long, y long, lo1 string, _z long")
    out = zorder_by(df, "x", "y", n_partitions=2)
    assert set(out.columns) == {"x", "y", "lo1", "_z"}
    rows = sorted((r["x"], r["lo1"], r["_z"]) for r in out.collect())
    assert rows == [(i, "keep-%d" % i, i + 100) for i in range(20)]


def test_next_id_reuses_a_deleted_highest_id(engine):
    """next_id is max(id)+1 over the live nodes: a gap below the maximum is
    never refilled, but deleting the highest id hands it to the next
    create."""
    ids = [engine.ingest_node({"title": t, "author": "a", "subject": "s"})
           for t in ("a", "b", "c")]
    assert ids == [1, 2, 3]
    engine.delete_node(2)
    assert engine.ingest_node({"title": "d", "author": "a", "subject": "s"}) == 4
    engine.delete_node(4)
    assert engine.ingest_node({"title": "e", "author": "a", "subject": "s"}) == 4


def _outside_assignment(eng) -> int:
    from pyspark.sql import functions as F

    eng.nodes = eng.nodes.unionByName(
        eng.nodes.filter("id = 1").withColumn("id", F.lit(10).cast("long")))
    return 11


def _merge_insert(eng) -> int:
    from pyspark.sql import functions as F

    eng.merge_nodes(
        eng.nodes.filter("id = 2").withColumn("id", F.lit(20).cast("long")))
    return 21


def _cluster_job(eng) -> int:
    from thewhisperdb_spark import api

    assert api.dispatch(eng, "POST", "/api/cluster")[0] == 200
    return 4


def _link_all(eng) -> int:
    from thewhisperdb_spark import api

    assert api.dispatch(eng, "POST", "/api/tags/link-all")[0] == 200
    return 4


@pytest.mark.parametrize("write", [_outside_assignment, _merge_insert,
                                   _cluster_job, _link_all])
def test_next_id_after_writes_the_engine_does_not_own(engine, write):
    """The engine keeps its highest id across its own writes; any other
    assignment to ``nodes`` drops it, so the next create still gets
    max(id)+1."""
    for t in ("a", "b", "c"):
        engine.ingest_node({"title": t, "author": "a", "subject": "s",
                            "tags": ["x", t]})
    engine.checkpoint()
    want = write(engine)
    assert engine.ingest_node({"title": "n", "author": "a",
                               "subject": "s"}) == want
    assert engine.ingest_node({"title": "m", "author": "a",
                               "subject": "s"}) == want + 1


def test_next_id_on_a_loaded_unchecked_engine(engine, spark, tmp_path):
    """A loaded engine that never checkpointed reads its highest id from
    the table."""
    for t in ("a", "b", "c", "d"):
        engine.ingest_node({"title": t, "author": "a", "subject": "s"})
    engine.delete_node(2)
    engine.save(str(tmp_path / "db"))
    loaded = GraphEngine.load(spark, str(tmp_path / "db"))
    assert loaded.ingest_node({"title": "e", "author": "a",
                               "subject": "s"}) == 5


def test_writes_leave_no_python_rdd_leaf(engine, tmp_path):
    """Write deltas are JVM literal relations: after creates, uploads, tag
    bank additions and id-list deletes, no state table's plan reads a
    Python RDD (whose every scan would start Python workers)."""
    from thewhisperdb_spark.schemas import NODE_SCHEMA

    a = engine.ingest_node({"title": "A", "author": "x", "subject": "s"},
                           files=[("a.txt", b"1"), ("b.txt", b"2")],
                           storage_root=str(tmp_path))
    b = engine.ingest_node({"title": "B", "author": "x", "subject": "s"})
    engine.add_file(b, "c.txt", b"3")
    engine.add_tags_to_bank(["t1", "t2"])
    engine.merge_nodes(engine.nodes.filter("id < 0").select(
        *[f.name for f in NODE_SCHEMA.fields]), delete_ids=[b])
    for df in (engine.nodes, engine.node_files, engine.tag_bank):
        assert "LogicalRDD" not in df._jdf.queryExecution().analyzed().toString()
    assert [r["id"] for r in engine.nodes.collect()] == [a]
    # the first upload of a new node is its storage_path (M4)
    assert engine.find(a)["storage_path"].rsplit("/", 1)[1].startswith("a_")
    assert engine.node_files.filter(f"node_id = {a}").count() == 2


def test_one_write_adds_one_plan_node(engine):
    """A single-row write is one Project over engine.nodes whatever its
    field count, so request lineage grows by one node per write."""
    nid = engine.ingest_node({"title": "A", "author": "x", "subject": "s"})
    engine.checkpoint()

    def plan_nodes() -> int:
        plan = engine.nodes._jdf.queryExecution().analyzed()
        return sum(1 for ln in plan.treeString().splitlines() if ln.strip())

    before = plan_nodes()
    engine.update_node(nid, {"title": "B", "course": "7", "tags": "p, q"})
    assert plan_nodes() == before + 1
    node = engine.find(nid)
    assert (node["title"], node["course"], node["tags"]) == ("B", 7, ["p", "q"])

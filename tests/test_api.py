"""API-facade parity with the reference's endpoint envelopes and error codes
(CURL_TESTS.md golden outputs: list/get/create/update/delete/count/similar,
404/400 paths)."""

from __future__ import annotations

import pytest

from thewhisperdb_spark import api
from thewhisperdb_spark.crud import GraphEngine
from thewhisperdb_spark.functions.llm import hash_embedder


@pytest.fixture()
def engine(spark):
    e = GraphEngine(spark)
    api.create_node(e, {"title": "Spark Intro", "author": "ada", "subject": "cs",
                        "course": 101, "tags": ["spark", "intro"]})
    api.create_node(e, {"title": "Advanced Spark", "author": "ada", "subject": "cs",
                        "course": 201, "tags": ["spark"]})
    api.create_node(e, {"title": "Poetry", "author": "cat", "subject": "lit"})
    return e


def test_list_filter_sort_paginate(engine):
    env = api.list_nodes(engine, {"author": "ada"}, sort="course", order="desc")
    assert env["status"] == "success" and env["count"] == 2
    assert [n["course"] for n in env["nodes"]] == [201, 101]
    # title substring filter (F4), not equality
    env = api.list_nodes(engine, {"title": "Spark"})
    assert env["count"] == 2
    # tag membership (F5)
    env = api.list_nodes(engine, {"tag": "intro"})
    assert env["count"] == 1
    # pagination envelope carries limit/offset
    env = api.list_nodes(engine, sort="id", limit=2, offset=1)
    assert env["limit"] == 2 and env["offset"] == 1
    assert [n["id"] for n in env["nodes"]] == [2, 3]
    # unknown sort key falls back to id (GraphDB.cpp:60-82)
    env = api.list_nodes(engine, sort="bogus")
    assert [n["id"] for n in env["nodes"]] == [1, 2, 3]
    # unparseable course filter excludes everything (GraphDB.cpp:119-122)
    assert api.count_nodes(engine, {"course": "NaN"})["count"] == 0


def test_get_update_delete_errors(engine):
    assert api.get_node(engine, 1)["node"]["title"] == "Spark Intro"
    # embedding omitted from the envelope when absent (GNode.cpp:132-134)
    assert "embedding" not in api.get_node(engine, 1)["node"]
    with pytest.raises(api.ApiError) as e:
        api.get_node(engine, 99)
    assert e.value.status == 404
    with pytest.raises(api.ApiError) as e:
        api.get_node(engine, "abc")
    assert e.value.status == 400
    with pytest.raises(api.ApiError) as e:
        api.create_node(engine, {"author": "x", "subject": "s"})
    assert e.value.status == 400
    # id is stripped from patches (src/main.cpp:275)
    api.update_node(engine, 1, {"id": 999, "title": "Renamed"})
    assert api.get_node(engine, 1)["node"]["title"] == "Renamed"
    api.delete_node(engine, 3)
    assert api.count_nodes(engine)["count"] == 2
    with pytest.raises(api.ApiError) as e:
        api.delete_node(engine, 3)
    assert e.value.status == 404


@pytest.mark.parametrize("field,value,stored", [
    ("linked_nodes", ["x"], None),
    ("linked_nodes", [None], None),
    ("linked_nodes", [1, "3"], [1, 3]),
    ("embedding", ["a"], None),
    ("embedding", [None], None),
    ("embedding", [0.5, 1], [0.5, 1.0]),
    ("linked_nodes", [10**30], None),
    ("embedding", [1e300, 1.0], None),
    ("embedding", [float("nan"), 1.0], None),
])
def test_update_skips_invalid_array_elements(engine, field, value, stored):
    """An array patch field with any element that fails int()/float() is
    skipped like any other type-invalid field (GNode.cpp:148-205); the
    valid fields of the same patch still apply. stored=None: skipped."""
    before = api.get_node(engine, 1)["node"]
    code, env = api.dispatch(engine, "PUT", "/api/nodes/1",
                             body={field: value, "title": "Patched"})
    assert (code, env) == (200, {"status": "success", "nodeId": 1})
    expected = {**before, "title": "Patched"}
    if stored is not None:
        expected[field] = stored
    assert api.get_node(engine, 1)["node"] == expected


@pytest.mark.slow  # crash/replay marathon: CI-tier
def test_similar_and_cluster_job(engine):
    # no embedding yet -> 400 (src/main.cpp:539-546 error path)
    with pytest.raises(api.ApiError) as e:
        api.similar_nodes(engine, 1)
    assert e.value.status == 400
    # cluster job embeds missing nodes, links similar ones
    out = api.run_cluster_job(engine, threshold=0.95,
                              embedder=hash_embedder(16), dim=16)
    assert out["status"] == "success"
    stats = out["statistics"]
    assert stats["nodesProcessed"] == 3 and stats["embeddingsGenerated"] == 3
    env = api.similar_nodes(engine, 1, k=2)
    assert env["count"] == 2
    assert all("similarity" in n for n in env["nodes"])
    sims = [n["similarity"] for n in env["nodes"]]
    assert sims == sorted(sims, reverse=True)


def test_dispatch_error_matrix(engine):
    """The reference's documented error paths (CURL_TESTS.md:326-445) through
    the transport-free router: every row is (request) -> (status code,
    error envelope) exactly as the golden curl outputs discriminate them."""
    # node not found -> 404 {"status":"error","message":...}
    code, env = api.dispatch(engine, "GET", "/api/nodes/999")
    assert code == 404 and env["status"] == "error"
    assert "999" in env["message"]
    # wrong method on an existing path -> 405 "Method not allowed"
    code, env = api.dispatch(engine, "DELETE", "/api/nodes")
    assert (code, env) == (405, {"status": "error",
                                 "message": "Method not allowed"})
    # missing required field -> 400
    code, env = api.dispatch(engine, "POST", "/api/nodes",
                             body={"title": "Без автора"})
    assert code == 400 and env["status"] == "error"
    # invalid JSON -> 400 "Invalid JSON: ..."
    code, env = api.dispatch(engine, "POST", "/api/nodes", body="{invalid}")
    assert code == 400 and env["message"].startswith("Invalid JSON")
    # empty body -> 400 "No data received" (src/main.cpp:196)
    code, env = api.dispatch(engine, "POST", "/api/nodes", body=None)
    assert (code, env) == (400, {"status": "error",
                                 "message": "No data received"})
    # unknown endpoint -> 404 "Endpoint not found"
    code, env = api.dispatch(engine, "GET", "/api/unknown")
    assert (code, env) == (404, {"status": "error",
                                 "message": "Endpoint not found"})
    # non-integer id -> 400 (endpoint.hpp int param coercion)
    code, env = api.dispatch(engine, "GET", "/api/nodes/abc")
    assert code == 400 and env["status"] == "error"
    # integers outside their column or argument range -> 400, not a
    # JVM error: ids are int64, limit/offset int32
    big = str(2**64)
    for method, path in (("GET", f"/api/nodes/{big}"),
                         ("PUT", f"/api/nodes/{big}"),
                         ("DELETE", f"/api/nodes/{big}"),
                         ("GET", f"/api/nodes/{big}/files"),
                         ("GET", f"/api/nodes/{big}/similar")):
        code, env = api.dispatch(engine, method, path, body={"title": "x"})
        assert code == 400 and env["status"] == "error", (method, path)
    for key in ("limit", "offset"):
        code, env = api.dispatch(engine, "GET", "/api/nodes",
                                 query={key: str(2**31)})
        assert code == 400 and env["status"] == "error", key
    # a course filter outside int32 matches nothing, like an unparseable one
    for course in (str(2**31), str(2**64)):
        code, env = api.dispatch(engine, "GET", "/api/nodes/count",
                                 query={"course": course})
        assert (code, env) == (200, {"status": "success", "count": 0})


def test_out_of_range_course_leaves_engine_readable(engine):
    """A course outside the int32 column is invalid like an unparseable one:
    POST stores 0 and PUT skips the field, so later reads of the node, the
    list and the count still succeed."""
    code, env = api.dispatch(engine, "POST", "/api/nodes",
                             body={"title": "Big", "author": "a",
                                   "subject": "s", "course": "99999999999"})
    assert code == 201
    nid = env["nodeId"]
    code, env = api.dispatch(engine, "PUT", "/api/nodes/1",
                             body={"course": 2**40, "title": "Patched"})
    assert code == 200
    code, env = api.dispatch(engine, "GET", f"/api/nodes/{nid}")
    assert code == 200 and env["node"]["course"] == 0
    code, env = api.dispatch(engine, "GET", "/api/nodes/1")
    assert code == 200
    assert (env["node"]["course"], env["node"]["title"]) == (101, "Patched")
    code, env = api.dispatch(engine, "GET", "/api/nodes")
    assert code == 200 and env["count"] == 4
    code, env = api.dispatch(engine, "GET", "/api/nodes/count")
    assert (code, env) == (200, {"status": "success", "count": 4})


def test_dispatch_crud_roundtrip(engine):
    """CURL_TESTS.md full CRUD script (:389-445) through dispatch: health ->
    create -> get -> update -> verify -> list -> delete -> verify-gone."""
    code, env = api.dispatch(engine, "GET", "/health")
    assert code == 200 and env["status"] == "ok"
    assert env["service"] == "TheWhisperDB" and env["nodes_count"] == 3

    code, env = api.dispatch(
        engine, "POST", "/api/nodes",
        body='{"title":"Test Node","author":"Tester","subject":"Testing"}')
    assert code == 201 and env["status"] == "success"
    nid = env["nodeId"]

    code, env = api.dispatch(engine, "GET", f"/api/nodes/{nid}")
    assert code == 200 and env["node"]["title"] == "Test Node"

    code, env = api.dispatch(
        engine, "PUT", f"/api/nodes/{nid}",
        body='{"title":"Updated Title","description":"Added description"}')
    assert code == 200 and env["status"] == "success"
    code, env = api.dispatch(engine, "GET", f"/api/nodes/{nid}")
    assert env["node"]["title"] == "Updated Title"

    code, env = api.dispatch(engine, "GET", "/api/nodes")
    assert code == 200 and env["count"] == 4
    code, env = api.dispatch(engine, "GET", "/api/nodes/count",
                             query={"author": "Tester"})
    assert code == 200 and env["count"] == 1

    code, env = api.dispatch(engine, "DELETE", f"/api/nodes/{nid}")
    assert code == 200 and env["status"] == "success"
    code, env = api.dispatch(engine, "GET", f"/api/nodes/{nid}")
    assert code == 404 and env["status"] == "error"


# ---------------------------------------------------------------------------
# the 8 routes added for full main.cpp parity (r10)
# ---------------------------------------------------------------------------

def test_node_files_routes(engine, tmp_path):
    """GET/POST /api/nodes/:id/files golden matrix (CURL_TESTS.md:251-296):
    list envelope {nodeId, files}, add envelope {nodeId, addedFiles} at 201,
    multi-part add, 404 unknown node, 400 no files."""
    root = str(tmp_path)
    code, env = api.dispatch(engine, "GET", "/api/nodes/1/files")
    assert code == 200 and env == {"status": "success", "nodeId": 1,
                                   "files": []}
    code, env = api.dispatch(engine, "POST", "/api/nodes/1/files",
                             files=[("notes.txt", b"hello")],
                             storage_root=root)
    assert code == 201 and env["nodeId"] == 1 and len(env["addedFiles"]) == 1
    assert env["addedFiles"][0].endswith(".txt")
    # multi-file add (CURL_TESTS.md:284-291)
    code, env = api.dispatch(engine, "POST", "/api/nodes/1/files",
                             files=[("a.pdf", b"%PDF"), ("b.png", b"\x89PNG")],
                             storage_root=root)
    assert code == 201 and len(env["addedFiles"]) == 2
    code, env = api.dispatch(engine, "GET", "/api/nodes/1/files")
    assert env["files"][0].endswith(".txt") and len(env["files"]) == 3
    # first file set storage_path (GraphDB.cpp:416-448)
    assert api.get_node(engine, 1)["node"]["storage_path"].endswith(".txt")
    # error rows
    code, env = api.dispatch(engine, "GET", "/api/nodes/999/files")
    assert code == 404 and "999" in env["message"]
    code, env = api.dispatch(engine, "POST", "/api/nodes/999/files",
                             files=[("x", b"y")])
    assert code == 404
    # an unknown node is 404 even with no file parts (404 before 400)
    code, env = api.dispatch(engine, "POST", "/api/nodes/999/files", files=[])
    assert code == 404 and "999" in env["message"]
    code, env = api.dispatch(engine, "POST", "/api/nodes/1/files", files=[])
    assert (code, env) == (400, {"status": "error",
                                 "message": "No files provided"})
    # wrong method on the files path -> 405
    code, env = api.dispatch(engine, "PUT", "/api/nodes/1/files")
    assert code == 405


def test_generate_embedding_route(engine):
    """POST /api/nodes/:id/embedding (main.cpp:478-512): unconditional
    re-embed of one node; 404 unknown node."""
    code, env = api.dispatch(engine, "POST", "/api/nodes/2/embedding")
    assert code == 200 and env == {"status": "success",
                                   "message": "Embedding generated",
                                   "nodeId": 2}
    node = api.get_node(engine, 2)["node"]
    assert len(node["embedding"]) == 64
    first = list(node["embedding"])
    # regenerating after a text change REPLACES (EmbeddingService.cpp:45-62)
    api.update_node(engine, 2, {"title": "Entirely different"})
    api.dispatch(engine, "POST", "/api/nodes/2/embedding")
    assert api.get_node(engine, 2)["node"]["embedding"] != first
    code, env = api.dispatch(engine, "POST", "/api/nodes/999/embedding")
    assert code == 404
    code, env = api.dispatch(engine, "GET", "/api/nodes/2/embedding")
    assert code == 405


def test_generate_tags_route(engine):
    """POST /api/nodes/:id/tags (TagService.cpp:44-94): tags replace, new
    tags enter the bank, node gets merge-linked to Jaccard>=0.3 partners."""
    code, env = api.dispatch(engine, "POST", "/api/nodes/1/tags")
    assert code == 200 and env["nodeId"] == 1
    assert env["tags"], "content-bearing node must yield tags"
    # every reported new tag is now in the bank
    bank = api.tag_bank(engine)["tagBank"]
    assert set(env["newTagsAdded"]) <= set(bank)
    # node's tags were REPLACED with the generated set
    assert api.get_node(engine, 1)["node"]["tags"] == env["tags"]
    # second call: same deterministic tags, nothing new for the bank
    code, env2 = api.dispatch(engine, "POST", "/api/nodes/1/tags")
    assert env2["tags"] == env["tags"] and env2["newTagsAdded"] == []
    # linked nodes are mirrored bidirectionally (TagService.cpp:107-133)
    for other in env2["linkedNodes"]:
        assert 1 in api.get_node(engine, other)["node"]["linked_nodes"]
    code, env = api.dispatch(engine, "POST", "/api/nodes/999/tags")
    assert code == 404


def test_generate_tags_ignore_bank_row_order(spark, engine):
    """The tagger keeps at most 5 vocabulary hits: with more hits than that,
    the chosen tags must not depend on the bank's physical row order."""
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "theta"]
    nid = api.create_node(engine, {"title": " ".join(words), "author": "a",
                                   "subject": "s"})["nodeId"]
    engine.tag_bank = spark.createDataFrame([(w,) for w in reversed(words)],
                                            "tag string")
    code, env = api.dispatch(engine, "POST", f"/api/nodes/{nid}/tags")
    assert code == 200 and env["newTagsAdded"] == []
    assert env["tags"] == sorted(words)[:5]


def test_tag_bank_and_nodes_by_tag_routes(engine):
    """GET /api/tags + GET /api/tags/:tag/nodes (main.cpp:619-659)."""
    engine.add_tags_to_bank(["spark", "intro"])
    code, env = api.dispatch(engine, "GET", "/api/tags")
    assert code == 200 and env["count"] == len(env["tagBank"]) == 2
    code, env = api.dispatch(engine, "GET", "/api/tags/spark/nodes")
    assert code == 200 and env["tag"] == "spark" and env["count"] == 2
    assert [n["id"] for n in env["nodes"]] == [1, 2]
    # full node envelopes, embedding omitted when absent (F9)
    assert all("title" in n and "embedding" not in n for n in env["nodes"])
    code, env = api.dispatch(engine, "GET", "/api/tags/nosuch/nodes")
    assert code == 200 and env["count"] == 0 and env["nodes"] == []
    code, env = api.dispatch(engine, "DELETE", "/api/tags")
    assert code == 405


def test_link_all_and_clusters_routes(engine):
    """POST /api/tags/link-all + GET /api/clusters (main.cpp:662-726):
    batch relink creates each new undirected link once; clusters report
    components size-desc renumbered with the >=2-shared-tags rule."""
    code, env = api.dispatch(engine, "POST", "/api/tags/link-all")
    assert code == 200 and env["threshold"] == 0.3
    # nodes 1,2 share 'spark' (J=1/2 vs {spark,intro} -> 0.5 >= 0.3): 1 link
    assert env["linksCreated"] == 1
    # idempotent: re-running creates nothing new (already-linked skip)
    code, env = api.dispatch(engine, "POST", "/api/tags/link-all")
    assert env["linksCreated"] == 0
    # threshold validation rows (main.cpp:668-680)
    code, env = api.dispatch(engine, "POST", "/api/tags/link-all",
                             query={"threshold": "1.5"})
    assert (code, env["message"]) == (400, "Threshold must be between 0 and 1")
    code, env = api.dispatch(engine, "POST", "/api/tags/link-all",
                             query={"threshold": "abc"})
    assert (code, env["message"]) == (400, "Invalid threshold parameter")

    code, env = api.dispatch(engine, "GET", "/api/clusters")
    assert code == 200 and env["count"] == 2
    big, single = env["clusters"]
    assert (big["id"], big["size"], big["nodes"]) == (1, 2, [1, 2])
    # shared tags = tags on >=2 members: 'spark' only
    assert big["sharedTags"] == ["spark"]
    # singleton shows ALL its tags (TagService.cpp:225-231); node 3 has none
    assert (single["id"], single["nodes"], single["sharedTags"]) == (2, [3], [])
    code, env = api.dispatch(engine, "POST", "/api/clusters")
    assert code == 405


def test_similar_error_precedence(engine):
    """similar: unknown id -> 404; a node whose embedding is NULL or [] ->
    400; a negative k -> 400 through dispatch, never an escaped Spark
    error."""
    from pyspark.sql import functions as F

    code, env = api.dispatch(engine, "GET", "/api/nodes/999/similar")
    assert code == 404 and "999" in env["message"]
    code, env = api.dispatch(engine, "GET", "/api/nodes/1/similar")
    assert code == 400 and env["status"] == "error"   # NULL embedding
    engine.nodes = engine.nodes.withColumn(
        "embedding", F.when(F.col("id") == 2, F.array().cast("array<float>"))
        .otherwise(F.col("embedding")))
    assert api.get_node(engine, 2)["node"].get("embedding") is None
    code, env = api.dispatch(engine, "GET", "/api/nodes/2/similar")
    assert code == 400                                 # [] embedding
    api.dispatch(engine, "POST", "/api/nodes/3/embedding")
    code, env = api.dispatch(engine, "GET", "/api/nodes/3/similar",
                             query={"k": "-3"})
    assert (code, env) == (400, {"status": "error",
                                 "message": "k must be non-negative"})
    code, env = api.dispatch(engine, "GET", "/api/nodes/3/similar",
                             query={"k": "0"})
    assert (code, env["count"]) == (200, 0)


def test_point_request_job_budget(spark, engine, tmp_path, jobs_of):
    """Request-path probes are single CollectLimit actions: on a loaded and
    checkpointed graph, exists and get cost one Spark job each, and
    generating an embedding one (the lookup that also decides the 404).
    Listing a node's files, adding files and deleting a node each cost one
    (the union scan of ``files_of``); similar two (the embedding probe and
    one top-k over it); a create none (the engine knows its highest id)."""
    engine.save(str(tmp_path / "db"))
    eng = GraphEngine.load(spark, str(tmp_path / "db"))
    eng.checkpoint()
    eng.add_file(1, "notes.txt", b"x")
    budget = {
        "exists": (lambda: eng.exists(2), 1),
        "get": (lambda: api.dispatch(eng, "GET", "/api/nodes/2"), 1),
        "files": (lambda: api.dispatch(eng, "GET", "/api/nodes/1/files"), 1),
        "gen_embedding": (
            lambda: api.dispatch(eng, "POST", "/api/nodes/3/embedding"), 1),
        "similar": (
            lambda: api.dispatch(eng, "GET", "/api/nodes/3/similar"), 2),
        "add_files": (lambda: api.dispatch(
            eng, "POST", "/api/nodes/2/files", files=[("a.txt", b"a")],
            storage_root=str(tmp_path / "files")), 1),
        "create": (lambda: api.dispatch(
            eng, "POST", "/api/nodes",
            body={"title": "T", "author": "a", "subject": "s"}), 0),
        "delete": (lambda: api.dispatch(
            eng, "DELETE", "/api/nodes/2",
            storage_root=str(tmp_path / "files")), 1),
    }
    got = {k: jobs_of(f"budget-{k}", fn)
           for k, (fn, _) in budget.items()}
    assert got == {k: want for k, (_, want) in budget.items()}
    assert api.dispatch(eng, "GET", "/api/nodes/1/files")[1]["files"] == \
        ["notes.txt"]
    assert api.dispatch(eng, "GET", "/api/nodes/4")[1]["node"]["title"] == "T"
    assert api.dispatch(eng, "GET", "/api/nodes/2")[0] == 404


def test_dispatch_names_its_spark_jobs(spark, engine):
    """Every Spark job of a routed request is described as "{METHOD}
    {route pattern}" in the status store; the caller's own description and
    job group are left as they were."""
    sc = spark.sparkContext
    sc.setJobDescription("outer")
    sc.setLocalProperty("spark.jobGroup.id", "described")
    try:
        api.dispatch(engine, "GET", "/api/nodes/2")
        api.dispatch(engine, "GET", "/api/nodes/count")
        assert sc.getLocalProperty("spark.job.description") == "outer"
        assert sc.getLocalProperty("spark.jobGroup.id") == "described"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    descs = set()
    for jid in sc.statusTracker().getJobIdsForGroup("described"):
        descs.add(store.job(jid).description().get())
    assert descs == {"GET /api/nodes/:id", "GET /api/nodes/count"}

"""Engine-API facade mirroring the reference's REST surface
(``src/main.cpp`` endpoint handlers): same parameters, same envelope shapes,
same error discipline — on DataFrames instead of an in-memory node map.
Transport (HTTP/multipart parsing, ``src/server/wserver.cpp``) is out of
engine scope; this layer is what such a server would call.

Endpoint parity map (all 16 reference routes):
- GET    /api/nodes              -> list_nodes        (``src/main.cpp:63-123``)
- GET    /api/nodes/:id          -> get_node          (``src/main.cpp:127-160``)
- POST   /api/nodes              -> create_node       (``src/main.cpp:164-238``)
- PUT    /api/nodes/:id          -> update_node       (``src/main.cpp:242-292``)
- DELETE /api/nodes/:id          -> delete_node       (``src/main.cpp:296-330``)
- GET    /api/nodes/count        -> count_nodes       (``src/main.cpp:334-369``)
- GET    /api/nodes/:id/files    -> node_files        (``src/main.cpp:330-348``)
- POST   /api/nodes/:id/files    -> add_files_to_node (``src/main.cpp:350-389``)
- POST   /api/nodes/:id/embedding-> generate_node_embedding (``src/main.cpp:478-512``)
- GET    /api/nodes/:id/similar  -> similar_nodes     (``src/main.cpp:518-577``)
- POST   /api/nodes/:id/tags     -> generate_node_tags(``src/main.cpp:580-615``)
- GET    /api/tags               -> tag_bank          (``src/main.cpp:619-631``)
- GET    /api/tags/:tag/nodes    -> tag_nodes         (``src/main.cpp:634-659``)
- POST   /api/tags/link-all      -> link_all_tags     (``src/main.cpp:662-694``)
- GET    /api/clusters           -> clusters          (``src/main.cpp:697-726``)
- POST   /api/cluster            -> run_cluster_job   (``src/main.cpp:441-476``)

The reference gates the embedding/tags/link-all/clusters routes on its LLM
services being configured (OPENAI_API_KEY / DEEPSEEK_API_KEY env,
``main.cpp:483,585``); this repo's stance (SURVEY §2.10) is that the
deterministic fallback clients (``functions/llm.py``) play always-initialized
services, so those routes never 500 on configuration — inject a real client
via the ``embedder``/``tagger`` parameters to call out.

Every plan a request builds is SQL text (``filter(str)``, ``selectExpr``,
``F.expr``), so building it takes a few JVM calls whatever its field count
or vector length; request values enter that text only through
``schemas.sql_literal``. Each decision is at most one Spark action: a
handler takes its 404/400 from the read it needs anyway. ``dispatch``
describes the request's Spark jobs as "{METHOD} {route pattern}".
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType

from thewhisperdb_spark.crud import GraphEngine
from thewhisperdb_spark.operators.filters import (
    find_nodes,
    has_embedding,
    point_lookup,
)
from thewhisperdb_spark.operators.sorting import paginate, sort_nodes, top_k
from thewhisperdb_spark.operators.vectors import cosine
from thewhisperdb_spark.schemas import _fits, sql_literal


class ApiError(Exception):
    """Carries the HTTP status the reference would return."""

    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


def _node_rows(df) -> list[dict[str, Any]]:
    # F9 projection shape: embedding omitted when absent (GNode.cpp:132-134)
    out = []
    for r in df.collect():
        d = r.asDict()
        if d.get("embedding") in (None, []):
            d.pop("embedding", None)
        out.append(d)
    return out


def _parse_int(value: Any, name: str, bits: int = 64) -> int:
    """``value`` as an int of the ``bits``-bit column or argument it
    feeds (64: ids, 32: limit/offset/k), else a 400."""
    try:
        v = int(value)
    except (TypeError, ValueError):
        v = None
    if v is None or not _fits(v, bits):
        raise ApiError(400, f"invalid integer for {name}: {value!r}")
    return v


def list_nodes(engine: GraphEngine, filters: dict[str, str] | None = None,
               sort: str = "id", order: str = "asc",
               limit: Any = 0, offset: Any = 0) -> dict:
    """GET /api/nodes: filter conjunction (``find_nodes``, unknown keys
    ignored) -> sort -> offset/limit -> envelope
    {status, count, nodes[, limit, offset]}."""
    limit_i = _parse_int(limit, "limit", 32)
    offset_i = _parse_int(offset, "offset", 32)
    if order not in ("asc", "desc"):
        order = "asc"
    df = sort_nodes(find_nodes(engine.nodes, filters or {}), sort,
                    ascending=(order == "asc"))
    if offset_i < 0 or limit_i < 0:
        raise ApiError(400, "limit/offset must be non-negative")
    page = paginate(df, offset=offset_i, limit=limit_i)
    nodes = _node_rows(page)
    env = {"status": "success", "count": len(nodes), "nodes": nodes}
    if limit_i or offset_i:
        env["limit"] = limit_i
        env["offset"] = offset_i
    return env


def get_node(engine: GraphEngine, node_id: Any) -> dict:
    nid = _parse_int(node_id, "id")
    try:
        node = engine.find(nid)
    except KeyError:
        raise ApiError(404, f"node {nid} not found") from None
    if node.get("embedding") in (None, []):
        node.pop("embedding", None)
    return {"status": "success", "node": node}


def create_node(engine: GraphEngine, meta: dict,
                files: list[tuple[str, bytes]] | None = None,
                storage_root: str | None = None) -> dict:
    try:
        nid = engine.ingest_node(meta, files, storage_root)
    except ValueError as e:
        raise ApiError(400, str(e)) from None
    return {"status": "success", "nodeId": nid}   # 201 envelope


def update_node(engine: GraphEngine, node_id: Any, patch: dict) -> dict:
    nid = _parse_int(node_id, "id")
    try:
        engine.update_node(nid, patch)
    except KeyError:
        raise ApiError(404, f"node {nid} not found") from None
    return {"status": "success", "nodeId": nid}


def delete_node(engine: GraphEngine, node_id: Any,
                storage_root: str | None = None) -> dict:
    nid = _parse_int(node_id, "id")
    try:
        engine.delete_node(nid, storage_root)
    except KeyError:
        raise ApiError(404, f"node {nid} not found") from None
    return {"status": "success", "deleted": nid}


def count_nodes(engine: GraphEngine, filters: dict[str, str] | None = None) -> dict:
    return {"status": "success",
            "count": find_nodes(engine.nodes, filters or {}).count()}


def similar_nodes(engine: GraphEngine, node_id: Any, k: Any = 10) -> dict:
    """GET /api/nodes/:id/similar: cosine top-k among embedded nodes, each
    result row carrying its similarity (``src/main.cpp:518-577``). Two
    actions: the probe that reads the embedding, then one top-k over it as
    a literal vector that returns the full rows in (similarity desc, id)
    order."""
    nid = _parse_int(node_id, "id")
    k_i = _parse_int(k, "k", 32)
    if k_i < 0:
        raise ApiError(400, "k must be non-negative")
    # one probe decides both errors: no row -> 404, no embedding -> 400
    probe = point_lookup(engine.nodes, nid).selectExpr("embedding").take(1)
    if not probe:
        raise ApiError(404, f"node {nid} not found")
    query = probe[0]["embedding"]
    if not query:
        raise ApiError(400, f"node {nid} has no embedding")
    q = sql_literal(query, ArrayType(FloatType()))
    scored = (engine.nodes.filter(has_embedding("embedding"))
              .filter(f"id != {sql_literal(nid, LongType())}")
              .withColumn("similarity", cosine("embedding", q)))
    rows = _node_rows(top_k(scored, "similarity", k_i, tie_col="id"))
    return {"status": "success", "count": len(rows), "nodes": rows}


def run_cluster_job(engine: GraphEngine, threshold: Any = 0.75,
                    embedder=None, dim: int = 64) -> dict:
    """POST /api/cluster: the G7 composite job; updates the engine's nodes
    (REPLACE link semantics) and returns clusters + stats."""
    from thewhisperdb_spark.plans.jobs import run_clustering

    try:
        th = float(threshold)
    except (TypeError, ValueError):
        raise ApiError(400, f"invalid threshold: {threshold!r}") from None
    out = run_clustering(engine.nodes, threshold=th, embedder=embedder, dim=dim)
    engine.nodes = out["nodes"]
    clusters = (out["labels"].groupBy("component")
                .agg(F.array_sort(F.collect_list("id")).alias("members"))
                .filter(F.size("members") > 1))
    stats = out["stats"].collect()[0].asDict()
    return {"status": "success",
            "clusters": [list(r["members"]) for r in
                         clusters.orderBy(F.size("members").desc(),
                                          "component").collect()],
            "statistics": stats}


def node_files(engine: GraphEngine, node_id: Any) -> dict:
    """GET /api/nodes/:id/files (``src/main.cpp:330-348``): 404 on unknown
    node, else the node's file paths in insertion order."""
    nid = _parse_int(node_id, "id")
    files = engine.files_of(nid)
    if files is None:
        raise ApiError(404, f"Node not found: {nid}")
    return {"status": "success", "nodeId": nid, "files": files}


def add_files_to_node(engine: GraphEngine, node_id: Any,
                      files: list[tuple[str, bytes]] | None,
                      storage_root: str | None = None) -> dict:
    """POST /api/nodes/:id/files (``src/main.cpp:350-389``): 404 on unknown
    node, 400 "No files provided" when the multipart carried no file parts,
    else add every part (M4) and return the stored paths (201 envelope).
    The node is probed once: by ``add_files``, or here when there are no
    files to add."""
    nid = _parse_int(node_id, "id")
    if not files:
        if not engine.exists(nid):
            raise ApiError(404, f"Node not found: {nid}")
        raise ApiError(400, "No files provided")
    try:
        added = engine.add_files(nid, files, storage_root)
    except KeyError:
        raise ApiError(404, f"Node not found: {nid}") from None
    return {"status": "success", "nodeId": nid, "addedFiles": added}


def _find_or_404(engine: GraphEngine, nid: int) -> dict:
    try:
        return engine.find(nid)
    except KeyError:
        raise ApiError(404, f"Node not found: {nid}") from None


def _node_text(node: dict) -> str:
    """Single-node content assembly: newline-joined title/subject/description
    (``EmbeddingService.cpp:8-43`` / ``TagService.cpp:12-42`` metadata part;
    file-text enrichment is the batch path's job, ``assemble_node_text``)."""
    return "\n".join(str(node.get(c) or "")
                     for c in ("title", "subject", "description"))


def generate_node_embedding(engine: GraphEngine, node_id: Any,
                            embedder=None, dim: int = 64) -> dict:
    """POST /api/nodes/:id/embedding (``src/main.cpp:478-512``,
    ``EmbeddingService.cpp:45-62``): unconditionally re-embed ONE node's
    assembled text (even if an embedding exists — unlike the batch
    ``embed_missing``) and store it. Single-node by contract, so the one
    client call happens driver-side; the batch path stays in mapInPandas."""
    from thewhisperdb_spark.functions.llm import hash_embedder

    nid = _parse_int(node_id, "id")
    node = _find_or_404(engine, nid)
    emb = (embedder or hash_embedder(dim))([_node_text(node)])[0]
    engine.set_fields(nid, {"embedding": [float(v) for v in emb]})
    return {"status": "success", "message": "Embedding generated",
            "nodeId": nid}


def generate_node_tags(engine: GraphEngine, node_id: Any,
                       tagger=None) -> dict:
    """POST /api/nodes/:id/tags (``src/main.cpp:580-615``,
    ``TagService.cpp:44-94``): tag ONE node from its assembled content,
    report which tags are new to the bank, add them (A8), REPLACE the node's
    tags, then merge-link it to Jaccard>=0.3 partners (bidirectional,
    append-if-absent — ``TagService.cpp:107-151``)."""
    from thewhisperdb_spark.functions.llm import keyword_tagger
    from thewhisperdb_spark.operators.tags import jaccard_partners

    nid = _parse_int(node_id, "id")
    content = _node_text(_find_or_404(engine, nid)).strip()
    if not content:
        raise ApiError(500, "No content to generate tags from")
    # sorted: the tagger keeps vocabulary hits in bank order and truncates,
    # so an unsorted bank would make the tags depend on its row order
    bank = sorted(r["tag"] for r in engine.tag_bank.collect())
    if tagger is None:  # deterministic stand-in honoring TagClient's contract
        tagger = keyword_tagger(bank)
    tags = list(tagger([content])[0])
    new_tags = [t for t in tags if t not in set(bank)]
    if new_tags:
        engine.add_tags_to_bank(new_tags)
    engine.set_fields(nid, {"tags": tags})
    # updateLinksForNode(nid, 0.3)
    partners = [r["id"] for r in
                jaccard_partners(engine.nodes, nid, threshold=0.3).collect()]
    engine.link(nid, partners)
    return {"status": "success", "nodeId": nid, "tags": tags,
            "newTagsAdded": new_tags, "linkedNodes": sorted(partners)}


def tag_bank(engine: GraphEngine) -> dict:
    """GET /api/tags (``src/main.cpp:619-631``): the bank + its size."""
    bank = sorted(r["tag"] for r in engine.tag_bank.collect())
    return {"status": "success", "tagBank": bank, "count": len(bank)}


def tag_nodes(engine: GraphEngine, tag: str) -> dict:
    """GET /api/tags/:tag/nodes (``src/main.cpp:634-659``): full node
    envelopes for every node carrying the tag (J1 + F9 projection)."""
    from thewhisperdb_spark.operators.tags import nodes_by_tag

    # id order is set on the driver: the page is already collected, and a
    # Spark orderBy would add a shuffle to the request
    rows = sorted(_node_rows(nodes_by_tag(engine.nodes, tag)),
                  key=lambda d: d["id"])
    return {"status": "success", "tag": tag, "nodes": rows,
            "count": len(rows)}


def link_all_tags(engine: GraphEngine, threshold: Any = 0.3) -> dict:
    """POST /api/tags/link-all (``src/main.cpp:662-694``,
    ``TagService.cpp:155-167``): batch-relink every tagged node at the
    Jaccard threshold (G5 — ONE self-join, vs the reference's per-node J4
    loop) and report how many new undirected links were created (each new
    pair counts once, matching the reference's already-linked skip)."""
    from thewhisperdb_spark.plans.jobs import relink_by_tags

    try:
        th = float(threshold)
    except (TypeError, ValueError):
        raise ApiError(400, "Invalid threshold parameter") from None
    if not (0.0 <= th <= 1.0):
        raise ApiError(400, "Threshold must be between 0 and 1")
    before = engine.edges().distinct().count()
    engine.nodes = relink_by_tags(engine.nodes, threshold=th)
    after = engine.edges().distinct().count()
    return {"status": "success", "linksCreated": (after - before) // 2,
            "threshold": th}


def clusters(engine: GraphEngine) -> dict:
    """GET /api/clusters (``src/main.cpp:697-726``, ``TagService.cpp:169-253``):
    connected components over the stored links (G2, singletons included),
    shared tags per the A5 >=2-occurrences rule (single-node clusters show
    all their tags), sorted by size desc and renumbered 1..n (A6)."""
    from thewhisperdb_spark.operators.aggregates import (
        cluster_sizes,
        shared_tags_per_cluster,
    )
    from thewhisperdb_spark.operators.graph import connected_components

    labels = connected_components(engine.nodes.select("id"), engine.edges())
    tagged = (engine.nodes.select("id", "tags")
              .join(labels.withColumnRenamed("component", "cluster_id"), "id"))
    ranked = cluster_sizes(tagged)  # (cluster_id, size, cluster_rank)
    shared = (shared_tags_per_cluster(tagged)
              .groupBy("cluster_id")
              .agg(F.array_sort(F.collect_list("tag")).alias("sharedTags")))
    members = (tagged.groupBy("cluster_id")
               .agg(F.array_sort(F.collect_list("id")).alias("members")))
    report = (ranked.join(members, "cluster_id")
              .join(shared, "cluster_id", "left")
              .orderBy("cluster_rank"))
    out = [{"id": r["cluster_rank"], "nodes": list(r["members"]),
            "size": r["size"], "sharedTags": list(r["sharedTags"] or [])}
           for r in report.collect()]
    return {"status": "success", "count": len(out), "clusters": out}


# ---------------------------------------------------------------------------
# transport-free router
# ---------------------------------------------------------------------------

# (method, path-pattern) endpoint table mirroring the reference's
# ``server->add_endpoint`` registrations (``src/main.cpp:63-577,392-406``).
# Patterns are '/'-segmented; ':name' segments capture path params. Order
# matters: '/api/nodes/count' is matched before '/api/nodes/:id', same as the
# reference's first-match loop (``src/server/wserver.cpp:226-231``).
_ROUTES: list[tuple[str, str]] = [
    ("GET", "/health"),
    ("GET", "/api/nodes/count"),
    ("GET", "/api/nodes/:id/similar"),
    ("GET", "/api/nodes/:id/files"),
    ("POST", "/api/nodes/:id/files"),
    ("POST", "/api/nodes/:id/embedding"),
    ("POST", "/api/nodes/:id/tags"),
    ("GET", "/api/nodes/:id"),
    ("GET", "/api/nodes"),
    ("POST", "/api/nodes"),
    ("PUT", "/api/nodes/:id"),
    ("DELETE", "/api/nodes/:id"),
    ("POST", "/api/tags/link-all"),
    ("GET", "/api/tags/:tag/nodes"),
    ("GET", "/api/tags"),
    ("GET", "/api/clusters"),
    ("POST", "/api/cluster"),
]

_JOB_DESCRIPTION = "spark.job.description"


def _match(pattern: str, path: str) -> dict[str, str] | None:
    pseg = pattern.strip("/").split("/")
    seg = path.strip("/").split("/")
    if len(pseg) != len(seg):
        return None
    params: dict[str, str] = {}
    for p, s in zip(pseg, seg):
        if p.startswith(":"):
            params[p[1:]] = s
        elif p != s:
            return None
    return params


def _parse_body(body) -> dict:
    """JSON-body discipline of the reference's POST/PUT handlers: no body ->
    400 "No data received" (``src/main.cpp:196``), malformed JSON -> 400
    "Invalid JSON: ..." (``src/main.cpp:235``); a pre-parsed dict passes
    through (the multipart metadata part after extraction)."""
    import json

    if body is None or body == "":
        raise ApiError(400, "No data received")
    if isinstance(body, dict):
        return body
    try:
        parsed = json.loads(body)
    except (TypeError, ValueError) as e:
        raise ApiError(400, f"Invalid JSON: {e}") from None
    if not isinstance(parsed, dict):
        raise ApiError(400, "Invalid JSON body")
    return parsed


def dispatch(engine: GraphEngine, method: str, path: str,
             query: dict[str, str] | None = None, body=None,
             files: list[tuple[str, bytes]] | None = None,
             storage_root: str | None = None,
             embedder=None, tagger=None) -> tuple[int, dict]:
    """Route one request to its handler and return ``(http_status,
    envelope)`` — the reference's ``wserver.cpp`` request loop minus the
    socket: unknown path -> 404 "Endpoint not found", known path with the
    wrong method -> 405 "Method not allowed"
    (``src/server/wserver.cpp:233-243``), handler-raised ApiError -> its
    status with the error envelope, success -> 200 (201 for create)."""
    method = method.upper()
    query = query or {}
    matched = None
    path_exists = False
    for m, pattern in _ROUTES:
        params = _match(pattern, path)
        if params is None:
            continue
        path_exists = True
        if m == method:
            matched = (pattern, params)
            break
    if matched is None:
        return ((405, _error("Method not allowed")) if path_exists
                else (404, _error("Endpoint not found")))
    pattern, params = matched
    # the request's Spark jobs carry its route in the status store; the job
    # group is left alone (callers that count jobs own it)
    sc = engine.spark.sparkContext
    prev = sc.getLocalProperty(_JOB_DESCRIPTION)
    sc.setJobDescription(f"{method} {pattern}")
    try:
        return _handle(engine, method, pattern, params, query, body, files,
                       storage_root, embedder, tagger)
    except ApiError as e:
        return e.status, _error(str(e))
    finally:
        sc.setLocalProperty(_JOB_DESCRIPTION, prev)


def _error(message: str) -> dict:
    return {"status": "error", "message": message}


def _handle(engine: GraphEngine, method: str, pattern: str,
            params: dict[str, str], query: dict[str, str], body, files,
            storage_root: str | None, embedder, tagger) -> tuple[int, dict]:
    """Run the handler of the matched route; ApiError propagates."""
    if pattern == "/health":
        return 200, {"status": "ok", "service": "TheWhisperDB",
                     "nodes_count": engine.count()}
    if pattern == "/api/nodes/count":
        return 200, count_nodes(engine, query)
    if pattern == "/api/nodes/:id/similar":
        return 200, similar_nodes(engine, params["id"],
                                  k=query.get("k", 10))
    if pattern == "/api/nodes/:id/files":
        if method == "GET":
            return 200, node_files(engine, params["id"])
        return 201, add_files_to_node(engine, params["id"], files,
                                      storage_root)
    if pattern == "/api/nodes/:id/embedding":
        return 200, generate_node_embedding(engine, params["id"],
                                            embedder=embedder)
    if pattern == "/api/nodes/:id/tags":
        return 200, generate_node_tags(engine, params["id"],
                                       tagger=tagger)
    if pattern == "/api/tags/link-all":
        return 200, link_all_tags(engine,
                                  query.get("threshold", 0.3))
    if pattern == "/api/tags/:tag/nodes":
        return 200, tag_nodes(engine, params["tag"])
    if pattern == "/api/tags":
        return 200, tag_bank(engine)
    if pattern == "/api/clusters":
        return 200, clusters(engine)
    if pattern == "/api/nodes/:id":
        if method == "GET":
            return 200, get_node(engine, params["id"])
        if method == "PUT":
            return 200, update_node(engine, params["id"],
                                    _parse_body(body))
        return 200, delete_node(engine, params["id"], storage_root)
    if pattern == "/api/nodes":
        if method == "GET":
            return 200, list_nodes(
                engine, query,
                sort=query.get("sort", "id"),
                order=query.get("order", "asc"),
                limit=query.get("limit", 0),
                offset=query.get("offset", 0))
        return 201, create_node(engine, _parse_body(body), files,
                                storage_root)
    # POST /api/cluster
    b = _parse_body(body) if body not in (None, "") else {}
    return 200, run_cluster_job(engine, b.get("threshold", 0.75))

"""api_mixed: a fixed, seeded sequence of REST requests through
``api.dispatch`` against a 300-node graph, reads and writes interleaved.

A client-side model of the graph (``Model``) predicts every reply. The
request *types* follow a fixed schedule that no seed changes; the seed picks
the graph and every target (ids, filters, tags). The workload runs in
sessions: each loads the graph afresh and sends ``SCHEDULE``, so the
engine's lineage depth at every request is the same in every session and on
every run. Set-up ends with one cold session; the timed window holds the
next ones, their loads untimed.
"""

from __future__ import annotations

import hashlib
import math
import os
import re

import numpy as np

import inputs
from common import run_op

N_NODES = 300
READS = ("get", "list", "count", "tag_nodes", "similar", "files", "tag_bank")
# one session: each of the 13 request types once, reads between writes (a
# mix chosen to cover every type within the run-time budget, not measured
# traffic). Similar, the dearest read, goes first: after three writes it
# costs four times as much.
SCHEDULE = ("similar", "get", "list", "create", "count", "update",
            "tag_nodes", "add_files", "files", "gen_embedding", "tag_bank",
            "gen_tags", "delete")
# nominal seconds of one timed session on a 4-CPU machine: --seconds S runs
# round(S / SESSION_S) sessions, at least one
SESSION_S = 15
SIMILAR_K = 10
TAG_THRESHOLD = 0.3
_STORED = re.compile(r"^\d{4}/\d{2}/\d{2}/(.+)_[0-9a-f]{8}(\.\w+)?$")


def canonical(path: str | None) -> str | None:
    """Stored attachment path -> the name it was uploaded under."""
    if path is None:
        return None
    m = _STORED.match(path)
    return (m.group(1) + (m.group(2) or "")) if m else path


def hash_embedding(text: str, dim: int = inputs.DIM) -> np.ndarray:
    """The deterministic embedder's contract: blake2b feature hashing of
    lowercase word tokens with a sign bit, L2-normalised, stored as float32."""
    vec = [0.0] * dim
    for tok in re.findall(r"\w+", text.lower()):
        h = hashlib.blake2b(tok.encode(), digest_size=8).digest()
        vec[int.from_bytes(h[:4], "big") % dim] += 1.0 if h[4] & 1 else -1.0
    n = math.sqrt(sum(x * x for x in vec))
    return np.array([x / n for x in vec] if n else vec, dtype=np.float32)


class Model:
    """What the graph must look like after each request."""

    def __init__(self, g: dict):
        self.nodes = {n["id"]: dict(n, tags=list(n["tags"]),
                                    linked_nodes=list(n["linked_nodes"]),
                                    storage_path=canonical(n["storage_path"]))
                      for n in g["nodes"]}
        self.files: dict[int, list[str]] = {}
        for nid, p in g["files"]:
            self.files.setdefault(nid, []).append(canonical(p))
        self.bank = set(g["bank"])

    def text(self, nid: int) -> str:
        n = self.nodes[nid]
        return "\n".join(str(n.get(c) or "")
                         for c in ("title", "subject", "description"))

    def vocab_hits(self, nid: int) -> list[str]:
        toks = set(re.findall(r"\w+", self.text(nid).lower()))
        return [t for t in toks if t in self.bank]

    def tagger(self, nid: int) -> list[str]:
        """The keyword tagger's contract: up to 5 bank tags found in the
        text, then up to 3 new tokens (len > 3) by frequency, then name."""
        toks = re.findall(r"\w+", self.text(nid).lower())
        hits = self.vocab_hits(nid)
        room = min(5 - len(hits), 3)
        freq: dict[str, int] = {}
        for t in toks:
            if t not in self.bank and len(t) > 3:
                freq[t] = freq.get(t, 0) + 1
        new = sorted(freq, key=lambda k: (-freq[k], k))[:room] if room > 0 else []
        return hits + new

    def partners(self, nid: int) -> list[int]:
        mine = set(self.nodes[nid]["tags"])
        if not mine:
            return []
        out = []
        for j, n in self.nodes.items():
            theirs = set(n["tags"])
            if j == nid or not theirs:
                continue
            inter = len(mine & theirs)
            if inter and inter / len(mine | theirs) >= TAG_THRESHOLD:
                out.append(j)
        return sorted(out)

    def top_k(self, nid: int, k: int) -> tuple[list[int], np.ndarray, np.ndarray]:
        ids = [j for j, n in self.nodes.items()
               if n["embedding"] is not None and j != nid]
        mat = np.stack([self.nodes[j]["embedding"] for j in ids]).astype(np.float64)
        q = self.nodes[nid]["embedding"].astype(np.float64)
        sims = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        return ids, sims, np.lexsort((np.array(ids), -sims))[:k]


def node_matches(got: dict, want: dict) -> bool:
    emb = got.get("embedding")
    if (emb is None) != (want["embedding"] is None):
        return False
    if emb is not None and not np.allclose(np.asarray(emb, dtype=np.float32),
                                           want["embedding"], atol=1e-6):
        return False
    scalar = ("id", "title", "author", "subject", "course", "description", "date")
    return (all(got.get(c) == want[c] for c in scalar)
            and sorted(got.get("tags") or []) == sorted(want["tags"])
            and sorted(got.get("linked_nodes") or []) == sorted(want["linked_nodes"])
            and canonical(got.get("storage_path")) == want["storage_path"])


class ApiMixed:
    name = "api_mixed"

    def __init__(self, seed: int, cache: str, seconds: int):
        path = os.path.join(cache, f"api_graph-s{seed}-n{N_NODES}")
        self.graph = inputs.api_graph(seed, N_NODES)
        inputs.write_graph(self.graph, path)
        self.input_path = path
        g = self.graph
        self.words, self.authors = g["words"], g["authors"]
        self.subjects, self.courses = g["subjects"], g["courses"]
        self.base_bank = sorted(g["bank"])
        self.rng = np.random.default_rng([seed, 11])
        self.n_sessions = max(1, round(seconds / SESSION_S))
        self.uploads = 0
        self.sizes = {"nodes": N_NODES, "files": len(g["files"]),
                      "tag_bank": len(g["bank"]), "dim": inputs.DIM,
                      "requests_per_session": len(SCHEDULE),
                      "cold_sessions": 1, "warmup_sessions": 0,
                      "timed_sessions": self.n_sessions}

    # ---- set-up and timed window ----------------------------------------

    def fresh_engine(self) -> None:
        """Load the input graph (and a model of it) afresh."""
        from thewhisperdb_spark.crud import GraphEngine

        self.engine = GraphEngine.load(self.spark, self.input_path)
        self.engine.checkpoint()
        self.model = Model(self.graph)

    def setup(self, spark, work: str, tracer) -> list:
        self.spark = spark
        self.storage_root = os.path.join(work, "storage")
        return self.sessions(1, tracer)

    def timed(self, tracer) -> list:
        return self.sessions(self.n_sessions, tracer)

    def sessions(self, n: int, tracer) -> list:
        ops = []
        for _ in range(n):
            self.fresh_engine()
            ops += [self.request(kind, tracer) for kind in SCHEDULE]
        return ops

    def plan_shape(self) -> tuple[int, int]:
        """(analyzed-plan node count, LogicalRDD leaves) of engine.nodes."""
        plan = self.engine.nodes._jdf.queryExecution().analyzed()
        lines = [ln for ln in plan.treeString().splitlines() if ln.strip()]
        return len(lines), sum("LogicalRDD" in ln for ln in lines)

    # ---- one request -----------------------------------------------------

    def request(self, kind: str, tracer):
        from thewhisperdb_spark import api

        method, path, query, body, files, check = getattr(self, f"_{kind}")()
        cls = "read" if kind in READS else "write"

        def call():
            return api.dispatch(self.engine, method, path, query=query,
                                body=body, files=files,
                                storage_root=self.storage_root)

        reply, op = run_op(tracer, kind, cls, call)
        # the model advances even when the reply is wrong, so the request
        # sequence never depends on the program's answers
        try:
            op.ok = op.ok and bool(check(*reply))
        except (KeyError, TypeError, ValueError):
            op.ok = False
        op.items = 1
        return op

    # ---- target choice ---------------------------------------------------

    def _pick(self, pool=None) -> int:
        ids = sorted(self.model.nodes if pool is None else pool)
        return int(ids[int(self.rng.integers(len(ids)))])

    def _embedded(self) -> list[int]:
        return [j for j, n in self.model.nodes.items() if n["embedding"] is not None]

    def _words(self, k: int) -> str:
        return " ".join(self.words[int(i)] for i in self.rng.integers(len(self.words), size=k))

    # ---- reads -----------------------------------------------------------

    def _get(self):
        nid = self._pick()
        want = self.model.nodes[nid]
        return ("GET", f"/api/nodes/{nid}", None, None, None,
                lambda st, env: st == 200 and node_matches(env["node"], want))

    def _filters(self) -> dict[str, str]:
        pick = int(self.rng.integers(4))
        r = self.rng
        if pick == 0:
            return {"subject": self.subjects[int(r.integers(len(self.subjects)))]}
        if pick == 1:
            return {"tag": self.base_bank[int(r.integers(len(self.base_bank)))]}
        if pick == 2:
            return {"author": self.authors[int(r.integers(len(self.authors)))],
                    "course": str(self.courses[int(r.integers(len(self.courses)))])}
        return {"title": self.words[int(r.integers(len(self.words)))][:3]}

    def _select(self, filters: dict[str, str]) -> list[dict]:
        def keep(n):
            return all(
                (k == "subject" and n["subject"] == v)
                or (k == "author" and n["author"] == v)
                or (k == "course" and n["course"] == int(v))
                or (k == "tag" and v in n["tags"])
                or (k == "title" and v in n["title"]) for k, v in filters.items())
        return [n for _, n in sorted(self.model.nodes.items()) if keep(n)]

    def _list(self):
        filters = self._filters()
        key = ("title", "date", "course", "author")[int(self.rng.integers(4))]
        order = ("asc", "desc")[int(self.rng.integers(2))]
        limit, offset = 20, int(self.rng.integers(0, 5)) * 20
        rows = sorted(self._select(filters), key=lambda n: n[key],
                      reverse=(order == "desc"))
        want = [n["id"] for n in rows[offset:offset + limit]]
        query = dict(filters, sort=key, order=order, limit=str(limit),
                     offset=str(offset))
        return ("GET", "/api/nodes", query, None, None,
                lambda st, env: st == 200 and [n["id"] for n in env["nodes"]] == want)

    def _count(self):
        filters = self._filters()
        want = len(self._select(filters))
        return ("GET", "/api/nodes/count", filters, None, None,
                lambda st, env: st == 200 and env["count"] == want)

    def _tag_nodes(self):
        tag = self.base_bank[int(self.rng.integers(len(self.base_bank)))]
        want = [n["id"] for n in self._select({"tag": tag})]
        return ("GET", f"/api/tags/{tag}/nodes", None, None, None,
                lambda st, env: (st == 200 and env["count"] == len(want)
                                 and [n["id"] for n in env["nodes"]] == want))

    def _similar(self):
        nid = self._pick(self._embedded())
        ids, sims, top = self.model.top_k(nid, SIMILAR_K)
        sim_of = dict(zip(ids, sims))
        floor = sims[top[-1]]
        above = {ids[i] for i in np.nonzero(sims > floor + 1e-9)[0]}

        def check(st, env):
            if st != 200 or env["count"] != len(top):
                return False
            got = [(n["id"], n["similarity"]) for n in env["nodes"]]
            # every returned node scores as the model says, the list is in
            # (similarity desc, id) order, and nothing left out scores higher
            # (ties within 1e-9 may resolve either way)
            return (all(i in sim_of and abs(s - sim_of[i]) < 1e-9 for i, s in got)
                    and got == sorted(got, key=lambda p: (-p[1], p[0]))
                    and all(s >= floor - 1e-9 for _, s in got)
                    and above <= {i for i, _ in got})
        return ("GET", f"/api/nodes/{nid}/similar", {"k": str(SIMILAR_K)},
                None, None, check)

    def _files(self):
        nid = self._pick()
        want = sorted(self.model.files.get(nid, []))
        return ("GET", f"/api/nodes/{nid}/files", None, None, None,
                lambda st, env: (st == 200 and
                                 sorted(canonical(p) for p in env["files"]) == want))

    def _tag_bank(self):
        want = sorted(self.model.bank)
        return ("GET", "/api/tags", None, None, None,
                lambda st, env: (st == 200 and env["tagBank"] == want
                                 and env["count"] == len(want)))

    # ---- writes (the model is updated as the request is built) ----------

    def _upload(self, prefix: str) -> tuple[str, bytes]:
        self.uploads += 1
        return f"{prefix}{self.uploads}.txt", b"attachment %d" % self.uploads

    def _create(self):
        m = self.model
        nid = max(m.nodes) + 1
        name, data = self._upload("create")
        meta = {"title": self._words(3),
                "author": self.authors[int(self.rng.integers(len(self.authors)))],
                "subject": self.subjects[int(self.rng.integers(len(self.subjects)))],
                "course": int(self.courses[int(self.rng.integers(len(self.courses)))]),
                "description": self._words(8),
                "date": "2025-01-01 00:00:00",
                "tags": [self.base_bank[int(i)] for i in
                         self.rng.choice(len(self.base_bank), size=3, replace=False)]}
        m.nodes[nid] = dict(meta, id=nid, storage_path=name, linked_nodes=[],
                            embedding=None)
        m.files[nid] = [name]
        return ("POST", "/api/nodes", None, dict(meta), [(name, data)],
                lambda st, env: st == 201 and env["nodeId"] == nid)

    def _update(self):
        nid = self._pick()
        patch = {"title": self._words(3),
                 "course": int(self.courses[int(self.rng.integers(len(self.courses)))]),
                 "tags": [self.base_bank[int(i)] for i in
                          self.rng.choice(len(self.base_bank), size=2, replace=False)]}
        self.model.nodes[nid].update(patch)
        return ("PUT", f"/api/nodes/{nid}", None, dict(patch), None,
                lambda st, env: st == 200 and env["nodeId"] == nid)

    def _delete(self):
        nid = self._pick()
        del self.model.nodes[nid]
        self.model.files.pop(nid, None)
        return ("DELETE", f"/api/nodes/{nid}", None, None, None,
                lambda st, env: st == 200 and env["deleted"] == nid)

    def _add_files(self):
        nid = self._pick()
        name, data = self._upload("add")
        node = self.model.nodes[nid]
        if not self.model.files.get(nid):
            node["storage_path"] = name
        self.model.files.setdefault(nid, []).append(name)
        return ("POST", f"/api/nodes/{nid}/files", None, None, [(name, data)],
                lambda st, env: (st == 201 and
                                 [canonical(p) for p in env["addedFiles"]] == [name]))

    def _gen_tags(self):
        m = self.model
        # a node whose text holds more than five bank tags would be tagged
        # by the bank's row order, which the API does not define
        nid = self._pick([j for j in m.nodes if len(m.vocab_hits(j)) <= 5])
        tags = m.tagger(nid)
        new = [t for t in tags if t not in m.bank]
        m.bank.update(new)
        m.nodes[nid]["tags"] = tags
        partners = m.partners(nid)
        links = m.nodes[nid]["linked_nodes"]
        links.extend(p for p in partners if p not in links)
        for p in partners:
            if nid not in m.nodes[p]["linked_nodes"]:
                m.nodes[p]["linked_nodes"].append(nid)
        return ("POST", f"/api/nodes/{nid}/tags", None, None, None,
                lambda st, env: (st == 200 and sorted(env["tags"]) == sorted(tags)
                                 and sorted(env["newTagsAdded"]) == sorted(new)
                                 and env["linkedNodes"] == partners))

    def _gen_embedding(self):
        nid = self._pick()
        self.model.nodes[nid]["embedding"] = hash_embedding(self.model.text(nid))
        return ("POST", f"/api/nodes/{nid}/embedding", None, None, None,
                lambda st, env: st == 200 and env["nodeId"] == nid)

"""Seeded input generators with planted truth, one per workload.

Every generator is a pure function of ``(seed, size)``: it returns the rows
it planted together with the answers the program must reproduce, and
``write_*`` persists the rows once as parquet in the layout the program's
loaders read (``GraphEngine.load`` for the graph tables, ``catalog.load_table``
for the document corpus). Any seed yields inputs of the same shape, so a claim
can be re-checked on an unseen seed. Nothing here imports Spark: input
generation stays outside every timed region, ``setup_s`` included.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CONSONANTS = "bcdfghjklmnprstvwz"
VOWELS = "aeiou"
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def lexicon(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words of 4-8 letters (no digits, so
    no word can match a PII pattern; none is a stopword)."""
    out: list[str] = []
    seen: set[str] = set(STOPWORDS)
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = "".join(CONSONANTS[int(rng.integers(len(CONSONANTS)))]
                    + VOWELS[int(rng.integers(len(VOWELS)))] for _ in range(k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _unit(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _file_path(rng: np.random.Generator, base: str, ext: str) -> str:
    """A stored-attachment path in ``storage.save_file``'s layout."""
    token = "".join("0123456789abcdef"[int(x)] for x in rng.integers(16, size=8))
    return (f"2024/{int(rng.integers(1, 13)):02d}/{int(rng.integers(1, 29)):02d}/"
            f"{base}_{token}{ext}")


NODE_ARROW = pa.schema([
    ("id", pa.int64()), ("title", pa.string()), ("author", pa.string()),
    ("subject", pa.string()), ("course", pa.int32()),
    ("description", pa.string()), ("date", pa.string()),
    ("tags", pa.list_(pa.string())), ("storage_path", pa.string()),
    ("linked_nodes", pa.list_(pa.int64())),
    ("embedding", pa.list_(pa.float32())),
])


def _write_table(rows: dict, schema: pa.Schema, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(rows, schema=schema),
                   os.path.join(path, "part-00000.parquet"))


def _publish(tmp: str, final: str) -> None:
    """Make a fully written input directory visible under its final name."""
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


def write_graph(g: dict, path: str) -> None:
    """Persist a generated graph as the three ``GraphEngine.save`` tables."""
    if os.path.isdir(path):
        return
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    nodes = g["nodes"]
    cols = {f.name: [n[f.name] for n in nodes] for f in NODE_ARROW}
    cols["embedding"] = [None if e is None else e.tolist()
                         for e in cols["embedding"]]
    _write_table(cols, NODE_ARROW, os.path.join(tmp, "nodes"))
    _write_table({"node_id": [f[0] for f in g["files"]],
                  "file_path": [f[1] for f in g["files"]]},
                 pa.schema([("node_id", pa.int64()), ("file_path", pa.string())]),
                 os.path.join(tmp, "node_files"))
    _write_table({"tag": list(g["bank"])}, pa.schema([("tag", pa.string())]),
                 os.path.join(tmp, "tag_bank"))
    _publish(tmp, path)


# ---------------------------------------------------------------------------
# api_mixed: a general-purpose graph the request mix reads and writes
# ---------------------------------------------------------------------------

def api_graph(seed: int, n_nodes: int, n_tags: int = 300) -> dict:
    """Nodes with 64-d embeddings (90% of them), 2-5 tags from a bank of
    ``n_tags``, metadata drawn from small vocabularies (so filters select a
    few percent of the graph), symmetric links on 10% and 1-2 files on 30%.
    Descriptions mention bank tags, so the tagger finds vocabulary hits."""
    rng = np.random.default_rng([seed, 1])
    words = np.array(lexicon(rng, 2000))
    bank = np.array([f"tag{w}" for w in lexicon(rng, n_tags)])
    authors = [f"author{w}" for w in lexicon(rng, 40)]
    subjects = [f"subject{w}" for w in lexicon(rng, 16)]
    courses = [100 + 7 * i for i in range(24)]
    emb = _unit(rng, n_nodes)
    has_emb = rng.random(n_nodes) < 0.9
    n_tag = rng.integers(2, 6, size=n_nodes)
    tag_draw = np.argsort(rng.random((n_nodes, n_tags)), axis=1)[:, :8]
    n_desc = rng.integers(6, 12, size=n_nodes)
    n_desc_tag = rng.integers(0, 4, size=n_nodes)
    desc_draw = rng.integers(len(words), size=(n_nodes, 12))
    title_draw = rng.integers(len(words), size=(n_nodes, 3))
    author = rng.integers(len(authors), size=n_nodes)
    subject = rng.integers(len(subjects), size=n_nodes)
    course = rng.integers(len(courses), size=n_nodes)
    stamp = rng.integers([1, 1, 0, 0], [13, 29, 24, 60], size=(n_nodes, 4))
    n_files = np.where(rng.random(n_nodes) < 0.3, rng.integers(1, 3, size=n_nodes), 0)
    nodes, files = [], []
    for i in range(n_nodes):
        nid = i + 1
        # tags and description tags are disjoint draws from one permutation
        tags = bank[tag_draw[i, :n_tag[i]]].tolist()
        desc = (words[desc_draw[i, :n_desc[i]]].tolist()
                + bank[tag_draw[i, 5:5 + n_desc_tag[i]]].tolist())
        desc = [desc[int(k)] for k in rng.permutation(len(desc))]
        mo, dd, hh, mi = (int(x) for x in stamp[i])
        node = {
            "id": nid,
            "title": " ".join(words[title_draw[i]].tolist()),
            "author": authors[author[i]],
            "subject": subjects[subject[i]],
            "course": courses[course[i]],
            "description": " ".join(desc),
            "date": f"2024-{mo:02d}-{dd:02d} {hh:02d}:{mi:02d}:00",
            "tags": tags,
            "storage_path": None,
            "linked_nodes": [],
            "embedding": emb[i] if has_emb[i] else None,
        }
        for k in range(int(n_files[i])):
            p = _file_path(rng, f"doc{nid}x{k}", ".txt")
            files.append((nid, p))
            node["storage_path"] = node["storage_path"] or p
        nodes.append(node)
    for i in rng.choice(n_nodes, size=n_nodes // 10, replace=False):
        j = int(rng.integers(n_nodes))
        if j != i and (j + 1) not in nodes[i]["linked_nodes"]:
            nodes[i]["linked_nodes"].append(j + 1)
            nodes[j]["linked_nodes"].append(int(i) + 1)
    return {"nodes": nodes, "files": files, "bank": bank.tolist(),
            "words": words.tolist(), "authors": authors, "subjects": subjects, "courses": courses}


# ---------------------------------------------------------------------------
# curation_pipeline: a document corpus with every defect class planted
# ---------------------------------------------------------------------------

def _split_of(doc_id: int) -> str:
    """``sampling.three_way_split``'s rule, re-derived with hashlib."""
    key = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
    return "train" if key < "cc" else ("val" if key < "e6" else "test")


def _good_text(rng: np.random.Generator, words: list[str]) -> list[str]:
    """80-140 tokens, every sixth a stopword, no repeated word 3-gram."""
    n = int(rng.integers(80, 141))
    return [STOPWORDS[int(rng.integers(len(STOPWORDS)))] if i % 6 == 3
            else words[int(rng.integers(len(words)))] for i in range(n)]


def corpus(seed: int, n_docs: int, pack_budget: int = 256) -> dict:
    """A corpus of ``n_docs`` documents (doc_id, text, n_chars, lang):

    - 8% low quality (too short / no stopwords / repetitive),
    - 6% off-language (``lang`` de/fr; otherwise good text),
    - 6% exact copies and 6% near copies (one letter changed) of good docs,
    - 4% of train-split survivors contaminated with an 8-gram of a val or
      test survivor.

    Returns the rows and the stage counts ``run_pretraining_pipeline`` must
    report."""
    rng = np.random.default_rng([seed, 3])
    words = lexicon(rng, 6000)
    n_low, n_lang = int(0.08 * n_docs), int(0.06 * n_docs)
    n_exact, n_near = int(0.06 * n_docs), int(0.06 * n_docs)
    n_base = n_docs - n_low - n_lang - n_exact - n_near
    ids = [int(x) + 1 for x in rng.permutation(n_docs)]
    it = iter(ids)
    docs: dict[int, dict] = {}
    base = []
    for _ in range(n_base):
        d = next(it)
        docs[d] = {"toks": _good_text(rng, words), "lang": "en"}
        base.append(d)
    for k in range(n_low):
        d = next(it)
        kind = k % 3
        if kind == 0:
            toks = list(rng.choice(words, size=int(rng.integers(3, 9))))
        elif kind == 1:
            toks = list(rng.choice(words, size=int(rng.integers(60, 100))))
        else:
            phrase = list(rng.choice(words, size=4))
            toks = (phrase + ["the"]) * 15
        docs[d] = {"toks": toks, "lang": "en"}
    for k in range(n_lang):
        d = next(it)
        docs[d] = {"toks": _good_text(rng, words), "lang": ("de", "fr")[k % 2]}
    # duplicate groups: (source, copy); each source gets at most one copy
    sources = [base[int(i)] for i in rng.choice(len(base), size=n_exact + n_near,
                                                replace=False)]
    exact_src, near_src = sources[:n_exact], sources[n_exact:]
    for s in exact_src:
        docs[next(it)] = {"toks": list(docs[s]["toks"]), "lang": "en"}
    for s in near_src:
        # one letter of one word becomes 'q' (absent from the lexicon): the
        # char-3-gram Jaccard to the source stays ~0.99
        toks = list(docs[s]["toks"])
        j = 6 * int(rng.integers(len(toks) // 6))
        toks[j] = toks[j][:2] + "q" + toks[j][3:]
        docs[next(it)] = {"toks": toks, "lang": "en"}
    # each duplicate pair keeps its smaller id
    survivors = set(base)
    pair_ids = ids[n_base + n_low + n_lang:]
    for s, c in zip(exact_src + near_src, pair_ids):
        survivors.discard(s)
        survivors.add(min(s, c))
    # contamination: an 8-gram of a val/test survivor spliced into a train
    # survivor that has no duplicate copy (so no copy must change with it)
    dup_members = set(sources) | set(pair_ids)
    train = sorted(d for d in survivors if _split_of(d) == "train")
    held = sorted(d for d in survivors if _split_of(d) != "train")
    clean_train = [d for d in train if d not in dup_members]
    n_contam = max(1, int(0.04 * len(train)))
    victims = [clean_train[int(i)] for i in
               rng.choice(len(clean_train), size=n_contam, replace=False)]
    for v in victims:
        src = docs[held[int(rng.integers(len(held)))]]["toks"]
        j = int(rng.integers(len(src) - 8))
        at = int(rng.integers(len(docs[v]["toks"])))
        docs[v]["toks"][at:at] = src[j:j + 8]
    decontaminated = [d for d in train if d not in set(victims)]
    # packing: tokens per surviving train doc in doc_id order, bins of
    # ``pack_budget`` tokens assigned by where each document starts
    cum, bins = 0, set()
    for d in sorted(decontaminated):
        bins.add(cum // pack_budget)
        cum += len(docs[d]["toks"])
    n_quality = n_docs - n_low
    stages = [
        ("ingest", n_docs),
        ("quality_filter", n_quality),
        ("language_filter", n_quality - n_lang),
        ("exact_dedup", n_quality - n_lang - n_exact),
        ("near_dedup", n_quality - n_lang - n_exact - n_near),
        ("train_split", len(train)),
        ("decontaminated_train", len(decontaminated)),
        ("packed_bins", len(bins)),
    ]
    rows = [{"doc_id": d, "text": " ".join(docs[d]["toks"]),
             "lang": docs[d]["lang"]} for d in sorted(docs)]
    for r in rows:
        r["n_chars"] = len(r["text"])
    return {"rows": rows, "stages": stages, "n_docs": n_docs}


def write_corpus(c: dict, path: str) -> None:
    """Persist the corpus as ``<path>/documents.parquet``, the layout
    ``catalog.load_table(spark, path, "documents")`` reads."""
    if os.path.isdir(path):
        return
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    rows = c["rows"]
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("n_chars", pa.int32()), ("lang", pa.string())])
    os.makedirs(tmp)
    pq.write_table(pa.table({k: [r[k] for r in rows] for k in schema.names},
                            schema=schema),
                   os.path.join(tmp, "documents.parquet"))
    _publish(tmp, path)

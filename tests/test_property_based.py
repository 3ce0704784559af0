"""Property-based tests (hypothesis) for the algebraic invariants the
operator library leans on. Each test collects a BATCH of generated inputs
into one DataFrame so a hypothesis example costs one Spark job, and keeps
max_examples small — the properties are exact (no tolerance), so a handful
of adversarial-ish draws is worth more than thousands of tiny ones.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
import pytest

# reference cross-validation suites (union-find/peeling/naive-kernel
# twins, hypothesis fuzz): CI-tier — the fast dev loop runs -m "not slow"
pytestmark = pytest.mark.slow

# derandomize: the properties are exact invariants (any draw that fails is
# a real bug), and the driver's verification run must never flake on an
# unlucky generation-health path
SETTINGS = settings(max_examples=5, deadline=None, derandomize=True,
                    suppress_health_check=[HealthCheck.too_slow])


def _py_h_index(xs: list[int]) -> int:
    xs = sorted(xs, reverse=True)
    h = 0
    for i, v in enumerate(xs, start=1):
        if v >= i:
            h = i
    return h


@SETTINGS
@given(st.lists(st.lists(st.integers(min_value=0, max_value=50),
                         min_size=1, max_size=30),
                min_size=1, max_size=40))
def test_h_index_expr_matches_reference(spark, arrays):
    from thewhisperdb_spark.operators.graph import _h_index

    df = spark.createDataFrame([(i, a) for i, a in enumerate(arrays)],
                               "i long, arr array<long>")
    got = {r.i: r.h for r in
           df.select("i", _h_index(F.col("arr")).alias("h")).collect()}
    assert got == {i: _py_h_index(a) for i, a in enumerate(arrays)}


@SETTINGS
@given(st.lists(
    st.tuples(st.sets(st.text(alphabet="abcdefgh", min_size=1, max_size=4),
                      min_size=1, max_size=12),
              st.sets(st.text(alphabet="abcdefgh", min_size=1, max_size=4),
                      min_size=1, max_size=12)),
    min_size=1, max_size=15))
def test_minhash_signature_union_is_elementwise_min(spark, pairs):
    """MinHash's defining algebra: sig(A ∪ B) == elementwise_min(sig(A),
    sig(B)), and the signature depends only on the SET (order/duplicate
    invariance). Exact — no estimator tolerance involved."""
    from thewhisperdb_spark.operators.dedup import minhash_signatures_df

    rows = []
    for i, (a, b) in enumerate(pairs):
        rows += [(f"{i}a", sorted(a)), (f"{i}b", sorted(b)),
                 (f"{i}u", sorted(a | b)),
                 (f"{i}a_dup", (sorted(a) * 2)[::-1])]
    n = 16
    sig = {r["id"]: r["sig"] for r in minhash_signatures_df(
        spark.createDataFrame(rows, "id string, sh array<string>"),
        n).collect()}
    for i in range(len(pairs)):
        sa, sb, su = sig[f"{i}a"], sig[f"{i}b"], sig[f"{i}u"]
        assert [min(x, y) for x, y in zip(sa, sb)] == list(su)
        assert list(sa) == list(sig[f"{i}a_dup"])  # order/duplicate invariance


def _py_gopher(text: str):
    ws = [w for w in text.split(" ") if w != ""]
    n = len(ws)
    chars = sum(len(w) for w in ws)
    alpha = sum(1 for w in ws if any(c.isascii() and c.isalpha() for c in w))
    stops = {"the", "be", "to", "of", "and", "that", "have", "with"}
    stop = len({w.lower() for w in ws} & stops)
    denom = max(n, 1)
    return (n, round(chars / denom, 6), round(alpha / denom, 6), stop)


@SETTINGS
@given(st.lists(
    st.lists(st.text(alphabet="abc THEof123", min_size=1, max_size=8),
             min_size=0, max_size=80).map(" ".join),
    min_size=1, max_size=25))
def test_gopher_stats_match_reference(spark, texts):
    from thewhisperdb_spark.operators.text import gopher_quality_flags

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r.doc_id: (r.n_words, r.mean_word_len, r.alpha_word_ratio,
                      r.n_required_stop)
           for r in gopher_quality_flags(df).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _py_gopher(t), f"doc {i}: {t!r}"


@SETTINGS
@given(st.lists(st.tuples(st.integers(0, 25), st.integers(0, 99)),
                min_size=0, max_size=40),
       st.lists(st.tuples(st.integers(0, 25), st.integers(0, 99)),
                min_size=0, max_size=40))
def test_cdc_diff_apply_roundtrip(spark, old_rows, new_rows):
    """MERGE law: apply(diff(old, new), old) == new for ARBITRARY snapshot
    pairs — the full-outer-join diff classifies, cdc_apply replays, the
    result must be the new snapshot exactly (set equality; keys are
    deduped to the last payload to form valid snapshots)."""
    from thewhisperdb_spark.operators.relational import cdc_apply

    old = {k: v for k, v in old_rows}
    new = {k: v for k, v in new_rows}
    df_old = spark.createDataFrame(
        [(k, v) for k, v in old.items()] or [(None, None)],
        "id long, v long").filter(F.col("id").isNotNull())
    df_new = spark.createDataFrame(
        [(k, v) for k, v in new.items()] or [(None, None)],
        "id long, v long").filter(F.col("id").isNotNull())
    o, n = df_old.alias("o"), df_new.alias("n")
    j = o.join(n, F.col("o.id") == F.col("n.id"), "full_outer")
    change = (F.when(F.col("o.id").isNull(), "insert")
              .when(F.col("n.id").isNull(), "delete").otherwise("update"))
    feed = (j.filter(F.col("o.id").isNull() | F.col("n.id").isNull()
                     | (F.col("o.v") != F.col("n.v")))
            .select(F.coalesce(F.col("o.id"), F.col("n.id")).alias("id"),
                    F.col("n.v").alias("v"), change.alias("change")))
    got = {(r["id"], r["v"])
           for r in cdc_apply(df_old, feed, ["id"]).collect()}
    assert got == set(new.items())


def _py_islands(starts: list[int], dur: int):
    if not starts:
        return None
    ivs = sorted((s, s + dur) for s in starts)
    merged = [list(ivs[0])]
    for s, e in ivs[1:]:
        if s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return len(merged), sum(e - s for s, e in merged)


@SETTINGS
@given(st.dictionaries(st.integers(0, 5),
                       st.lists(st.integers(0, 500), min_size=1,
                                max_size=25),
                       min_size=1, max_size=6),
       st.integers(1, 60))
def test_interval_union_matches_bruteforce(spark, per_user, dur):
    """Gaps-and-islands vs the obvious sorted-merge reference, for random
    interval sets including duplicates and exact-touch boundaries."""
    from thewhisperdb_spark.operators import events as EV

    rows = [(u, s) for u, starts in per_user.items() for s in starts]
    df = spark.createDataFrame(rows, "user_id long, off long").select(
        "user_id",
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("off"))).alias("ts"))
    got = {r["user_id"]: (r["n_islands"], r["active_seconds"])
           for r in EV.interval_union_length(df, duration_s=dur).collect()}
    want = {u: _py_islands(starts, dur) for u, starts in per_user.items()}
    assert got == want


@SETTINGS
@given(st.dictionaries(
    st.sampled_from(["a", "b", "c"]),
    st.sets(st.integers(0, 400), min_size=1, max_size=120),
    min_size=2, max_size=3))
def test_kmv_pairwise_jaccard_exact_when_unsaturated(spark, groups):
    """When every group has fewer than k distinct keys, the sketches ARE
    the full sets and the 'estimate' must equal the exact Jaccard of the
    key sets, for every pair."""
    from thewhisperdb_spark.operators import aggregates as AG

    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, k long")
    sk = AG.kmv_sketch(df, "k", group_cols=("g",), k=256)
    got = {(r["a"], r["b"]): r["jaccard_est"]
           for r in AG.kmv_pairwise_jaccard(sk, "g", k=256).collect()}
    names = sorted(groups)
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            inter = len(groups[a] & groups[b])
            union = len(groups[a] | groups[b])
            assert got[(a, b)] == round(inter / union, 6), (a, b)


@SETTINGS
@given(st.lists(st.integers(0, 10_000), min_size=1, max_size=200,
                unique=True))
def test_sample_quantiles_exact_below_k(spark, values):
    """Below k the sample is the whole set, so each quantile must equal
    the discrete quantile (value at rank ceil(q*n)) computed in Python."""
    from thewhisperdb_spark.operators.sampling import sample_quantiles

    import math

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], "id long, v double")
    row = sample_quantiles(df, "v", ["id"], qs=(0.1, 0.5, 0.9),
                           k=4096).collect()[0]
    sv = sorted(values)
    n = len(sv)
    for q, col in ((0.1, "q_10"), (0.5, "q_50"), (0.9, "q_90")):
        assert row[col] == float(sv[max(math.ceil(q * n), 1) - 1]), (q, n)


@given(st.integers(1, 12), st.integers(1, 12), st.data())
@settings(max_examples=30, deadline=None)
def test_ppm_decode_roundtrip(w, h, data):
    """Encoding any raster as P6/P5/P2 bytes and decoding with the default
    stdlib codec recovers it exactly (maxval-255 quantization grid)."""
    from thewhisperdb_spark.sources.multimodal import decode_ppm_bmp

    pix = [[data.draw(st.integers(0, 255)) for _ in range(w)]
           for _ in range(h)]
    # P5 grayscale binary
    p5 = (b"P5\n# c\n%d %d\n255\n" % (w, h)
          + bytes(p for row in pix for p in row))
    assert decode_ppm_bmp(p5) == [[p / 255 for p in row] for row in pix]
    # P6 RGB binary with r=g=b -> same grayscale
    p6 = (b"P6 %d %d 255\n" % (w, h)
          + bytes(c for row in pix for p in row for c in (p, p, p)))
    got = decode_ppm_bmp(p6)
    for r in range(h):
        for c in range(w):
            assert abs(got[r][c] - pix[r][c] / 255) < 1e-12
    # P2 ASCII with comments interleaved
    body = " ".join(str(p) for row in pix for p in row)
    p2 = b"P2\n# hdr\n%d\n# mid\n%d\n255\n%s\n" % (w, h, body.encode())
    assert decode_ppm_bmp(p2) == [[p / 255 for p in row] for row in pix]


@given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=64),
       st.sampled_from([1, 2, 3]))
@settings(max_examples=30, deadline=None)
def test_wav_decode_roundtrip(samples, n_ch):
    """Any 16-bit PCM sample stream encodes to RIFF bytes and decodes back
    exactly; multi-channel input comes back as the per-frame channel mean."""
    import struct

    from thewhisperdb_spark.sources.multimodal import decode_wav

    frames = samples * n_ch  # interleave: frame k = samples[k] on every ch
    inter = []
    for s in samples:
        inter.extend([s] * n_ch)
    data = struct.pack(f"<{len(inter)}h", *inter)
    fmt = struct.pack("<HHIIHH", 1, n_ch, 16000, 16000 * 2 * n_ch,
                      2 * n_ch, 16)
    riff = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    rate, pcm = decode_wav(b"RIFF" + struct.pack("<I", len(riff)) + riff)
    assert rate == 16000
    assert len(pcm) == len(samples)
    for got, s in zip(pcm, samples):
        assert abs(got - s / 32768.0) < 1e-12


@given(st.lists(st.lists(st.sampled_from("abcd"), min_size=0, max_size=14),
                min_size=1, max_size=8),
       st.integers(2, 4), st.integers(2, 3))
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_repeated_span_scrub_matches_reference(spark, docs_toks, k, min_count):
    """Differential test of the ExactSubstr-style span scrub against a naive
    Python implementation of the Lee et al. span rule at shingle
    granularity: position p is removed iff SOME corpus-duplicated k-shingle
    covers it."""
    from collections import Counter

    from thewhisperdb_spark.operators.dedup import repeated_span_scrub

    corpus = {i + 1: toks for i, toks in enumerate(docs_toks)}
    # reference: count k-shingles across the corpus (self-repeats included)
    counts = Counter()
    for toks in corpus.values():
        for s in range(len(toks) - k + 1):
            counts[tuple(toks[s:s + k])] += 1
    expect = {}
    for i, toks in corpus.items():
        covered = [False] * len(toks)
        for s in range(len(toks) - k + 1):
            if counts[tuple(toks[s:s + k])] >= min_count:
                for p in range(s, s + k):
                    covered[p] = True
        kept = [t for t, c in zip(toks, covered) if not c]
        expect[i] = (len(toks), sum(covered), " ".join(kept))

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in corpus.items()],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
           for r in repeated_span_scrub(df, k=k, min_count=min_count).collect()}
    assert got == expect


@given(st.lists(st.text(alphabet="abxy ", min_size=0, max_size=30),
                min_size=1, max_size=6),
       st.integers(2, 4), st.integers(2, 4))
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_winnow_fingerprints_match_reference(spark, texts, k, w):
    """Differential test of winnowing (Schleimer et al. SIGMOD'03) against
    a naive Python implementation: md5-derived k-gram hashes, min of each
    w-window, distinct — including the short-doc clamps (docs shorter than
    one gram/window select the min of what exists)."""
    import hashlib

    from thewhisperdb_spark.operators.text import winnow_fingerprints

    def h(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16)

    expect = {}
    for i, t in enumerate(texts, start=1):
        n_starts = max(len(t) - (k - 1), 1)
        grams = [t[s:s + k] for s in range(n_starts)]
        hashes = [h(g) for g in grams]
        n_win = max(len(hashes) - (w - 1), 1)
        expect[i] = {min(hashes[s:s + w]) for s in range(n_win)}

    df = spark.createDataFrame(list(enumerate(texts, start=1)),
                               "doc_id long, text string")
    out = winnow_fingerprints(df, k=k, w=w).collect()
    got = {}
    for r in out:
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert got == expect


@given(st.lists(st.lists(st.sampled_from("pq"), min_size=0, max_size=9),
                min_size=1, max_size=6),
       st.integers(2, 3))
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_unit_dedup_matches_reference(spark, docs_toks, ut):
    """Differential test of cross-corpus unit dedup (C4-style first
    occurrence by (doc_id, pos)) against a naive reference, including the
    empty-doc single-empty-unit clamp."""
    from thewhisperdb_spark.operators.dedup import unit_dedup

    corpus = {i + 1: toks for i, toks in enumerate(docs_toks)}
    units_of = {}
    for i, toks in corpus.items():
        n_units = max(-(-len(toks) // ut), 1)
        units_of[i] = [" ".join(toks[j * ut:(j + 1) * ut])
                       for j in range(n_units)]
    first = {}   # unit -> (doc_id, pos)
    for i in sorted(corpus):
        for pos, u in enumerate(units_of[i]):
            if u not in first:
                first[u] = (i, pos)
    expect = {}
    for i in corpus:
        kept = [u for pos, u in enumerate(units_of[i])
                if first[u] == (i, pos)]
        expect[i] = (" ".join(kept), len(units_of[i]), len(kept))

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in corpus.items()],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["clean_text"], r["n_units"], r["n_kept"])
           for r in unit_dedup(df, unit_tokens=ut).collect()}
    assert got == expect


@st.composite
def _random_edges(draw):
    n = draw(st.integers(2, 10))
    m = draw(st.integers(0, 14))
    edges = [(draw(st.integers(1, n)), draw(st.integers(1, n)))
             for _ in range(m)]
    return n, [(a, b) for a, b in edges if a != b]


@given(_random_edges())
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_match_union_find(spark, cc_path, graph):
    from thewhisperdb_spark.operators import graph as G

    n, edges = graph
    parent = list(range(n + 1))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comp_min = {}
    for v in range(1, n + 1):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    expect = {v: comp_min[find(v)] for v in range(1, n + 1)}

    verts = spark.createDataFrame([(v,) for v in range(1, n + 1)], "id long")
    edf = spark.createDataFrame(edges or [(1, 1)], "src long, dst long")
    if not edges:
        edf = edf.filter("src != dst")   # typed-empty frame
    got = {r["id"]: r["component"]
           for r in G.connected_components(verts, edf).collect()}
    assert got == expect


@given(_random_edges())
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_core_numbers_match_peeling(spark, graph):
    """h-index fixpoint coreness vs the textbook peeling algorithm."""
    from collections import defaultdict

    from thewhisperdb_spark.operators import graph as G

    n, edges = graph
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    # naive peeling: repeatedly remove min-degree vertex
    deg = {v: len(adj[v]) for v in adj}
    core = {}
    live = dict(deg)
    neighbors = {v: set(adj[v]) for v in adj}
    k = 0
    while live:
        v = min(live, key=lambda x: (live[x], x))
        k = max(k, live[v])
        core[v] = k
        for u in neighbors[v]:
            if u in live and u != v:
                live[u] -= 1
                neighbors[u].discard(v)
        del live[v]

    if not edges:
        return
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["coreness"] for r in G.core_numbers(edf).collect()}
    assert got == core


@given(_random_edges())
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bfs_levels_match_naive(spark, graph):
    from collections import defaultdict, deque

    from thewhisperdb_spark.operators import graph as G

    n, edges = graph
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expect = {1: 0}
    dq = deque([1])
    while dq:
        v = dq.popleft()
        for u in adj[v]:
            if u not in expect:
                expect[u] = expect[v] + 1
                dq.append(u)

    if not edges:
        return
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["hops"] for r in G.bfs_levels(edf, source=1).collect()}
    assert got == expect


@given(st.lists(st.tuples(st.integers(1, 3), st.integers(0, 20)),
                min_size=1, max_size=10),
       st.lists(st.tuples(st.integers(1, 3), st.integers(0, 20),
                          st.integers(0, 9)),
                min_size=0, max_size=10),
       st.sampled_from(["backward", "forward"]))
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_join_matches_naive(spark, lrows, rrows, direction):
    """Differential test of the union+window as-of join against a naive
    per-row scan, including key/timestamp ties (greatest value wins) and
    the n_prior passed-row count."""
    from thewhisperdb_spark.operators.relational import asof_join

    def naive(k, t):
        if direction == "backward":
            cand = [(rt, v) for rk, rt, v in rrows if rk == k and rt <= t]
            pick = max(cand) if cand else (None, None)
        else:
            cand = [(rt, v) for rk, rt, v in rrows if rk == k and rt >= t]
            # nearest future ts; ties at same ts -> greatest value
            pick = (min(c[0] for c in cand),) if cand else (None,)
            if cand:
                best_t = pick[0]
                pick = (best_t, max(v for rt, v in cand if rt == best_t))
            else:
                pick = (None, None)
        return pick[1], len(cand)

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lrows)],
        "row_id long, k long, lts long")
    right = spark.createDataFrame(
        rrows or [(0, 0, 0)], "k long, rts long, v long")
    if not rrows:
        right = right.filter("k > 0")
    out = asof_join(left, right, "k", "lts", "rts", ("v",),
                    direction=direction)
    got = {r["row_id"]: (r["asof_v"], r["n_prior"]) for r in out.collect()}
    expect = {i: naive(k, t) for i, (k, t) in enumerate(lrows)}
    assert got == expect


@given(_random_edges(), st.integers(1, 5))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_label_propagation_matches_reference(spark, graph, max_iter):
    """Differential test of deterministic synchronous LPA against a naive
    simulation with identical semantics: mode-of-neighbor-labels with
    min-label tie-break, two sync rounds per early-stop check (stop on a
    zero TWO-round delta), single final step for odd max_iter, isolated
    vertices keeping their own id."""
    from collections import Counter, defaultdict

    from thewhisperdb_spark.operators import graph as G

    n, edges = graph
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    touched = set(adj)
    labels = {v: v for v in touched}

    def step(lab):
        out = {}
        for v in touched:
            c = Counter(lab[u] for u in adj[v])
            out[v] = max(c.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        return out

    for _ in range(max_iter // 2):
        nl = step(step(labels))
        same = nl == labels
        labels = nl
        if same:
            break
    if max_iter % 2:
        labels = step(labels)
    expect = {v: labels.get(v, v) for v in range(1, n + 1)}

    verts = spark.createDataFrame([(v,) for v in range(1, n + 1)], "id long")
    edf = spark.createDataFrame(edges or [(1, 1)], "src long, dst long")
    if not edges:
        edf = edf.filter("src != dst")
    got = {r["id"]: r["label"]
           for r in G.label_propagation(verts, edf,
                                        max_iter=max_iter).collect()}
    assert got == expect


@given(st.lists(
    st.one_of(
        st.integers(0, 999),                               # valid doc marker
        st.text(alphabet='{}[]",:abcxyz0123456789 ',
                min_size=1, max_size=25)),                 # garbage line
    min_size=1, max_size=20))
# pinned regressions: top-level-array lines used to BYPASS the quarantine
# entirely under the JSON datasource ([] expanded to zero rows, [1,2] to two)
# — the from_json rewrite makes 1-in-1-out structural; keep these examples so
# the property never again depends on Hypothesis drawing an array shape
@example(items=["[]"])
@example(items=["[1,2]", 7, "[{}]", "[", "]"])
@example(items=["null", "true", "123", '"str"', "{}"])
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_jsonl_quarantine_conserves_every_line(spark, tmp_path_factory, items):
    """Fuzz the PERMISSIVE JSONL ingest: for any mix of valid documents and
    garbage lines, clean + quarantined must partition the input — no line
    lost, no job failure, and every valid doc lands clean."""
    import json

    from thewhisperdb_spark.sources import textio

    lines = []
    n_valid = 0
    for it in items:
        if isinstance(it, int):
            lines.append(json.dumps({"doc_id": it, "text": f"t{it}",
                                     "lang": "en", "source": "s"}))
            n_valid += 1
        else:
            s = it.replace("\n", " ").strip()
            if not s:
                s = "###"
            lines.append(s)
    p = tmp_path_factory.mktemp("fuzz") / "docs.jsonl"
    p.write_text("\n".join(lines) + "\n")

    # cache the parsed frame before pruning to the corrupt column — the
    # QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction split_quarantine documents
    df = textio.read_jsonl(spark, str(p)).cache()
    df.count()
    clean, bad = textio.split_quarantine(df)
    n_clean, n_bad = clean.count(), bad.count()
    assert n_clean + n_bad == len(lines)
    # every intended-valid doc parsed clean (garbage can also parse clean if
    # it happens to be a JSON object — that's PERMISSIVE's contract)
    assert n_clean >= n_valid
    # quarantined payloads carry the raw line for the dead-letter sink
    for r in bad.select(textio.CORRUPT_COL).collect():
        assert r[0] in lines
    df.unpersist()


@given(st.lists(st.text(alphabet="abcde fg", min_size=0, max_size=24),
                min_size=2, max_size=8))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_simhash_band_pairs_lossless_vs_bruteforce(spark, texts):
    """The pigeonhole claim, tested: banded candidate generation + verify
    must return EXACTLY the brute-force set of pairs with hamming(simhash)
    <= max_hamming (max_hamming < bands => lossless)."""
    from thewhisperdb_spark.operators import dedup as D
    from thewhisperdb_spark.operators.text import tags_of

    df = spark.createDataFrame(list(enumerate(texts, start=1)),
                               "doc_id long, text string")
    got = {(r["a"], r["b"]): r["hamming"]
           for r in D.simhash_band_pairs(df, bits=32, bands=4,
                                         max_hamming=3).collect()}
    # brute force over the same simhash values
    hs = {r["doc_id"]: r["h"] for r in
          df.select("doc_id",
                    D.simhash(tags_of(F.col("text")), 32).alias("h"))
          .collect()}
    expect = {}
    ids = sorted(hs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(hs[a] ^ hs[b]).count("1")
            if d <= 3:
                expect[(a, b)] = d
    assert got == expect


@given(st.lists(st.text(alphabet="abc d", min_size=0, max_size=20),
                min_size=2, max_size=6),
       st.sampled_from([0.5, 0.7, 0.9]))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_minhash_lsh_pairs_lossless_vs_bruteforce(spark, cc_path,
                                                  minhash_oracle, texts,
                                                  theta):
    """The >=min-bands candidate filter must not change the result set:
    operator output == brute-force comparison of the pure-Python oracle's
    signatures over the same char-3-gram shingles, at the same threshold
    (est_jaccard = fraction of agreeing minhashes), on the driver-side
    and the shuffle path."""
    from thewhisperdb_spark.operators import dedup as D

    df = spark.createDataFrame(list(enumerate(texts, start=1)),
                               "doc_id long, text string")
    n_hashes, bands = 16, 8
    pairs = D.minhash_lsh_pairs(df, n_hashes=n_hashes, bands=bands,
                                threshold=theta)
    assert pairs.isLocal() == (cc_path == "local")
    got = {(r["a"], r["b"]): r["est_jaccard"] for r in pairs.collect()}
    # text.char_ngrams: substrings at 1-based offsets 1..max(len-2, 1)
    sigs = {i: minhash_oracle({t[j:j + 3] for j in range(max(len(t) - 2, 1))},
                              n_hashes)
            for i, t in enumerate(texts, start=1)}
    expect = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = sigs[a], sigs[b]
            if sa is None or sb is None:
                continue   # shingle-less docs mint no signature/pairs
            est = sum(x == y for x, y in zip(sa, sb)) / n_hashes
            if est >= theta:
                expect[(a, b)] = round(est, 6)
    assert {k: round(v, 6) for k, v in got.items()} == expect


@SETTINGS
@given(st.lists(st.lists(st.sampled_from("abc def ghi jkl mno".split()),
                         min_size=2, max_size=8),
                min_size=4, max_size=18),
       st.integers(min_value=0, max_value=2 ** 31 - 1))
def test_lsh_index_probe_equals_online_pairs_any_split(
        spark, tmp_path_factory, token_docs, split_seed):
    """For ANY corpus and ANY split into (indexed, batch): probing the
    persisted index returns EXACTLY the cross-split subset of the online
    minhash_lsh_pairs result, a replayed append changes nothing, and the
    signature count equals the number of docs with non-empty shingles.
    (word-2-gram shingles so short generated docs still collide.)"""
    import shutil

    from thewhisperdb_spark.operators import dedup as D
    from thewhisperdb_spark.operators.text import word_ngrams

    docs = [(i, " ".join(toks)) for i, toks in enumerate(token_docs)]
    idx_ids = {i for i, _ in docs if (i * 2654435761 + split_seed) % 3 != 0}
    if not idx_ids or len(idx_ids) == len(docs):
        idx_ids = {docs[0][0]}          # force a non-trivial split
    df = spark.createDataFrame(docs, "doc_id long, text string")
    corpus = df.filter(F.col("doc_id").isin(list(idx_ids)))
    batch = df.filter(~F.col("doc_id").isin(list(idx_ids)))

    root = tmp_path_factory.mktemp("lsh_prop")
    path = str(root / "idx")
    D.lsh_index_build(corpus, path, n_hashes=16, bands=4, shingle_n=2)
    # replayed append of already-indexed docs: bit-level no-op
    n_sig = spark.read.parquet(f"{path}/signatures").count()
    D.lsh_index_append(spark, path, corpus.limit(2))
    assert spark.read.parquet(f"{path}/signatures").count() == n_sig

    got = {(r["index_id"], r["batch_id"]): round(r["est_jaccard"], 9)
           for r in D.lsh_index_probe(spark, path, batch,
                                      threshold=0.75).collect()}
    online = D.minhash_lsh_pairs(df, n_hashes=16, bands=4, threshold=0.75,
                                 shingler=lambda c: word_ngrams(c, 2))
    want = {}
    for r in online.collect():
        a, b = r["a"], r["b"]
        if a in idx_ids and b not in idx_ids:
            want[(a, b)] = round(r["est_jaccard"], 9)
        elif b in idx_ids and a not in idx_ids:
            want[(b, a)] = round(r["est_jaccard"], 9)
    assert got == want
    shutil.rmtree(str(root), ignore_errors=True)


@SETTINGS
@given(
    h=st.integers(min_value=1, max_value=18),
    w=st.integers(min_value=1, max_value=18),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    dri=st.sampled_from([0, 1, 3]),
)
@example(h=1, w=1, seed=0, dri=0)        # single pixel, single partial MCU
@example(h=8, w=8, seed=1, dri=1)        # exact one MCU + restart every MCU
@example(h=17, w=9, seed=2, dri=3)       # crop on both axes + odd restart
def test_jpeg_encode_decode_roundtrip_bounded_error(h, w, seed, dri):
    """Property: ANY small grayscale image survives the baseline JPEG
    encoder (tools/make_jpeg_fixture.py, Annex K tables) -> decoder
    (sources/multimodal._decode_jpeg) loop with quantization-bounded
    error — partial MCUs at both edges, every restart cadence, smooth
    and white-noise content. Pure CPU (no Spark session). A decoder bug
    (mis-ordered zigzag, wrong predictor reset, off-by-one crop) shows
    up as gross error or a raise, not a few quantization counts."""
    import os
    import sys as _sys

    import numpy as np

    _sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..",
                                     "tools"))
    from make_jpeg_fixture import encode_gray_baseline

    from thewhisperdb_spark.sources.multimodal import _decode_jpeg

    rng = np.random.RandomState(seed)
    # half smooth gradient, half noise: noise stresses AC coding, the
    # gradient stresses DC prediction across restart boundaries
    base = np.add.outer(np.linspace(0, 200, h), np.linspace(0, 40, w))
    img = np.clip(base + rng.randint(-40, 41, size=(h, w)), 0, 255) \
        .astype(np.float64)
    data = encode_gray_baseline(img, dri=dri)
    dec = np.array(_decode_jpeg(data)) * 255.0
    assert dec.shape == (h, w)
    # Q50 Annex-K quantization on white noise: generous but diagnostic —
    # a structural bug produces errors of order 100+, quantization ~10-30
    err = np.abs(dec - img)
    assert err.mean() < 40.0, (h, w, seed, dri, err.mean())


@SETTINGS
@given(st.lists(
    st.lists(st.integers(min_value=0, max_value=12),
             min_size=0, max_size=30),
    min_size=2, max_size=8))
@example([[0, 1, 2, 3, 4, 5], [9, 9, 0, 1, 2, 3, 4, 5, 9]])  # full quote
def test_containment_pairs_match_python_reference(spark, docs):
    """Property: containment_pairs == the brute-force set definition
    C = |A∩B| / min(|A|,|B|) over distinct word-5-gram shingles, for any
    small corpus (threshold 0.5 to exercise non-trivial cuts). The Python
    reference reimplements the shingling rule independently (docs shorter
    than 5 words yield one whole-doc shingle)."""
    from thewhisperdb_spark.operators import dedup as D

    texts = [" ".join(f"w{t}" for t in toks) for toks in docs]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")

    def shingles(toks):
        toks = [f"w{t}" for t in toks]
        n = max(len(toks) - 4, 1)
        return {" ".join(toks[i:i + 5]) for i in range(n)}

    sets = {i: shingles(t) for i, t in enumerate(docs)}
    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            inter = len(sets[a] & sets[b])
            c = inter / min(len(sets[a]), len(sets[b]))
            if c >= 0.5:
                want[(a, b)] = (inter, len(sets[a]), len(sets[b]))
    got = {(r["a"], r["b"]): (r["inter"], r["size_a"], r["size_b"])
           for r in D.containment_pairs(df, threshold=0.5).collect()}
    assert got == want


@given(st.lists(
    st.tuples(st.sampled_from(["aa", "bb", "cc"]),
              st.one_of(st.none(),
                        st.integers(min_value=0, max_value=20))),
    min_size=1, max_size=40))
@SETTINGS
def test_perplexity_buckets_invariants(spark, rows):
    """Bucketing invariants vs an independent Python reference of the
    percentile_disc rule: (1) buckets PARTITION the rows — every scored
    row gets exactly one of head/middle/tail, NULL scores 'unscored';
    (2) bucket is monotone in score within a language; (3) ties share a
    bucket; (4) cut ranks are ceil(n/3)/ceil(2n/3) on the cumulative
    histogram."""
    from thewhisperdb_spark.operators.langid import perplexity_buckets

    data = [(i, lang, float(s) / 2 if s is not None else None)
            for i, (lang, s) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "doc_id long, predicted_lang string, bits_per_trigram double")
    got = {r["doc_id"]: r["bucket"] for r in perplexity_buckets(df).collect()}
    assert set(got) == {i for i, _, _ in data}

    # independent reference: per-lang cumulative histogram cuts
    from collections import Counter
    import math
    by_lang: dict[str, list[float]] = {}
    for _, lang, s in data:
        if s is not None:
            by_lang.setdefault(lang, []).append(s)
    for i, lang, s in data:
        if s is None:
            assert got[i] == "unscored"
            continue
        scores = sorted(by_lang[lang])
        n = len(scores)
        hist = sorted(Counter(scores).items())
        cum, head_cut, tail_cut = 0, None, None
        for v, c in hist:
            cum += c
            if head_cut is None and cum >= math.ceil(n / 3):
                head_cut = v
            if tail_cut is None and cum >= math.ceil(2 * n / 3):
                tail_cut = v
        want = ("head" if s <= head_cut
                else "middle" if s <= tail_cut else "tail")
        assert got[i] == want, (i, lang, s, head_cut, tail_cut)

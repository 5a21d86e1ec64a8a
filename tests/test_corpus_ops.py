"""Tests for training-data pipeline operators: text analysis, dedup
families, ANN similarity, multimodal plumbing.

Cross-engine value parity is covered by tools/check_oracle.py (the
driver's gate); these tests pin the *semantics*: planted duplicates are
found, approximate methods agree with exact baselines, stubs fail
loudly, batch shapes hold.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vaero_spark.functions import text as TXT
from vaero_spark.operators import dedup as DD
from vaero_spark.operators import multimodal as MM
from vaero_spark.operators import similarity as SIM
from vaero_spark.sources import corpus as CORPUS

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_nd(spark):
    return CORPUS.documents_with_neardups(spark, SF).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return CORPUS.load_embeddings(spark, SF).cache()


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_token_counts_respect_column_arg(spark):
    """token_counts/quality_columns must read the column they're given,
    not a hardcoded `text` (regression: a decoy `text` column exists)."""
    df = spark.createDataFrame([("a b c!", "decoy")], ["body", "text"])
    counts = TXT.token_counts("body")
    row = df.select(*[c.alias(n) for n, c in counts.items()]).first()
    assert row.n_ws_tokens == 3
    assert row.n_bpe_tokens == 4  # a | b | c | !
    quality = TXT.quality_columns("body")
    row2 = df.select(*[c.alias(n) for n, c in quality.items()]).first()
    assert row2.n_tokens == 3
    assert row2.punct_bp == 10000 // 6  # one '!' over six chars


def test_minhash_finds_all_planted_neardups(spark, docs_nd):
    planted = {
        (r.doc_id, r.doc_id + CORPUS.ND_OFFSET)
        for r in docs_nd.filter(
            (F.col("doc_id") % CORPUS.DOC_ND_EVERY == 0)
            & (F.col("doc_id") < CORPUS.ND_OFFSET)
        ).collect()
    }
    found = {
        (r.id_a, r.id_b) for r in DD.minhash_lsh_pairs(docs_nd).collect()
    }
    assert planted, "fixture must plant near-dups"
    missing = planted - found
    assert not missing, f"minhash+LSH missed planted near-dups: {missing}"


def test_minhash_pairs_subset_of_exact_jaccard(spark, docs_nd):
    """LSH candidates are verified exactly, so minhash pairs ⊆ the
    exhaustive n-gram-Jaccard pairs at the same threshold."""
    mh = {(r.id_a, r.id_b) for r in DD.minhash_lsh_pairs(docs_nd).collect()}
    ex = {(r.id_a, r.id_b) for r in DD.ngram_jaccard_pairs(docs_nd).collect()}
    assert mh <= ex


def test_ngram_jaccard_finds_short_doc_pairs(spark):
    """The PPJoin count filter must adapt to tiny docs: a 3-word doc has
    ONE shingle, so the threshold clamps to its set size."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma delta"),
            (3, "unrelated words entirely here"),
        ],
        ["doc_id", "text"],
    )
    pairs = {(r.id_a, r.id_b) for r in DD.ngram_jaccard_pairs(df).collect()}
    assert (1, 2) in pairs  # Jaccard = 1/2 on a single shared shingle
    assert all(3 not in p for p in pairs)


def test_dedup_ops_release_previous_cache(spark, docs_nd):
    """Each LSH op owns its persisted shingle index: a new invocation
    unpersists the previous one, so repeated dedup calls in one session
    hold at most ONE index in storage memory."""
    DD.release_caches()
    DD.minhash_lsh_pairs(docs_nd)
    assert len(DD._ACTIVE_CACHES) == 1
    first = DD._ACTIVE_CACHES[0]
    DD.ngram_jaccard_pairs(docs_nd)
    assert len(DD._ACTIVE_CACHES) == 1
    assert DD._ACTIVE_CACHES[0] is not first
    DD.release_caches()
    assert not DD._ACTIVE_CACHES
    # both ops share one logical plan for the index, so storageLevel is
    # only conclusive once everything is released: nothing cached now
    assert first.storageLevel.useMemory is False


def test_simhash_identical_text_same_hash(spark, docs_nd):
    sh = DD.simhash_docs(docs_nd)
    planted = sh.filter(F.col("doc_id") >= CORPUS.ND_OFFSET).withColumn(
        "orig_id", F.col("doc_id") - CORPUS.ND_OFFSET
    )
    joined = planted.alias("p").join(
        sh.alias("o"), F.col("p.orig_id") == F.col("o.doc_id")
    )
    # near-dup text (one appended token) → small Hamming distance.
    # Bound scales with signature width: one extra token shifts each
    # vote sum by ±1, flipping only near-zero-margin bits — measured
    # max 8 / avg 2.5 of 64 bits on this corpus (was ≤6 of 32).
    ham = joined.select(
        F.bit_count(
            F.col("p.simhash").bitwiseXOR(F.col("o.simhash"))
        ).alias("h")
    )
    assert ham.agg(F.max("h")).first()[0] <= 12


def test_neardup_clusters_transitive_chain(spark):
    """A transitive near-dup chain A~B~C (A and C NOT directly similar
    enough to pair) must land in ONE cluster labeled by the min id, and
    max_iters must cover the chain diameter."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [
        (1, base),
        (2, base + " one"),          # ~ 1
        (3, base + " one two"),      # ~ 2 (and 1)
        (9, "completely different words everywhere here today"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r.doc_id: r.cluster_id for r in DD.neardup_clusters(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1}  # one cluster, canonical = min id; 9 absent
    # a cap too small to converge fails LOUDLY (never a silent
    # partially-merged clustering that would diverge from the oracle's
    # full transitive closure)
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.neardup_clusters(df, max_iters=0)


def test_embedding_clusters_transitive_and_consistent(spark):
    """embedding_clusters: a transitive cosine chain (v1~v2~v3 through
    shared near-identical vectors) lands in one cluster labeled by the
    min vec_id; vectors without a near-dup pair are absent; membership
    equals the pair participants of embedding_neardup_pairs."""
    import math

    base = [1.0 if i % 3 == 0 else -1.0 for i in range(64)]

    def tweak(eps, at):
        v = list(base)
        v[at] += eps
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = [
        (1, tweak(0.0, 0)),
        (2, tweak(0.05, 1)),   # ~1 (cos ~ 0.999)
        (3, tweak(0.05, 2)),   # ~1, ~2
        (9, [1.0 if i % 2 == 0 else -1.0 for i in range(64)]),  # far from all
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.cluster_id for r in DD.embedding_clusters(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    members = {
        d
        for r in DD.embedding_neardup_pairs(df).collect()
        for d in (r.id_a, r.id_b)
    }
    assert set(got) == members
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.embedding_clusters(df, max_iters=0)


def test_neardup_clusters_match_planted_pairs(spark, docs_nd):
    """Every planted near-dup pair collapses into a cluster whose
    canonical id is the original doc."""
    pairs = {(r.id_a, r.id_b) for r in DD.minhash_lsh_pairs(docs_nd).collect()}
    clusters = {r.doc_id: r.cluster_id for r in DD.neardup_clusters(docs_nd).collect()}
    assert set(clusters) == {d for p in pairs for d in p}  # exactly the pair participants
    for a, b in pairs:
        assert clusters[a] == clusters[b], (a, b)


def test_conv_assemble_order_and_integrity(spark):
    from vaero_spark.operators.assemble import assemble_conversations

    rows = [
        ("c1", 1, "assistant", "hi there"),
        ("c1", 0, "user", "hello"),
        ("c1", 2, "user", "bye"),
        ("c2", 0, "user", "solo"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "text"])
    got = {r.conv_id: r for r in assemble_conversations(df).collect()}
    assert got["c1"].doc == "user: hello\nassistant: hi there\nuser: bye"
    assert got["c1"].n_turns == 3
    assert got["c2"].doc == "user: solo"
    assert got["c2"].doc_chars == len("user: solo")
    import hashlib

    assert got["c1"].doc_md5 == hashlib.md5(got["c1"].doc.encode()).hexdigest()


def test_lang_id_detects_each_language(spark):
    """The gate corpus has no language signal (every `lang` label gets
    the same synthetic vocabulary), so the oracle parity there cannot
    exercise detection — this pins the predictor on REAL signal: each
    language's stopwords dominate → that language; CJK chars → zh;
    no signal → 'en' (the deterministic tiebreak)."""
    rows = [
        ("en", "the cat sat on a mat and the dog is near"),
        ("de", "der hund und die katze das haus und der baum ist"),
        ("fr", "le chien et la maison les arbres et est grande"),
        ("es", "el perro y los gatos las casas y que grande"),
        ("zh", "你好世界 some latin too"),
        ("en", "zzz qqq www no stopwords anywhere"),
    ]
    df = spark.createDataFrame(rows, ["want", "text"])
    got = df.select("want", TXT.lang_id("text").alias("pred")).collect()
    for r in got:
        assert r.pred == r.want, (r.want, r.pred)


def test_corpus_stats_groups_and_volumes(spark):
    from pyspark.sql import Row

    rows = [
        ("the cat is on the mat",),     # en: 6 tokens
        ("der hund und die katze",),    # de: 5 tokens
        ("der baum und das haus ist",), # de: 6 tokens
    ]
    df = spark.createDataFrame(rows, ["text"])
    got = {r.lang: r for r in TXT.corpus_stats(df).collect()}
    assert set(got) == {"en", "de"}
    assert got["en"].n_docs == 1 and got["en"].total_tokens == 6
    assert got["de"].n_docs == 2 and got["de"].total_tokens == 11
    assert got["de"].total_chars == len(rows[1][0]) + len(rows[2][0])


def test_token_topk_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "b b a a c")], ["doc_id", "text"]
    )
    got = [(r.token, r.n, r.rank) for r in TXT.token_topk(df, k=3).collect()]
    # a and b tie at 2 → token ASC breaks the tie
    assert sorted(got, key=lambda x: x[2]) == [("a", 2, 1), ("b", 2, 2), ("c", 1, 3)]


def test_exact_dedup_counts(spark, docs_nd):
    base = docs_nd.count()
    groups = DD.exact_dedup(docs_nd)
    assert groups.agg(F.sum("n_copies")).first()[0] == base


def test_embedding_dup_groups_find_planted(spark):
    e = CORPUS.embeddings_with_dups(spark, SF)
    n_planted = e.filter(F.col("vec_id") >= CORPUS.ND_OFFSET).count()
    groups = DD.embedding_dup_groups(e).collect()
    assert len(groups) == n_planted
    for g in groups:
        assert g.n_copies == 2
        a, b = g.members.split(",")
        assert int(b) == int(a) + CORPUS.ND_OFFSET


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def test_brute_topk_shape_and_determinism(spark, emb):
    q = emb.filter(F.col("vec_id") % 25 == 0)
    r1 = SIM.cosine_topk_brute(emb, q, k=5).collect()
    r2 = SIM.cosine_topk_brute(emb, q, k=5).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    per_q = {}
    for row in r1:
        per_q.setdefault(row.query_id, []).append(row)
    for qid, rows in per_q.items():
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == list(
            range(1, len(rows) + 1)
        )
        assert all(r.neighbor_id != qid for r in rows)


def test_bucketed_results_subset_of_brute_scores(spark, emb):
    """Every bucketed hit must carry the same score the brute-force path
    assigns to that (query, neighbor) pair."""
    q = emb.filter(F.col("vec_id") % 25 == 0)
    brute = {
        (r.query_id, r.neighbor_id): r.sim_e4
        for r in SIM.cosine_topk_brute(emb, q, k=emb.count()).collect()
    }
    for r in SIM.cosine_topk_bucketed(emb, q, k=5).collect():
        assert brute[(r.query_id, r.neighbor_id)] == r.sim_e4


def test_hyperplane_ann_recall_vs_brute(spark, emb):
    """Multi-table random-hyperplane ANN top-1 recall vs brute force.

    The synthetic corpus is diffuse (true top-1 cosine ≈ 0.3–0.44, i.e.
    ~69° apart), so per-plane collision p = 1 − θ/π ≈ 0.61: a
    recall-oriented config (4 planes × 12 tables ⇒ expected recall
    1 − (1 − 0.61⁴)¹² ≈ 0.83) must beat 0.5; precision-oriented
    defaults trade that recall for smaller buckets."""
    q = emb.filter(F.col("vec_id") % 25 == 0)
    brute_top1 = {
        r.query_id: r.neighbor_id
        for r in SIM.cosine_topk_brute(emb, q, k=1).collect()
    }
    ann_top1 = {
        r.query_id: r.neighbor_id
        for r in SIM.cosine_topk_hyperplane(
            emb, q, k=1, n_planes=4, n_tables=12
        ).collect()
        if r.rank == 1
    }
    hits = sum(1 for k, v in brute_top1.items() if ann_top1.get(k) == v)
    assert hits / len(brute_top1) >= 0.5


def test_ivf_recall_vs_brute(spark, emb):
    """IVF probing half the cells must recover most true top-1s on the
    diffuse corpus; with ALL cells probed it equals brute force."""
    q = emb.filter(F.col("vec_id") % 25 == 0)
    brute_top1 = {
        r.query_id: r.neighbor_id
        for r in SIM.cosine_topk_brute(emb, q, k=1).collect()
    }
    ivf_top1 = {
        r.query_id: r.neighbor_id
        for r in SIM.cosine_topk_ivf(emb, q, k=1, n_centroids=16, n_probe=8).collect()
    }
    hits = sum(1 for qid, nid in brute_top1.items() if ivf_top1.get(qid) == nid)
    assert hits / len(brute_top1) >= 0.5
    # exhaustive probing == brute force exactly (ranking ties aside,
    # the neighbor SET at k=1 must match)
    full = {
        r.query_id: r.neighbor_id
        for r in SIM.cosine_topk_ivf(emb, q, k=1, n_centroids=16, n_probe=16).collect()
    }
    assert full == brute_top1


def test_ivf_duplicate_vectors_are_top1(spark):
    """An exact duplicate shares its query's nearest centroid, so IVF
    retrieves it at any n_probe >= 1."""
    e = CORPUS.embeddings_with_dups(spark, SF)
    q = e.filter(
        (F.col("vec_id") % CORPUS.EMB_ND_EVERY == 0) & (F.col("vec_id") < CORPUS.ND_OFFSET)
    )
    top1 = {
        r.query_id: (r.neighbor_id, r.sim)
        for r in SIM.cosine_topk_ivf(e, q, k=1, n_centroids=16, n_probe=1).collect()
    }
    for qid, (nid, sim) in top1.items():
        assert nid == qid + CORPUS.ND_OFFSET
        assert sim == pytest.approx(1.0)


def test_hyperplane_duplicate_vectors_are_top1(spark):
    """A planted exact-duplicate vector lands in the same LSH bucket by
    construction and must be retrieved as the top-1 neighbor."""
    e = CORPUS.embeddings_with_dups(spark, SF)
    q = e.filter(
        (F.col("vec_id") % CORPUS.EMB_ND_EVERY == 0) & (F.col("vec_id") < CORPUS.ND_OFFSET)
    )
    top1 = {
        r.query_id: (r.neighbor_id, r.sim)
        for r in SIM.cosine_topk_hyperplane(e, q, k=1).collect()
    }
    for qid, (nid, sim) in top1.items():
        assert nid == qid + CORPUS.ND_OFFSET
        assert sim == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------

def test_media_metadata_matches_native(spark):
    """mapInPandas metadata must equal the native-expression answer."""
    media = CORPUS.load_media(spark, SF)
    udf_side = MM.extract_metadata(media).select("doc_id", "n_bytes", "checksum")
    native = media.select(
        "doc_id",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.md5("payload").alias("checksum"),
    )
    assert udf_side.exceptAll(native).count() == 0
    assert native.exceptAll(udf_side).count() == 0


def test_frame_sampling_counts(spark):
    media = CORPUS.load_media(spark, SF)
    frames = MM.sample_frames(media)
    got = {r.doc_id: r.n for r in frames.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    for row in media.select("doc_id", F.octet_length("payload").alias("nb")).collect():
        n_full = row.nb // MM.FRAME_BYTES
        expect = len(range(0, n_full, MM.FRAME_STRIDE))
        assert got.get(row.doc_id, 0) == expect


def test_neardup_clusters_no_driver_probe_actions(spark):
    """Convergence detection must ride the propagation job itself
    (observe + localCheckpoint), not a separate isEmpty/count/collect
    probe job per round — at 10^9 docs the probe was a full extra
    join-scan per iteration."""
    _DF = type(spark.range(1))
    called = []
    names = ["isEmpty", "count", "collect", "first", "take", "toPandas"]
    saved = {m: getattr(_DF, m) for m in names}

    def banned(m):
        def _f(self, *a, **k):
            called.append(m)
            return saved[m](self, *a, **k)
        return _f

    base = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, base), (2, base + " one"), (3, base + " one two")],
        ["doc_id", "text"],
    )
    for m in names:
        setattr(_DF, m, banned(m))
    try:
        labels = DD.neardup_clusters(df)
    finally:
        for m in names:
            setattr(_DF, m, saved[m])
    assert called == []  # multi-round convergence ran zero probe actions
    assert {r.doc_id: r.cluster_id for r in labels.collect()} == {1: 1, 2: 1, 3: 1}


def test_auto_band_sizing_small_n_matches_default(spark, docs_nd):
    """Passing n_estimate at fixture scale must reproduce the pinned
    default banding bit-for-bit (the gate queries pass no estimate, so
    auto-sizing can never perturb them at small N)."""
    n = docs_nd.count()
    base = {(r.id_a, r.id_b, r.hamming) for r in DD.simhash_pairs(docs_nd).collect()}
    auto = {(r.id_a, r.id_b, r.hamming)
            for r in DD.simhash_pairs(docs_nd, n_estimate=n).collect()}
    assert auto == base


def test_auto_band_sizing_wide_bands_still_find_exact_dups(spark, docs_nd):
    """At a 10^9 estimate the bands widen to 2x32; exact/near-identical
    signatures (hamming 0) still collide in every band."""
    wide = DD.simhash_pairs(docs_nd, n_estimate=10**9)
    exact = {(r.id_a, r.id_b) for r in wide.filter("hamming = 0").collect()}
    base = {(r.id_a, r.id_b)
            for r in DD.simhash_pairs(docs_nd).filter("hamming = 0").collect()}
    assert exact == base


def test_neardup_keep_drops_exactly_noncanonicals(spark, docs_nd):
    """The kept corpus = all docs minus non-canonical cluster members;
    every cluster contributes exactly its canonical (min-id) doc."""
    from vaero_spark.operators.curate import neardup_keep

    clusters = {r.doc_id: r.cluster_id for r in DD.neardup_clusters(docs_nd).collect()}
    kept = {r.doc_id for r in neardup_keep(docs_nd).collect()}
    all_ids = {r.doc_id for r in docs_nd.select("doc_id").collect()}
    expect_dropped = {d for d, c in clusters.items() if d != c}
    assert kept == all_ids - expect_dropped
    for c in set(clusters.values()):
        assert c in kept  # canonical survives


def test_neardup_keep_accepts_precomputed_clusters(spark, docs_nd):
    """VERDICT r4 #4: the production path computes the cluster table
    once and feeds it to ``neardup_keep`` instead of rebuilding the full
    MinHash+LSH pipeline inside the op (the suite's most expensive query
    was the independent rebuild); both paths must agree exactly."""
    from vaero_spark.operators.curate import neardup_keep

    clusters = DD.neardup_clusters(docs_nd)
    via_precomputed = {
        (r.doc_id, r.text_md5)
        for r in neardup_keep(docs_nd, clusters=clusters).collect()
    }
    via_rebuild = {(r.doc_id, r.text_md5) for r in neardup_keep(docs_nd).collect()}
    assert via_precomputed == via_rebuild


def test_strip_boilerplate_lines_semantics(spark):
    """Lines in > max_line_df distinct docs are removed everywhere;
    survivors keep their original order; an all-boilerplate doc stays
    in the output with an empty cleaned text."""
    import hashlib

    from vaero_spark.operators.curate import strip_boilerplate_lines

    footer = "copyright corp"
    docs = [
        (1, f"alpha\n{footer}\nbravo"),
        (2, f"charlie\n{footer}"),
        (3, f"{footer}\ndelta\necho"),
        (4, footer),  # nothing but boilerplate
    ]
    out = {
        r.doc_id: r
        for r in strip_boilerplate_lines(
            spark.createDataFrame(docs, ["doc_id", "text"]), max_line_df=3
        ).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert set(out) == {1, 2, 3, 4}
    assert (out[1].n_lines, out[1].n_removed) == (3, 1)
    assert out[1].clean_md5 == md5("alpha\nbravo")  # order preserved
    assert out[3].clean_md5 == md5("delta\necho")
    assert (out[4].n_lines, out[4].n_removed) == (1, 1)
    assert out[4].clean_md5 == md5("")  # row survives, text emptied
    # below the threshold nothing is removed (footer df == 4 > 3; at 4 it stays)
    out4 = strip_boilerplate_lines(
        spark.createDataFrame(docs, ["doc_id", "text"]), max_line_df=4
    ).collect()
    assert all(r.n_removed == 0 for r in out4)


def test_bm25_topk_matches_python_reference(spark):
    """Score parity with a pure-Python implementation of the same
    log-free RSJ-odds BM25, plus ranking sanity: a doc stuffed with a
    rare term outranks one with a single common term."""
    from vaero_spark.operators.search import BM25_B, BM25_K1, bm25_topk

    docs = [
        (0, "needle needle needle haystack"),
        (1, "haystack haystack haystack haystack haystack straw"),
        (2, "straw straw haystack"),
        (3, "needle straw"),
        (4, "nothing relevant here"),
    ]
    terms = ["needle", "straw"]
    out = bm25_topk(spark.createDataFrame(docs, ["doc_id", "text"]), terms, k=5)
    got = {r.doc_id: (r.score_e6, r.n_terms, r.rank) for r in out.collect()}

    import math

    toks = {i: t.split() for i, t in docs}
    n, total = len(docs), sum(len(t) for t in toks.values())
    avgdl = total / n
    dfreq = {t: sum(1 for tk in toks.values() if t in tk) for t in terms}
    exp = {}
    for i, tk in toks.items():
        ws = []
        for t in terms:
            tf = tk.count(t)
            if not tf:
                continue
            idf = (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5)
            norm = 1.0 - BM25_B + BM25_B * (len(tk) / avgdl)
            ws.append(
                math.floor(1e6 * (idf * (tf * (BM25_K1 + 1.0)) / (tf + BM25_K1 * norm)))
            )
        if ws:
            exp[i] = (sum(ws), len(ws))
    assert {i: v[:2] for i, v in got.items()} == exp
    ranked = sorted(exp, key=lambda i: (-exp[i][0], i))
    assert [i for i, _ in sorted(got.items(), key=lambda kv: kv[1][2])] == ranked
    assert 4 not in got  # no matching term, no row
    assert got[3][2] == 1  # both terms, short doc → top rank


def test_mix_by_budget_exact_prefix(spark):
    """The kept set per stratum is the greedy prefix of the
    deterministic hash order: running total ≤ budget, first crossing
    doc cut, later smaller docs NOT back-filled (prefix, not knapsack);
    unlisted strata use the default budget."""
    import hashlib

    from vaero_spark.operators.transforms import mix_by_budget

    docs = [(i, "en" if i % 2 == 0 else "de", "tok " * (i % 7 + 1)) for i in range(40)]
    out = mix_by_budget(
        spark.createDataFrame(docs, ["doc_id", "lang", "text"]),
        {"en": 20},
        default_budget=9,
    ).collect()

    order = {}
    for i, lang, text in docs:
        order.setdefault(lang, []).append(
            (hashlib.md5(str(i).encode()).hexdigest(), i, len(text.split()))
        )
    expect = {}
    for lang, rows in order.items():
        cum, budget = 0, {"en": 20}.get(lang, 9)
        for _h, i, n in sorted(rows):
            cum += n
            if cum > budget:
                break  # prefix rule: first crossing doc ends the stratum
            expect[i] = (lang, n, cum)
    got = {r.doc_id: (r.lang, r.n_tokens, r.cum_tokens) for r in out}
    assert got == expect
    assert expect  # the fixture budgets actually bind
    for lang, budget in (("en", 20), ("de", 9)):
        kept = [v[2] for v in expect.values() if v[0] == lang]
        assert kept and max(kept) <= budget


def test_curate_documents_thresholds(spark):
    """Every kept row satisfies all three gates; rows failing any single
    gate are excluded."""
    from vaero_spark.operators.curate import curate_documents

    rows = [
        (1, "the of and to in is it for on as he was with " * 10),  # en, long, stopword-rich
        (2, "zz qq xx"),                                            # too short
        (3, "der die und das ist nicht ein eine mit von " * 10),    # not en
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = curate_documents(df, min_quality_bp=3000, langs=("en",), min_tokens=10)
    got = {r.doc_id: r for r in kept.collect()}
    assert set(got) == {1}
    assert got[1].pred_lang == "en"
    assert got[1].quality_bp >= 3000 and got[1].n_tokens >= 10


def test_sample_stratified_deterministic_and_partition_independent(spark):
    """Selection is a pure row function: identical result under any
    repartitioning; rate 0 keeps nothing, 256 keeps everything; unknown
    strata take the default."""
    from vaero_spark.operators.transforms import sample_stratified

    rows = [(i, ["en", "de", "zh"][i % 3]) for i in range(600)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    rates = {"en": 64, "zh": 256, "fr": 0}
    a = {r.doc_id for r in sample_stratified(df, rates, default_256ths=128).collect()}
    b = {r.doc_id for r in
         sample_stratified(df.repartition(13), rates, default_256ths=128).collect()}
    assert a == b  # partitioning-independent
    by_lang = {}
    for r in df.collect():
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    assert by_lang["zh"] <= a                       # rate 256: all kept
    kept_en = len(a & by_lang["en"]) / len(by_lang["en"])
    kept_de = len(a & by_lang["de"]) / len(by_lang["de"])
    assert 0.10 < kept_en < 0.40                    # ~64/256
    assert 0.35 < kept_de < 0.65                    # default ~128/256
    none = sample_stratified(df, {"en": 0, "de": 0, "zh": 0}).collect()
    assert none == []
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sample_stratified(df, {"en": 300})


def test_embed_kmeans_matches_numpy_reference(spark, emb):
    """Distributed Lloyd's == a same-seed numpy reference run with the
    identical init/tie-break/update rules, assignment for assignment."""
    import numpy as np
    from vaero_spark.operators.cluster import embed_kmeans

    k = 4
    got = {r.vec_id: r.cluster for r in embed_kmeans(emb, k=k).collect()}

    rows = emb.select(
        "vec_id", "embedding", F.xxhash64(F.col("vec_id")).alias("h")
    ).collect()
    ids = [r.vec_id for r in rows]
    X = np.vstack([np.asarray(r.embedding, dtype="float64") for r in rows])
    Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
    seed_ids = [r.vec_id for r in sorted(rows, key=lambda r: r.h)[:k]]
    C = np.vstack([Xn[ids.index(i)] for i in seed_ids])
    lab = None
    for _ in range(20):
        new = np.argmax(Xn @ C.T, axis=1)
        if lab is not None and (new == lab).all():
            break
        lab = new
        for c in range(k):
            m = Xn[lab == c]
            if len(m):
                v = m.mean(axis=0)
                C[c] = v / (np.linalg.norm(v) + 1e-12)
    want = dict(zip(ids, (int(x) for x in lab)))
    assert got == want


def test_embed_kmeans_duplicates_cocluster_and_k1(spark):
    from vaero_spark.operators.cluster import embed_kmeans

    e = CORPUS.embeddings_with_dups(spark, SF)
    lab = {r.vec_id: r.cluster for r in embed_kmeans(e, k=4).collect()}
    dups = [
        (r.vec_id, r.vec_id + CORPUS.ND_OFFSET)
        for r in e.filter(
            (F.col("vec_id") % CORPUS.EMB_ND_EVERY == 0)
            & (F.col("vec_id") < CORPUS.ND_OFFSET)
        ).collect()
    ]
    assert dups
    for a, b in dups:
        assert lab[a] == lab[b]  # identical vectors share a cluster
    one = {r.cluster for r in embed_kmeans(e, k=1).collect()}
    assert one == {0}


def test_pack_sequences_greedy_rule_and_edges(spark):
    """Exact greedy semantics: budget-boundary fits, resets, and
    oversized docs occupying a sequence alone."""
    from vaero_spark.operators.assemble import pack_sequences

    mk = lambda n: " ".join(f"w{j}" for j in range(n))  # noqa: E731
    rows = [  # one shard (n_shards=1): ids pack in order
        (0, mk(3)), (1, mk(4)), (2, mk(3)),   # 3+4+3 = 10 = budget: one seq
        (3, mk(11)),                          # oversized: alone
        (4, mk(1)), (5, mk(10)),              # 1 fits; 10 would overflow -> new
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: (r.seq_idx, r.n_tokens)
           for r in pack_sequences(df, budget_tokens=10, n_shards=1).collect()}
    assert got == {0: (0, 3), 1: (0, 4), 2: (0, 3),
                   3: (1, 11), 4: (2, 1), 5: (3, 10)}
    # shards pack independently: same docs, 2 shards -> per-shard order
    got2 = {r.doc_id: (r.shard, r.seq_idx)
            for r in pack_sequences(df, budget_tokens=10, n_shards=2).collect()}
    assert {d for d, (s, _) in got2.items() if s == 0} == {0, 2, 4}
    assert {d for d, (s, _) in got2.items() if s == 1} == {1, 3, 5}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        pack_sequences(df, budget_tokens=0)


def test_decontaminate_flags_planted_originals(spark, docs_nd):
    """With the planted near-dup copies as the eval set, a threshold
    above the boilerplate-overlap band flags (almost exactly) the
    planted originals and nothing else."""
    from vaero_spark.operators.curate import decontaminate_flags

    train = docs_nd.filter(F.col("doc_id") < CORPUS.ND_OFFSET)
    ev = docs_nd.filter(F.col("doc_id") >= CORPUS.ND_OFFSET)
    flagged = {r.doc_id: r.n_overlap
               for r in decontaminate_flags(train, ev, min_overlap=25).collect()}
    assert flagged
    originals = {r.doc_id - CORPUS.ND_OFFSET for r in ev.collect()}
    hit = originals & set(flagged)
    # most true contamination found (a short original whose planted copy
    # mutated enough can drop under the threshold — fixture reads 39/50)
    assert len(hit) >= 0.75 * len(originals)
    # the true-contamination overlaps dominate the ranking; the corpus
    # also has ORGANIC near-boilerplate (doc 391 vs 390's copy), so a
    # minority of non-originals legitimately rank high too
    top = sorted(flagged, key=lambda d: -flagged[d])[: len(hit)]
    assert sum(1 for d in top if d in originals) >= 0.7 * len(top)


def test_pii_scrub_counts_and_masks(spark):
    from vaero_spark.operators.curate import pii_scrub

    rows = [
        (1, "mail a@b.co and c.d@e.org plus ip 10.0.0.1 and card 12345678901"),
        (2, "clean text with short 123 numbers"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r.id: r for r in pii_scrub(df).collect()}
    assert (got[1].email_n, got[1].ipv4_n, got[1].longnum_n) == (2, 1, 1)
    assert got[1].text == "mail <EMAIL> and <EMAIL> plus ip <IPV4> and card <LONGNUM>"
    assert (got[2].email_n, got[2].ipv4_n, got[2].longnum_n) == (0, 0, 0)
    assert got[2].text == rows[1][1]


def test_repetition_columns_separate_degenerate_text(spark):
    from vaero_spark.functions.text import repetition_columns, tokens as _tokens

    rows = [
        (1, "spam spam spam spam spam spam spam spam"),      # one token repeated
        (2, "each word here appears exactly once today ok"), # all distinct
        (3, "line\nline\nline\nother"),                      # repeated lines
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "_tok", _tokens("text")
    )
    cols = repetition_columns("text", tok=F.col("_tok"))
    got = {r.doc_id: r for r in
           df.select("doc_id", *[c.alias(n) for n, c in cols.items()]).collect()}
    assert got[1].uniq_token_bp == 1250      # 1/8
    assert got[2].uniq_token_bp == 10000     # all distinct
    assert got[1].uniq_shingle_bp < got[2].uniq_shingle_bp
    assert got[3].uniq_line_bp == 5000       # 2 distinct of 4


# ---------------------------------------------------------------------------
# duplicate-passage coverage
# ---------------------------------------------------------------------------

def test_dup_passage_planted_copy_reads_full_coverage(spark):
    """A doc fully copied into another reads ~10000 bp; a unique doc
    reads 0; a half-copied doc reads the exact passage fraction."""
    body = " ".join(f"w{i}" for i in range(16))
    other = " ".join(f"x{i}" for i in range(16))
    half = " ".join(f"w{i}" for i in range(8)) + " " + " ".join(f"y{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, body), (2, body), (3, other), (4, half)], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in DD.dup_passage_coverage(df, k=4).collect()}
    assert rows[1].dup_bp == 10000 and rows[2].dup_bp == 10000
    assert rows[3].dup_bp == 0
    # doc 4: 13 distinct 4-token passages, the 5 fully inside w0..w7
    # also occur in docs 1/2 -> floor(10000*5/13)
    assert rows[4].n_passages == 13
    assert rows[4].n_dup == 5
    assert rows[4].dup_bp == 10000 * 5 // 13


def test_dup_passage_short_and_empty_docs_survive(spark):
    df = spark.createDataFrame(
        [(1, "only two"), (2, "only two"), (3, "")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in DD.dup_passage_coverage(df, k=4).collect()}
    # shorter-than-k docs yield ONE short passage; identical short docs
    # still count as duplicated
    assert rows[1].n_passages == 1 and rows[1].dup_bp == 10000
    assert rows[3].n_passages == 1 and rows[3].dup_bp == 0


# ---------------------------------------------------------------------------
# percentile quality gate
# ---------------------------------------------------------------------------

def test_quality_gate_exact_percentile_with_ties(spark):
    """Threshold = smallest score with 100*cum >= pct*n; ties AT the
    threshold all survive. 4 docs scoring (10,20,20,30)*... -> with
    drop_pct=50, T is the score where cum first reaches 2 of 4."""
    from vaero_spark.operators.curate import quality_percentile_gate

    # craft texts whose quality_bp orders deterministically: more 'the'
    # stopwords -> higher stop_bp -> higher quality
    mk = lambda n_stop, n_fill: " ".join(["the"] * n_stop + ["zz"] * n_fill)
    df = spark.createDataFrame(
        [(1, "en", mk(0, 10)), (2, "en", mk(5, 5)), (3, "en", mk(5, 5)),
         (4, "en", mk(10, 0))],
        ["doc_id", "lang", "text"],
    )
    kept = quality_percentile_gate(df, drop_pct=50).collect()
    ids = sorted(r.doc_id for r in kept)
    # doc1 (lowest) drops; docs 2,3 tie at the threshold and survive
    assert ids == [2, 3, 4]


def test_quality_gate_is_per_language(spark):
    """A language whose docs all score identically keeps everything
    (ties at the threshold); gating never leaks across languages — the
    low-scoring bb doc would survive bb's own 25% cut but not a global
    one against aa's high scores."""
    from vaero_spark.operators.curate import quality_percentile_gate

    mk = lambda n_stop, n_fill: " ".join(["the"] * n_stop + ["zz"] * n_fill)
    df = spark.createDataFrame(
        [(1, "aa", mk(2, 2)), (2, "aa", mk(2, 2)),
         (3, "bb", mk(0, 4)), (4, "bb", mk(1, 3)),
         (5, "bb", mk(2, 2)), (6, "bb", mk(4, 0))],
        ["doc_id", "lang", "text"],
    )
    kept = sorted(r.doc_id for r in quality_percentile_gate(df, drop_pct=50).collect())
    # aa: both docs tie -> the tie IS the threshold, both survive.
    # bb: 4 distinct scores, target = 2 of 4 -> threshold is the 2nd
    # lowest score; only the strictly-below doc 3 drops.
    assert kept == [1, 2, 4, 5, 6]


# ---------------------------------------------------------------------------
# BPE merge induction
# ---------------------------------------------------------------------------

def test_pair_merges_count_every_occurrence_with_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b c"), (3, "x")], ["doc_id", "text"]
    )
    rows = TXT.pair_merge_topk(df, k=10).collect()
    by_pair = {r.pair: (r.n, r.rank) for r in rows}
    assert by_pair["a b"] == (3, 1)  # 2 in doc1 + 1 in doc2
    assert by_pair["b a"] == (2, 2)
    assert by_pair["b c"] == (1, 3)  # count tie broken by pair ASC
    assert "x" not in by_pair  # 1-token docs contribute no pair


# ---------------------------------------------------------------------------
# token-window chunking
# ---------------------------------------------------------------------------

def test_chunk_tokens_windows_and_overlap(spark):
    from vaero_spark.operators.assemble import chunk_tokens

    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "short"), (3, "")], ["doc_id", "text"])
    out = chunk_tokens(df, chunk_size=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc1: 10 tokens, starts at 0,3,6 fill full windows, start 9 is the
    # tail -> 1 + ceil((10-4)/3) = 3 chunks
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [r.chunk_idx for r in c1] == [0, 1, 2]
    assert [r.n_chunk_tokens for r in c1] == [4, 4, 4]
    # short and empty docs keep exactly one chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0].n_chunk_tokens == 1
    assert len(by_doc[3]) == 1 and by_doc[3][0].n_chunk_tokens == 0


def test_chunk_tokens_tail_chunk_is_partial(spark):
    from vaero_spark.operators.assemble import chunk_tokens

    text = " ".join(f"t{i}" for i in range(11))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = sorted(chunk_tokens(df, chunk_size=4, stride=3).collect(),
                 key=lambda r: r.chunk_idx)
    # 11 tokens -> 1 + ceil(7/3) = 4 chunks; last starts at token 10
    assert [r.n_chunk_tokens for r in out] == [4, 4, 4, 2]


# ---------------------------------------------------------------------------
# cross-snapshot dedup
# ---------------------------------------------------------------------------

def test_dedup_against_drops_only_snapshot_matches(spark):
    new = spark.createDataFrame(
        [(1, "kept text"), (2, "dup text"), (3, "dup text")], ["doc_id", "text"]
    )
    snap = spark.createDataFrame([(99, "dup text")], ["doc_id", "text"])
    kept = sorted(r.doc_id for r in DD.dedup_against(new, snap).collect())
    # BOTH copies of the snapshot text drop (cross-snapshot dedup is a
    # membership test, not within-corpus dedup); the fresh text survives
    assert kept == [1]


# ---------------------------------------------------------------------------
# skew-proof per-group top-k
# ---------------------------------------------------------------------------

def test_group_topk_equals_window_plan(spark):
    """The two-phase salted plan must equal row_number()-over-window
    row-for-row, including the (order DESC, id ASC) tiebreak."""
    import random

    from pyspark.sql import Window
    from vaero_spark.operators.transforms import group_topk

    rng = random.Random(7)
    rows = [(i, f"g{i % 3}", rng.randrange(10)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, score long")
    got = {
        (r.grp, r.rank): (r.doc_id, r.score)
        for r in group_topk(df, "grp", "score", "doc_id", k=4, n_salts=8).collect()
    }
    w = Window.partitionBy("grp").orderBy(F.col("score").desc(), "doc_id")
    want = {
        (r.grp, r.rank): (r.doc_id, r.score)
        for r in df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 4)
        .collect()
    }
    assert got == want and len(want) == 12


def test_group_topk_small_groups_emit_all_rows(spark):
    from vaero_spark.operators.transforms import group_topk

    df = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 3)], "doc_id long, grp string, score long"
    )
    out = group_topk(df, "grp", "score", "doc_id", k=10).collect()
    assert sorted((r.grp, r.rank, r.doc_id) for r in out) == [
        ("a", 1, 1), ("b", 1, 2)
    ]


# ---------------------------------------------------------------------------
# exact length quantiles
# ---------------------------------------------------------------------------

def test_length_quantiles_inverted_cdf_exact(spark):
    """5 docs of lengths 1..5 in one lang: p25 -> smallest L with
    cum >= ceil(25%*5)=2nd doc -> 2; p50 -> 3; p75 -> 4; p95 -> 5."""
    rows = [(i, "xx", " ".join(["w"] * i)) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r.lang: r for r in TXT.length_quantiles(df).collect()}
    r = out["xx"]
    assert (r.n_docs, r.p25, r.p50, r.p75, r.p95) == (5, 2, 3, 4, 5)


# ---------------------------------------------------------------------------
# inverted-index build
# ---------------------------------------------------------------------------

def test_build_postings_df_exact_and_postings_capped(spark):
    from vaero_spark.operators.search import build_postings

    docs = [(i, "common word" if i < 5 else "rare") for i in range(8)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = build_postings(df, k=3).collect()
    by_tok = {}
    for r in out:
        by_tok.setdefault(r.token, []).append(r)
    common = sorted(by_tok["common"], key=lambda r: r.rank)
    # df counts ALL docs containing the token; postings cap at k lowest ids.
    # Sort by rank before asserting — collect() row order is NOT a Spark
    # guarantee (observed reversed under AQE in long shared sessions);
    # the rank→id mapping is the actual contract.
    assert [r.df for r in common] == [5, 5, 5]
    assert [(r.rank, r.doc_id) for r in common] == [(1, 0), (2, 1), (3, 2)]
    rare = sorted(by_tok["rare"], key=lambda r: r.rank)
    assert [(r.rank, r.doc_id) for r in rare] == [(1, 5), (2, 6), (3, 7)]
    # repeated token within one doc counts once
    df2 = spark.createDataFrame([(1, "dup dup dup")], "doc_id long, text string")
    out2 = build_postings(df2, k=3).collect()
    assert [(r.token, r.df, r.doc_id) for r in out2] == [("dup", 1, 1)]


def test_upsample_by_weight_copies_and_drops(spark):
    """Integer parts always repeat, zero weight drops the stratum, the
    fractional copy follows the deterministic per-doc hash draw, and
    copy_idx enumerates 1..n per doc."""
    import hashlib

    from vaero_spark.operators.transforms import upsample_by_weight
    from vaero_spark.functions.text import MINHASH_P  # noqa: F401 (idiom anchor)

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = upsample_by_weight(
        df, {"a": 25_000, "b": 0}, default_bp=5_000
    ).collect()
    got = {}
    for r in out:
        got.setdefault((r.doc_id, r.lang), []).append(r.copy_idx)

    def draw(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:10], 16) % 10_000

    for i, lang in rows:
        w = {"a": 25_000, "b": 0}.get(lang, 5_000)
        n = w // 10_000 + (1 if draw(i) < w % 10_000 else 0)
        if n == 0:
            assert (i, lang) not in got, (i, lang)
        else:
            assert sorted(got[(i, lang)]) == list(range(1, n + 1)), (i, lang)
    # stratum b fully dropped; stratum a repeated 2-3x
    assert not any(lang == "b" for _, lang in got)
    a_counts = [len(v) for (i, lang), v in got.items() if lang == "a"]
    assert set(a_counts) <= {2, 3} and a_counts


def test_sample_bottomk_equals_window_bruteforce(spark):
    """Fixed-size per-stratum bottom-k by md5: equals the sorted brute
    force, size-pinned, merge-invariant across partitionings."""
    import hashlib

    from vaero_spark.operators.transforms import sample_bottomk

    rows = [(i, ["x", "y"][i % 2]) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    for reparted in (df, df.repartition(13)):
        got = {
            (r.lang, r.rank): (r.doc_id, r.sample_hash)
            for r in sample_bottomk(reparted, k=7, n_salts=4).collect()
        }
        assert len(got) == 14
        for lang in ("x", "y"):
            ids = [i for i, l in rows if l == lang]
            want = sorted((hashlib.md5(str(i).encode()).hexdigest(), i) for i in ids)[:7]
            for rank, (h, i) in enumerate(want, 1):
                assert got[(lang, rank)] == (i, h), (lang, rank)

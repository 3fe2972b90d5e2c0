"""Dedup / similarity / conv-agg operator tests (vs driver-side oracles)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from discoverx_spark.operators import (
    brute_force_topk, conversation_fingerprints, conversation_stats,
    dedup_exact, embedding_near_duplicates, exact_duplicates, jaccard_pairs,
    lsh_candidate_pairs, lsh_topk, minhash_near_duplicates,
    minhash_signatures, role_alternation_violations, shingles_expr,
    simhash_expr, simhash_near_duplicates, with_conversation_stats)
from discoverx_spark.transcripts import generate_transcripts

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
    (3, "The  Quick Brown   Fox jumps over the lazy dog"),        # normalized dup of 1
    (4, "the quick brown fox jumps over the sleepy dog"),         # near dup
    (5, "a completely different sentence about query planning"),
    (6, "spark partitions shuffle data between executors at scale"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(docs):
    dups = exact_duplicates(docs, "text", "doc_id").collect()
    assert len(dups) == 1
    assert dups[0]["canonical_id"] == 1 and dups[0]["dup_count"] == 3


def test_dedup_exact_keeps_min_id(docs):
    kept = sorted(r["doc_id"] for r in dedup_exact(docs, "text", "doc_id").collect())
    assert kept == [1, 4, 5, 6]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], "t string")
    rows = df.select(shingles_expr("t", 3).alias("s")).collect()
    assert rows[0]["s"] == ["a b c", "b c d"]
    assert rows[1]["s"] == ["x y"]  # short text falls back to whole string


@pytest.mark.parametrize("mode", ["xxhash64", "md5"])
def test_minhash_identical_docs_same_signature(docs, mode):
    sigs = {r["id"]: tuple(r[f"mh_{i}"] for i in range(8))
            for r in minhash_signatures(docs, "text", "doc_id", k=8,
                                        hash_mode=mode).collect()}
    assert sigs[1] == sigs[2]          # identical text, identical signature
    agree14 = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    agree15 = sum(a == b for a, b in zip(sigs[1], sigs[5]))
    assert agree14 > agree15           # near dup agrees more than unrelated


def test_minhash_near_duplicates(docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in minhash_near_duplicates(docs, "text", "doc_id",
                                              k=16, bands=8,
                                              threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert all(not (set(p) & {5, 6}) or p in {(5, 6)} for p in pairs
               if pairs[p] >= 0.99)


def test_lsh_candidates_contain_exact_dups(docs):
    sigs = minhash_signatures(docs, "text", "doc_id", k=16)
    cands = {(r["id_a"], r["id_b"])
             for r in lsh_candidate_pairs(sigs, bands=8, k=16).collect()}
    assert (1, 2) in cands


def test_lsh_entry_points_share_one_banding(spark):
    """lsh_candidate_pairs, minhash_near_duplicates (threshold 0, so
    verification keeps every candidate) and incremental_lsh_pairs against
    an empty index must bucket each signature identically: on a null-free
    corpus all three yield the same candidate pair set."""
    from discoverx_spark.operators import incremental_lsh_pairs

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    extra = [(10 + i, " ".join(words[i:] + words[:i][:2])) for i in range(8)]
    df = spark.createDataFrame(DOCS + extra, "doc_id long, text string")
    sigs = minhash_signatures(df, "text", "doc_id", k=16)
    banded = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(
        sigs, bands=4, k=16, max_bucket=None).collect()}
    verified = {(r["id_a"], r["id_b"]) for r in minhash_near_duplicates(
        df, "text", "doc_id", k=16, bands=4, threshold=0.0,
        max_bucket=None).select("id_a", "id_b").collect()}
    incremental = {(r["id_a"], r["id_b"]) for r in incremental_lsh_pairs(
        sigs.limit(0), sigs, bands=4, k=16).collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= banded
    assert banded == verified == incremental


def test_jaccard_pairs_exact(docs):
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in jaccard_pairs(docs, "text", "doc_id", shingle_n=2).collect()}
    assert got[(1, 2)] == 1.0
    # python oracle for (1, 4)
    def sh2(t):
        w = t.lower().split()
        return set(" ".join(w[i:i+2]) for i in range(len(w) - 1))
    a, b = sh2(DOCS[0][1]), sh2(DOCS[3][1])
    assert got[(1, 4)] == pytest.approx(len(a & b) / len(a | b))


def test_simhash_near_duplicates(docs):
    sims = {r["doc_id"]: r["sh"] for r in
            docs.select("doc_id", simhash_expr("text", 16).alias("sh")).collect()}
    assert sims[1] == sims[2]
    pairs = {(r["id_a"], r["id_b"]) for r in
             simhash_near_duplicates(docs, "text", "doc_id", bits=16,
                                     max_hamming=3).collect()}
    assert (1, 2) in pairs


# --------------------------------------------------------------------------
# Similarity
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.RandomState(0)
    base = rng.randn(20, 8)
    base[1] = base[0] + 0.01 * rng.randn(8)        # near dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), base


def test_brute_force_topk_matches_numpy(embeddings):
    df, base = embeddings
    out = brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=3)
    got = [(r["neighbor_id"], r["cosine"]) for r in out.orderBy("rank").collect()]
    b32 = base.astype(np.float32).astype(np.float64)   # spark stores float32
    sims = b32 @ b32[0] / (np.linalg.norm(b32, axis=1) * np.linalg.norm(b32[0]))
    order = [i for i in np.argsort(-np.round(sims, 6)) if i != 0][:3]
    assert [g[0] for g in got] == order
    assert got[0][0] == 1  # the planted near-duplicate is rank 1


def test_embedding_near_duplicates(embeddings):
    df, _ = embeddings
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_near_duplicates(df, threshold=0.98).collect()}
    assert pairs == {(0, 1)}


def test_lsh_topk_finds_planted_neighbor(embeddings):
    df, _ = embeddings
    out = lsh_topk(df, df.filter(F.col("vec_id") == 0), k=3, n_planes=6, dim=8)
    rows = out.orderBy("rank").collect()
    assert rows and rows[0]["neighbor_id"] == 1


def test_ivf_topk_finds_planted_neighbor(embeddings):
    from discoverx_spark.operators import ivf_topk
    df, _ = embeddings
    out = ivf_topk(df, df.filter(F.col("vec_id") < 6),
                   df.filter(F.col("vec_id") == 0), k=3, probes=3)
    rows = out.orderBy("rank").collect()
    # vec 1 is a near-clone of vec 0 → same coarse cell → found at rank 1
    assert rows and rows[0]["neighbor_id"] == 1


# --------------------------------------------------------------------------
# Conversation aggregates
# --------------------------------------------------------------------------

def test_salted_stats_equal_direct(spark):
    turns = generate_transcripts(spark, 60, seed=3, hot_frac=0.1)
    direct = {r["conv_id"]: r for r in conversation_stats(turns, 0).collect()}
    salted = {r["conv_id"]: r for r in conversation_stats(turns, 8).collect()}
    assert set(direct) == set(salted)
    for k in direct:
        assert direct[k] == salted[k]


def test_conversation_fingerprints_detect_identical_convs(spark):
    rows = [("a", 0, "u", "hello there", None, None),
            ("a", 1, "as", "hi back", None, None),
            ("b", 0, "u", "hello there", None, None),
            ("b", 1, "as", "hi back", None, None),
            ("c", 0, "u", "different", None, None)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    fps = {r["conv_id"]: r["conv_fingerprint"]
           for r in conversation_fingerprints(df).collect()}
    assert fps["a"] == fps["b"] != fps["c"]


def test_with_conversation_stats_join(spark):
    turns = generate_transcripts(spark, 20, seed=5)
    out = with_conversation_stats(turns)
    assert out.count() == turns.count()
    r = out.filter(F.col("turn_idx") == 0).first()
    assert r["n_turns"] >= 2


def test_dedup_conversations(spark):
    from discoverx_spark.operators import dedup_conversations
    rows = [("a", 0, "u", "hello there", None, None),
            ("a", 1, "as", "hi back", None, None),
            ("b", 0, "u", "hello there", None, None),   # clone of a
            ("b", 1, "as", "hi back", None, None),
            ("c", 0, "u", "different", None, None)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    kept = dedup_conversations(df)
    assert sorted(set(r["conv_id"] for r in kept.collect())) == ["a", "c"]
    assert kept.count() == 3


def test_embedding_lsh_near_duplicates(embeddings):
    from discoverx_spark.operators import lsh_near_duplicates
    df, _ = embeddings
    pairs = {(r["id_a"], r["id_b"]) for r in
             lsh_near_duplicates(df, threshold=0.98, n_planes=8, dim=8).collect()}
    assert (0, 1) in pairs  # the planted near-clone shares its bucket


def test_conversation_near_duplicates(spark):
    from discoverx_spark.operators import conversation_near_duplicates
    from discoverx_spark.transcripts import generate_transcripts
    turns = generate_transcripts(spark, 40, seed=13)
    # near-clone: same conversation minus its first turn
    clones = (turns.filter(F.col("conv_id") < "conv-13-00000010")
              .filter(F.col("turn_idx") > 0)
              .withColumn("conv_id", F.concat(F.lit("zz-"), F.col("conv_id"))))
    pairs = conversation_near_duplicates(
        turns.unionByName(clones), threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # every cloned conversation pairs with its original
    for i in range(10):
        orig = f"conv-13-{i:08d}"
        assert any(orig in p and f"zz-{orig}" in p for p in found), orig


def test_role_alternation(spark):
    rows = [("a", 0, "user"), ("a", 1, "user"), ("a", 2, "assistant")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    v = role_alternation_violations(df).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in v] == [("a", 1)]


def test_line_dedup_first_occurrence_wins(spark):
    from discoverx_spark.operators.dedup import line_dedup
    rows = [
        (1, "alpha\nboiler\nbravo"),
        (2, "boiler\ncharlie"),
        (3, "boiler\n \nboiler"),      # all dedupable lines removed
        (4, "unique only"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df, "text", "doc_id").collect()}
    assert len(out) == 5
    # doc 1 holds the first occurrence of "boiler" — untouched
    assert out[1]["clean_text"] == "alpha\nboiler\nbravo"
    assert out[1]["n_removed"] == 0
    # later occurrences removed everywhere else
    assert out[2]["clean_text"] == "charlie"
    assert out[2]["n_removed"] == 1
    # whitespace-only line survives (never a dedup candidate); both
    # "boiler" repeats go, doc keeps just the blank line
    assert out[3]["clean_text"] == " "
    assert out[3]["n_removed"] == 2
    assert out[3]["n_lines"] == 3
    assert out[4]["clean_text"] == "unique only"
    assert out[5]["clean_text"] == ""
    assert out[5]["n_lines"] == 1


def test_line_dedup_min_count_and_normalization(spark):
    from discoverx_spark.operators.dedup import line_dedup
    import pytest as _pytest
    rows = [(1, "x\ny"), (2, "  x \nz")]  # "x" repeats modulo trim
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in line_dedup(df, "text", "doc_id", min_count=2).collect()}
    # trim-normalized comparison: "  x " is a repeat of "x", original
    # (untrimmed) text is preserved for kept lines
    assert out[1]["clean_text"] == "x\ny"
    assert out[2]["clean_text"] == "z"
    # min_count=3: pair no longer dense enough to dedup
    out3 = {r["doc_id"]: r
            for r in line_dedup(df, "text", "doc_id", min_count=3).collect()}
    assert out3[2]["clean_text"] == "  x \nz"
    with _pytest.raises(ValueError):
        line_dedup(df, "text", "doc_id", min_count=1)


def test_semantic_dedup_keeps_farthest_from_centroid(embeddings, spark):
    from discoverx_spark.operators.similarity import semantic_dedup
    df, base = embeddings
    # plant an exact clone of vec 5 with a higher id
    clone = df.filter(F.col("vec_id") == 5).select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding")
    both = df.unionByName(clone)
    cents = df.filter(F.col("vec_id") < 4)
    out = {r["id"]: r for r in
           semantic_dedup(both, cents, threshold=0.999,
                          max_cluster=None).collect()}
    assert len(out) == 21                      # one row per input vector
    # the exact clone pair: identical centroid_sim, so the SMALLER id wins
    assert out[5]["keep"] is True
    assert out[105]["keep"] is False
    assert out[5]["centroid_id"] == out[105]["centroid_id"]
    # untouched vectors all keep=True
    assert all(r["keep"] for i, r in out.items() if i not in (105,))


def test_conversation_gates(spark):
    from discoverx_spark.operators.convagg import conversation_gates
    import datetime
    ts = datetime.datetime(2026, 1, 1)
    rows = [
        # clean conversation
        ("a", 0, "user", "hello there", None, ts),
        ("a", 1, "assistant", "hi, how can I help", None, ts),
        # single-turn (too short)
        ("b", 0, "user", "alone", None, ts),
        # toxic majority
        ("c", 0, "user", "you idiot", None, ts),
        ("c", 1, "assistant", "please be kind", None, ts),
        # alternation violation
        ("d", 0, "user", "one", None, ts),
        ("d", 1, "user", "two", None, ts),
        # PII on every turn
        ("e", 0, "user", "mail me at a@b.com", None, ts),
        ("e", 1, "assistant", "sent to a@b.com", None, ts),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    out = {r["conv_id"]: r for r in conversation_gates(df).collect()}
    assert out["a"]["keep_conversation"] is True
    assert out["b"]["keep_conversation"] is False          # < min_turns
    assert out["c"]["keep_conversation"] is False          # toxic_frac 0.5
    assert out["c"]["toxic_frac"] == 0.5
    assert out["d"]["keep_conversation"] is False          # alternation
    assert out["d"]["n_alternation_violations"] == 1
    assert out["e"]["keep_conversation"] is False          # pii_frac 1.0
    assert out["e"]["pii_frac"] == 1.0


def test_line_dedup_randomized_invariants(spark):
    import random
    from collections import Counter

    from discoverx_spark.operators.dedup import line_dedup
    rng = random.Random(7)
    vocab = [f"line number {i}" for i in range(30)]
    rows = [(d, "\n".join(rng.choice(vocab)
                          for _ in range(rng.randint(1, 12))))
            for d in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in line_dedup(df, "text", "doc_id").collect()}

    orig = Counter()
    first_doc = {}
    for d, t in rows:
        for line in t.split("\n"):
            orig[line] += 1
            first_doc.setdefault(line, d)
    kept = Counter()
    for d, t in rows:
        r = out[d]
        n_lines = len(t.split("\n"))
        assert r["n_lines"] == n_lines
        kept_lines = r["clean_text"].split("\n") if r["clean_text"] else []
        assert r["n_removed"] == n_lines - len(kept_lines)
        kept.update(kept_lines)
    for line, c in orig.items():
        # a repeated line survives exactly once (at its first occurrence);
        # unique lines are untouched
        assert kept[line] == (1 if c >= 2 else c), line
        if c >= 2:
            assert line in out[first_doc[line]]["clean_text"].split("\n")


def test_semantic_dedup_clique_survivor(spark):
    from discoverx_spark.operators.similarity import semantic_dedup
    rng = np.random.RandomState(3)
    base = rng.randn(15, 6)
    for j in (1, 2):                       # clique {0,1,2}
        base[j] = base[0] + 1e-4 * rng.randn(6)
    base[6] = base[5] + 1e-4 * rng.randn(6)   # clique {5,6}
    rows = [(i, [float(x) for x in base[i]]) for i in range(15)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["id"]: r for r in
           semantic_dedup(df, df.filter(F.col("vec_id").isin(0, 5, 9, 12)),
                          threshold=0.999, max_cluster=None).collect()}
    assert len(out) == 15                  # one row per vector, always
    for clique in ({0, 1, 2}, {5, 6}):
        kept = [i for i in clique if out[i]["keep"]]
        # exactly one survivor per near-identical clique
        assert len(kept) == 1, (clique, kept)
    # vectors with no near-duplicate all survive
    for i in set(range(15)) - {0, 1, 2, 5, 6}:
        assert out[i]["keep"], i


def test_incremental_exact_dedup(spark):
    from discoverx_spark.operators.dedup import incremental_exact_dedup
    from discoverx_spark.functions.text import fingerprint_expr
    idx_rows = [(1, "already indexed"), (2, "also indexed")]
    index = spark.createDataFrame(idx_rows, "doc_id long, text string") \
        .select(fingerprint_expr("text").alias("fingerprint"))
    batch_rows = [
        (10, "already indexed"),        # dup of index -> dropped
        (11, "brand new content"),      # novel
        (12, "brand new content"),      # in-batch dup -> min id wins
        (13, "Already   Indexed"),      # normalized dup of index
        (14, "other novel text"),
    ]
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    out = sorted(r["doc_id"] for r in
                 incremental_exact_dedup(batch, index,
                                         "text", "doc_id").collect())
    assert out == [11, 14]


def test_line_dedup_within_doc(spark):
    from discoverx_spark.operators.dedup import line_dedup_within
    rows = [
        (1, "a\nb\na\n \nb\n \na"),     # repeats + preserved blanks
        (2, "x"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in line_dedup_within(df, "text", "doc_id").collect()}
    assert out[1]["clean_text"] == "a\nb\n \n "
    assert out[1]["n_lines"] == 7 and out[1]["n_removed"] == 3
    assert out[2]["clean_text"] == "x" and out[2]["n_removed"] == 0
    assert out[3]["clean_text"] == "" and out[3]["n_lines"] == 1


def test_batched_assignment_matches_sql(embeddings, spark):
    from discoverx_spark.operators.similarity import (ivf_assign_batched,
                                                      semantic_dedup)
    df, _ = embeddings
    cents = df.filter(F.col("vec_id") < 4)
    got = {r["id"]: (r["centroid_id"], r["centroid_sim"]) for r in
           ivf_assign_batched(df, cents).collect()}
    # the SQL path inside semantic_dedup produces the reference
    # assignment; compare both full outputs
    sql_out = {r["id"]: r for r in
               semantic_dedup(df, cents, threshold=0.999,
                              max_cluster=None).collect()}
    bat_out = {r["id"]: r for r in
               semantic_dedup(df, cents, threshold=0.999, max_cluster=None,
                              assign_method="batched").collect()}
    assert len(got) == 20
    for i, r in sql_out.items():
        assert got[i][0] == r["centroid_id"], i
        assert abs(got[i][1] - r["centroid_sim"]) < 2e-6, i
        b = bat_out[i]
        assert (b["centroid_id"], b["keep"]) == (r["centroid_id"],
                                                 r["keep"]), i


def test_line_dedup_crlf_blank_lines_survive(spark):
    from discoverx_spark.operators.dedup import line_dedup, line_dedup_within
    # CRLF corpus: blank lines are '\r' after splitting on '\n' — they
    # must be treated as blank (kept everywhere), not as the hottest
    # duplicate line in the corpus
    rows = [(1, "alpha\r\n\r\nbeta"), (2, "gamma\r\n\r\ndelta"),
            (3, "alpha\r\nend")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df, "text", "doc_id").collect()}
    assert out[2]["clean_text"] == "gamma\r\n\r\ndelta"   # blanks intact
    assert out[2]["n_removed"] == 0
    assert out[3]["clean_text"] == "end"                  # real dup removed
    w = {r["doc_id"]: r
         for r in line_dedup_within(df, "text", "doc_id").collect()}
    assert w[1]["n_removed"] == 0                         # blanks not dups


def test_bm25_batch_matches_single_query(spark, sf_dir):
    """bm25_topk_batch over 3 queries reproduces bm25_topk per query
    exactly (same sorted-term fold, same rounded ranking) — with zero
    per-query driver collects and one broadcast of the query terms."""
    from discoverx_spark.operators.retrieval import bm25_topk, bm25_topk_batch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = [(1, "table scan merge"), (2, "query join filter"),
               (3, "spark data pipeline")]
    qdf = spark.createDataFrame(queries, "query_id long, query string")
    batch = bm25_topk_batch(docs, "text", "doc_id", qdf, k=5)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["id"], r["score"]))
    for qid, qtext in queries:
        single = [(r["rank"], r["id"], r["score"]) for r in
                  bm25_topk(docs, "text", "doc_id", qtext, k=5).collect()]
        assert sorted(got[qid]) == sorted(single), qid
    # plan: the batch job never collects corpus stats to the driver —
    # query terms, dfs, and N/avgdl all ride broadcasts
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_bm25_batch_rejects_termless_queries(spark, sf_dir):
    import pytest

    from discoverx_spark.operators.retrieval import bm25_topk_batch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qdf = spark.createDataFrame(
        [(1, "table scan"), (2, "   "), (3, None)],
        "query_id long, query string")
    with pytest.raises(ValueError, match="queries with no terms"):
        bm25_topk_batch(docs, "text", "doc_id", qdf, k=5)


def test_dsir_weights_prefer_target_like_docs(spark):
    """Documents sharing the target's vocabulary must get higher
    importance weights than documents that don't; weights are
    deterministic across recomputation."""
    from discoverx_spark.operators.dsir import dsir_log_weights, dsir_resample

    target_like = "spark shuffle partition join broadcast executor"
    other = "banana apple cherry mango papaya kiwi"
    rows = ([(i, target_like) for i in range(10)]
            + [(100 + i, other) for i in range(10)])
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(1000 + i, target_like) for i in range(5)],
        "doc_id long, text string")
    w = {r["id"]: r["log_weight"] for r in
         dsir_log_weights(raw, target, "text", "doc_id",
                          buckets=256).collect()}
    assert min(w[i] for i in range(10)) > max(w[100 + i] for i in range(10))

    sel = dsir_resample(raw, target, "text", "doc_id", k=8, buckets=256)
    picked = [r["id"] for r in sel.collect()]
    assert len(picked) == 8
    # ∝ w selection with these extreme weights: target-like docs dominate
    assert sum(1 for i in picked if i < 100) >= 6
    # deterministic: identical second run (hash-derived Gumbel noise)
    again = [r["id"] for r in
             dsir_resample(raw, target, "text", "doc_id", k=8,
                           buckets=256).collect()]
    assert picked == again


def test_dsir_empty_and_short_docs(spark):
    """Empty/whitespace/1-token docs flow through (no bigrams, unigrams
    only; empty docs score 0 via the restore join)."""
    from discoverx_spark.operators.dsir import dsir_log_weights

    raw = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "solo"), (4, "two words")],
        "doc_id long, text string")
    target = spark.createDataFrame([(9, "two words")],
                                   "doc_id long, text string")
    w = {r["id"]: r["log_weight"] for r in
         dsir_log_weights(raw, target, "text", "doc_id",
                          buckets=64).collect()}
    assert set(w) == {1, 2, 3, 4}
    assert w[1] == 0.0 and w[2] == 0.0
    assert w[4] > w[3]


def test_dsir_empty_target_gives_finite_weights(spark):
    """An empty target corpus yields the uniform smoothed-multinomial
    weights (finite, non-null) — not NULL-poisoned zeros."""
    from discoverx_spark.operators.dsir import dsir_log_weights

    raw = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string")
    target = raw.filter("doc_id < 0")  # empty
    w = {r["id"]: r["log_weight"] for r in
         dsir_log_weights(raw, target, "text", "doc_id",
                          buckets=64).collect()}
    assert set(w) == {1, 2}
    for v in w.values():
        assert v is not None and v == v  # finite, not NaN
        assert v != 0.0  # genuinely computed, not the empty-doc fallback


def test_bpe_train_and_segment_roundtrip(spark):
    """Distributed BPE learns the obvious merges on a skewed corpus, the
    greedy rewrite handles overlaps left-to-right, and segmenting with
    the learned merges reconstructs every word exactly."""
    from discoverx_spark.operators.bpe import (bpe_segment_expr, bpe_train,
                                               END_OF_WORD)
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(
        [(1, "low low low low lower lower newest newest newest widest")],
        "doc_id long, text string")
    merges = bpe_train(corpus, "text", num_merges=6)
    assert len(merges) == 6
    # 'lo'+'w' dominates: 6 occurrences of l,o adjacency
    assert merges[0] == ("l", "o")

    seg = corpus.select(
        bpe_segment_expr("text", merges).alias("pieces")).first()["pieces"]
    # segmentation is lossless: joining pieces reproduces the corpus
    joined = "".join(seg).replace(END_OF_WORD, " ").strip()
    assert joined == "low low low low lower lower newest newest newest widest"

    # greedy overlap semantics: 'aaa' with merge (a,a) -> ['aa','a</w>'-ish]
    aaa = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    m2 = bpe_train(aaa, "text", num_merges=1)
    assert m2 == [("a", "a")]
    pieces = aaa.select(
        bpe_segment_expr("text", m2).alias("p")).first()["p"]
    assert pieces == ["aa", "a", END_OF_WORD]


def test_bpe_matches_reference_implementation(spark):
    """The distributed merge loop reproduces the paper's reference
    algorithm (independent Python implementation) rank-for-rank."""
    from discoverx_spark.operators.bpe import bpe_train
    from discoverx_spark.queries import _py_bpe_reference

    text = ("the quick brown fox jumps over the lazy dog the dog barks "
            "the fox runs quick quick")
    corpus = spark.createDataFrame([(1, text)], "doc_id long, text string")
    assert bpe_train(corpus, "text", num_merges=10) == \
        _py_bpe_reference(text, 10)


def test_bpe_control_char_symbols_no_collision(spark):
    """Symbols containing C0 control characters (kept inside tokens by
    \\S+) must not corrupt pair grouping or merge parsing — the pair key
    is a struct, not a separator-joined string."""
    from discoverx_spark.operators.bpe import bpe_train
    from discoverx_spark.queries import _py_bpe_reference

    text = "a\x1fb a\x1fb a\x1fb cd cd"
    corpus = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = bpe_train(corpus, "text", num_merges=4)
    assert got == _py_bpe_reference(text, 4)
    # the control char participates in real merges, no bogus duplicates
    assert len(set(got)) == len(got)


def test_bpe_udf_matches_expr(spark):
    """The rank-priority Arrow segmenter (production path for 30k+-merge
    tables) produces exactly the expression form's output — including
    multi-char merge chains, OOV words, and broadcast shipping."""
    from discoverx_spark.operators.bpe import (bpe_segment_expr, bpe_train,
                                               make_bpe_segment_udf)
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(
        [(1, "low low low low lower lower newest newest newest widest "
             "the the the them theme")],
        "doc_id long, text string")
    merges = bpe_train(corpus, "text", num_merges=12)

    test = spark.createDataFrame(
        [(1, "low lower lowest newest news the theme unknown zzz"),
         (2, ""), (3, None), (4, "aaa the them")],
        "doc_id long, text string")
    via_expr = {r["doc_id"]: r["p"] for r in test.select(
        "doc_id", bpe_segment_expr("text", merges).alias("p")).collect()}
    via_udf = {r["doc_id"]: r["p"] for r in test.select(
        "doc_id",
        make_bpe_segment_udf(merges, spark=spark)("text").alias("p"),
    ).collect()}
    for k in via_expr:
        assert via_expr[k] == via_udf[k], (k, via_expr[k], via_udf[k])


def test_span_dedup_semantics(spark):
    """First occurrence kept globally; later spans removed with overlap
    union; sub-window docs and null/empty text pass through."""
    from discoverx_spark.operators.dedup import span_dedup

    df = spark.createDataFrame([
        (1, "a b c d e f g h x y z"),
        (2, "p q a b c d e f g h r"),          # dup span at pos 2
        (3, "a b c d e f g h i"),              # overlapping dups pos 0+1
        (4, "short doc"),                      # < window: untouched
        (5, None),
        (6, ""),
    ], "doc_id long, text string")
    got = {r["id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
           for r in span_dedup(df, "text", "doc_id", window=8,
                               hash_mode="gram").collect()}
    assert got[1] == ("a b c d e f g h x y z", 11, 0)  # first occurrence
    assert got[2] == ("p q r", 11, 8)
    # doc 3: grams at pos 0 ("a..h", dup of doc1 pos0) and pos 1
    # ("b..i", unique) -> only [0,8) removed, token 'i' survives
    assert got[3] == ("i", 9, 8)
    assert got[4] == ("short doc", 2, 0)
    assert got[5] == (None, 0, 0)
    assert got[6] == ("", 0, 0)

    # production hash family agrees with the gram-string family
    got_xx = {r["id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
              for r in span_dedup(df, "text", "doc_id", window=8).collect()}
    assert got_xx == got

    # case-insensitive MATCHING, case-PRESERVING rebuild: doc 8's span
    # duplicates doc 7 modulo case and is removed; doc 7's original case
    # survives in the output
    df2 = spark.createDataFrame([
        (7, "The Quick Brown Fox Jumps Over The Lazy Dog OK"),
        (8, "pre the quick brown fox jumps over the lazy dog post"),
    ], "doc_id long, text string")
    got2 = {r["id"]: (r["clean_text"], r["n_removed"]) for r in
            span_dedup(df2, "text", "doc_id", window=8,
                       hash_mode="gram").collect()}
    assert got2[7] == ("The Quick Brown Fox Jumps Over The Lazy Dog OK", 0)
    # doc 8's grams at pos 1 and 2 duplicate doc 7's at pos 0 and 1
    # (case-insensitively): covered positions 1..9, 'pre'/'post' survive
    assert got2[8] == ("pre post", 9)


def test_bpe_udf_rejects_non_monotone_tables(spark):
    """Rank-priority application is only equivalent to rank-order
    application for monotone tables (every trained table is); the UDF
    factory validates and rejects hand-written non-monotone input, where
    the two algorithms genuinely diverge (e.g. [(bc,d),(a,b),(b,c)] on
    'bcd')."""
    import pytest

    from discoverx_spark.operators.bpe import make_bpe_segment_udf

    with pytest.raises(ValueError, match="non-monotone"):
        make_bpe_segment_udf([("bc", "d"), ("a", "b"), ("b", "c")])
    with pytest.raises(ValueError, match="duplicate merge pair"):
        make_bpe_segment_udf([("a", "b"), ("a", "b")])
    # two DISTINCT pairs with the same product: ('a','bc') then ('ab','c')
    # both yield 'abc' — operand check passes, but a later-rank merge can
    # recreate a pair an earlier rank still wants, so rank-priority
    # diverges from rank-order.  Must be rejected too (ADVICE r4).
    with pytest.raises(ValueError, match="re-produces"):
        make_bpe_segment_udf([("b", "c"), ("a", "bc"), ("a", "b"),
                              ("ab", "c")])
    # monotone multi-char chain is fine
    make_bpe_segment_udf([("a", "b"), ("ab", "c")])


def _ref_span_dedup(texts, window, min_span=None):
    """Independent driver-side span_dedup (zero code shared with
    operators/dedup.py): first-occurrence-kept duplicate windows on
    lowercased Java-whitespace tokens; optional maximal-span run guard;
    case-preserving single-space rebuild."""
    import re

    tok = re.compile(r"[^ \t\n\x0b\f\r]+")
    toks = {i: ([] if t is None else tok.findall(t)) for i, t in texts.items()}
    occs = {}
    for i in sorted(toks):
        low = [w.lower() for w in toks[i]]
        for p in range(len(low) - window + 1):
            occs.setdefault(" ".join(low[p:p + window]), []).append((i, p))
    rm = {i: set() for i in toks}
    for gram, sites in occs.items():
        if len(sites) < 2:
            continue
        first = min(sites)
        for (i, p) in sites:
            if (i, p) != first:
                rm[i].add(p)
    out = {}
    for i, starts in rm.items():
        if min_span is None:
            covered = {q for p in starts for q in range(p, p + window)}
        else:
            covered = set()
            runs, cur = [], []
            for p in sorted(starts):
                if cur and p == cur[-1] + 1:
                    cur.append(p)
                else:
                    if cur:
                        runs.append(cur)
                    cur = [p]
            if cur:
                runs.append(cur)
            need = min_span - window + 1
            for r in runs:
                if len(r) >= need:
                    covered |= set(range(r[0], r[-1] + window))
        kept = [w for q, w in enumerate(toks[i]) if q not in covered]
        clean = None if texts[i] is None else " ".join(kept)
        out[i] = (clean, len(toks[i]), len(toks[i]) - len(kept))
    return out


def test_span_dedup_random_differential(spark):
    """Differential fuzz: Spark span_dedup (both hash families, with and
    without min_span_tokens) vs an independent Python reference over
    seeded random corpora with a tiny alphabet (forces heavy gram
    collisions, overlaps, cross-doc and within-doc duplicates)."""
    import random

    from discoverx_spark.operators.dedup import span_dedup

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        vocab = ["aa", "Bb", "cc", "DD", "e"]
        texts = {}
        for i in range(30):
            n = rng.randint(0, 25)
            texts[i] = " ".join(rng.choice(vocab) for _ in range(n))
        texts[30] = None
        texts[31] = ""
        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")
        for window in (3, 5):
            for min_span in (None, window + 2):
                exp = _ref_span_dedup(texts, window, min_span)
                got = {r["id"]: (r["clean_text"], r["n_tokens"],
                                 r["n_removed"])
                       for r in span_dedup(
                           df, "text", "doc_id", window=window,
                           hash_mode="gram",
                           min_span_tokens=min_span).collect()}
                assert got == exp, (seed, window, min_span)
        # production hash family agrees with the gram family
        got_xx = {r["id"]: (r["clean_text"], r["n_removed"])
                  for r in span_dedup(df, "text", "doc_id",
                                      window=3).collect()}
        exp3 = _ref_span_dedup(texts, 3)
        assert got_xx == {i: (v[0], v[2]) for i, v in exp3.items()}, seed


def test_bpe_batch_random_differential(spark):
    """Differential fuzz: batched BPE training == classic
    one-merge-per-scan on seeded random corpora (heavy pair interaction:
    tiny alphabet, repeated substrings)."""
    import random

    from discoverx_spark.operators.bpe import bpe_train

    for seed in (3, 11):
        rng = random.Random(seed)
        words = ["".join(rng.choice("abc") for _ in range(rng.randint(1, 5)))
                 for _ in range(12)]
        text = " ".join(rng.choice(words) for _ in range(200))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        ref = bpe_train(df, "text", num_merges=10, batch_size=1)
        for bs in (4, 16):
            got = bpe_train(df, "text", num_merges=10, batch_size=bs)
            assert got == ref, (seed, bs)


def test_incremental_line_dedup_semantics(spark):
    """Index hits remove EVERY batch occurrence (the corpus already has
    the line); batch-internal repeats keep their first occurrence;
    blanks and novel lines survive; line_keys of the survivors is the
    append that maintains the index."""
    from discoverx_spark.operators.dedup import (incremental_line_dedup,
                                                 line_keys)

    corpus = spark.createDataFrame(
        [(0, "old boilerplate\nsome earlier content")],
        "doc_id long, text string")
    idx = line_keys(corpus, "text").localCheckpoint(eager=True)

    batch = spark.createDataFrame([
        (10, "old boilerplate\nfresh line one.\n\nfresh line one.\nunique"),
        (11, "  old boilerplate  \nfresh line one.\nother novel"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_removed"])
           for r in incremental_line_dedup(batch, idx, "text",
                                           "doc_id").collect()}
    # doc 10: indexed line gone, first 'fresh line one.' kept, its repeat
    # removed, blank and unique survive
    assert got[10] == ("fresh line one.\n\nunique", 5, 2)
    # doc 11: indexed line matches after trim; its 'fresh line one.' is a
    # batch repeat of doc 10's first occurrence
    assert got[11] == ("other novel", 3, 2)

    # index maintenance: appending the survivors' keys makes a rerun of
    # the same batch remove everything non-blank
    clean_df = spark.createDataFrame(
        [(k, v[0]) for k, v in got.items()], "doc_id long, text string")
    idx2 = idx.unionByName(line_keys(clean_df, "text")) \
        .localCheckpoint(eager=True)
    again = {r["doc_id"]: r["clean_text"]
             for r in incremental_line_dedup(batch, idx2, "text",
                                             "doc_id").collect()}
    assert again[10] == "" and again[11] == ""


def test_pq_structure_and_recall(spark, sf_dir):
    """PQ on real embeddings: codebook shape (m × k codes, subdim-length
    centroids), every vector encoded to m in-range codes, and ADC top-k
    recalls a reasonable share of the exact L2 top-k (PQ is lossy by
    design — the assertion is a sanity floor, not a tuning claim)."""
    from pyspark.sql import functions as F

    from discoverx_spark.operators.similarity import (pq_encode, pq_topk,
                                                      pq_train)

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .limit(300))
    dim = len(emb.select("embedding").first()[0])
    m, k = 4, 8
    cb = pq_train(emb, m=m, k=k, n_iter=3).localCheckpoint(eager=True)
    rows = cb.collect()
    assert len(rows) == m * k
    assert all(len(r["centroid"]) == dim // m for r in rows)

    codes = pq_encode(emb, cb).localCheckpoint(eager=True)
    assert codes.count() == emb.count()
    bad = codes.filter(
        (F.size("codes") != m)
        | F.exists("codes", lambda c: (c < 0) | (c >= k))).count()
    assert bad == 0

    query = emb.select("embedding").first()[0]
    got = [r["id"] for r in pq_topk(codes, cb, [float(x) for x in query],
                                    k=10).collect()]
    # exact L2 top-10 for the same query
    q = F.array(*[F.lit(float(x)) for x in query])
    exact = [r["vec_id"] for r in
             (emb.select("vec_id",
                         F.aggregate(
                             F.zip_with(F.col("embedding").cast("array<double>"), q,
                                        lambda a, b: (a - b) * (a - b)),
                             F.lit(0.0), lambda acc, x: acc + x).alias("d"))
              .orderBy(F.asc("d"), F.asc("vec_id")).limit(10).collect())]
    overlap = len(set(got) & set(exact))
    assert overlap >= 3, (overlap, got, exact)


def test_ccnet_buckets_methods_agree(spark, sf_dir):
    """The quantile-threshold scale path and the ntile oracle path must
    produce identical per-language bucket SIZES (equal thirds), and the
    head set must hold the lowest perplexities."""
    from discoverx_spark.functions.perplexity import ccnet_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    nt = ccnet_buckets(docs, "doc_id", method="ntile").collect()
    qt = ccnet_buckets(docs, "doc_id", method="quantile").collect()

    def sizes(rows):
        out = {}
        for r in rows:
            out.setdefault((r["lang"], r["bucket"]), 0)
            out[(r["lang"], r["bucket"])] += 1
        return out

    s_nt, s_qt = sizes(nt), sizes(qt)
    langs = {r["lang"] for r in nt}
    for lang in langs:
        n = sum(v for (lg, _), v in s_nt.items() if lg == lang)
        # ntile thirds are exact by construction
        assert max(s_nt.get((lang, b), 0) for b in
                   ("head", "middle", "tail")) - \
            min(s_nt.get((lang, b), 0) for b in
                ("head", "middle", "tail")) <= 1
        # the quantile path may move only threshold TIES across the
        # boundary; sizes agree within the tie multiplicity
        for b in ("head", "middle", "tail"):
            assert abs(s_qt.get((lang, b), 0) - s_nt.get((lang, b), 0)) \
                <= max(3, n // 10), (lang, b)
    # ordering: every head perplexity <= every tail perplexity per lang
    by_lang = {}
    for r in nt:
        by_lang.setdefault(r["lang"], {}).setdefault(
            r["bucket"], []).append(r["perplexity"])
    for lang, bk in by_lang.items():
        if "head" in bk and "tail" in bk:
            assert max(bk["head"]) <= min(bk["tail"]), lang

    import pytest
    with pytest.raises(ValueError, match="method"):
        ccnet_buckets(docs, "doc_id", method="bogus")


def test_gopher_rules_edges(spark):
    """Gopher A1.1 edges: each rule individually able to kill a page;
    null/empty text deterministic false, never NULL."""
    from discoverx_spark.functions.text import gopher_rules

    good = "The quick brown fox jumps over that lazy dog and it has " \
           "plenty of fine words to be sure with " * 5
    df = spark.createDataFrame([
        (1, good),                                   # passes everything
        (2, "word " * 60),                           # no stopwords
        (3, "### " * 60),                            # symbols, no alpha
        (4, "\n".join(["- the item of and that be to have with x." ] * 20)),
        (5, None),
        (6, ""),
        (7, "the of and to be that have with"),      # only 8 words: short
    ], "doc_id long, text string")
    got = {r["id"]: r.asDict() for r in
           gopher_rules(df, "doc_id").collect()}
    assert got[1]["keep_gopher"] is True
    assert got[2]["keep_gopher"] is False  # stopword_count == 0
    assert got[2]["stopword_count"] == 0
    assert got[3]["keep_gopher"] is False
    assert got[3]["alpha_word_frac"] == 0.0
    assert got[4]["bullet_line_frac"] == 1.0 and not got[4]["keep_gopher"]
    assert got[5]["keep_gopher"] is False and got[5]["n_words"] == 0
    assert got[6]["keep_gopher"] is False
    assert got[7]["keep_gopher"] is False  # n_words < 50


def test_c4_clean_edges(spark):
    """C4 §2.2 edges: terminal punctuation, 5-word minimum, javascript
    line drop, lorem-ipsum / curly-brace page drops, 3-sentence floor."""
    from discoverx_spark.functions.text import c4_clean

    df = spark.createDataFrame([
        (1, "This is a proper sentence one.\nAnd a second good one here!\n"
            "Finally a third sentence ends properly?"),
        (2, "No terminal punctuation on this line\nshort one.\n"
            "Please enable javascript to continue browsing."),
        (3, "A fine sentence with lorem ipsum inside it stays not.\n"
            "Second proper sentence right here.\nThird sentence is here."),
        (4, "Code block follows { x } and more.\nSecond proper sentence.\n"
            "Third proper sentence here now."),
        (5, None),
        (6, "Only two sentences live here today.\nThe second one is this!"),
    ], "doc_id long, text string")
    got = {r["id"]: r.asDict() for r in c4_clean(df, "doc_id").collect()}
    assert got[1]["keep_c4"] and got[1]["n_kept_lines"] == 3
    assert got[1]["clean_text"].count("\n") == 2
    # doc 2: line 1 no punct, line 2 <5 words, line 3 javascript -> 0 kept
    assert got[2]["n_kept_lines"] == 0 and not got[2]["keep_c4"]
    assert not got[3]["keep_c4"]  # lorem ipsum page drop
    assert not got[4]["keep_c4"]  # curly-brace page drop
    assert got[5]["clean_text"] is None and not got[5]["keep_c4"]
    assert not got[6]["keep_c4"]  # only 2 sentences


def test_tool_call_stats_loop_detection(spark):
    """Runaway-loop gate: consecutive same-tool runs counted among tool
    turns only (assistant turns between calls don't break a loop); the
    gate drops loopers and tool-heavy conversations."""
    from datetime import datetime

    from discoverx_spark.operators.convagg import tool_call_stats

    ts = datetime(2026, 1, 1)
    rows = []
    # conv a: search ×3 (interleaved assistant turns), then fetch — run 3
    for i, (role, tool) in enumerate([
            ("user", None), ("tool", "search"), ("assistant", None),
            ("tool", "search"), ("assistant", None), ("tool", "search"),
            ("tool", "fetch"), ("assistant", None)]):
        rows.append(("a", i, role, "t", tool, ts))
    # conv b: no tool turns at all
    rows += [("b", 0, "user", "hi", None, ts),
             ("b", 1, "assistant", "yo", None, ts)]
    # conv c: 9 straight same-tool calls + 1 user turn -> loop AND 0.9 frac
    rows += [("c", 0, "user", "go", None, ts)]
    rows += [("c", i, "tool", "x", "exec", ts) for i in range(1, 10)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")

    got = {r["conv_id"]: r.asDict() for r in tool_call_stats(df).collect()}
    a = got["a"]
    assert (a["n_tool_calls"], a["n_distinct_tools"],
            a["max_tool_run"]) == (4, 2, 3)
    assert a["keep_tool_gate"]
    b = got["b"]
    assert (b["n_tool_calls"], b["n_distinct_tools"],
            b["max_tool_run"]) == (0, 0, 0)
    assert b["keep_tool_gate"]
    c = got["c"]
    assert c["max_tool_run"] == 9 and c["tool_frac"] == 0.9
    assert not c["keep_tool_gate"]


def test_bpe_train_batches_scans_and_stays_exact(spark):
    """Rank-batched training: on a Zipf-shaped corpus 256 merges must
    need ≤ 40 statistics scans (vs 256 for the classic loop) while
    returning the EXACT classic merge sequence — checked against
    batch_size=1, which is the one-argmax-per-scan algorithm."""
    from discoverx_spark.operators.bpe import bpe_train

    # 256 words, each two unique CJK chars repeated ("xyxy"), strictly
    # decreasing frequencies: first-layer pairs (x_i, y_i) count 2·f_i
    # all outrank every tail pair (count f_i ≤ f_0 < 2·f_255), are
    # pairwise disjoint, and have no count ties — the batchable shape
    # real Zipfian corpora approximate
    rows = []
    for i in range(256):
        x, y = chr(0x4E00 + 2 * i), chr(0x4E00 + 2 * i + 1)
        rows.append((i, " ".join([x + y + x + y] * (4000 - i))))
    df = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(8)

    stats = {}
    merges = bpe_train(df, "text", num_merges=256, batch_size=16,
                       stats=stats)
    assert len(merges) == 256
    assert stats["scans"] <= 40, stats
    # exactness vs the unbatched algorithm on a small prefix (running
    # batch_size=1 for all 256 would be the slow path this replaces)
    stats1 = {}
    merges1 = bpe_train(df.limit(40), "text", num_merges=24, batch_size=1,
                        stats=stats1)
    merges_b = bpe_train(df.limit(40), "text", num_merges=24, batch_size=8)
    assert merges_b == merges1
    assert stats1["scans"] == 24


def test_bpe_batch_exactness_on_interacting_pairs(spark):
    """Adversarial corpora where batching MUST degrade: ties, chained
    pairs, and created-pair promotion ("x a b"×100 + "p q"×90 — after
    merging (a,b), the CREATED pair (x,ab):100 outranks (p,q):90, so
    (p,q) must not ride in the same batch).  batch_size>1 must equal
    batch_size=1 everywhere."""
    from discoverx_spark.operators.bpe import bpe_train

    corpora = [
        # created-pair promotion
        [(1, " ".join(["xab"] * 100) + " " + " ".join(["pq"] * 90))],
        # chained overlaps ("abc": (a,b),(b,c) interact)
        [(1, " ".join(["abc"] * 50) + " " + " ".join(["bcd"] * 49))],
        # exact ties everywhere
        [(1, " ".join(["ab"] * 30) + " " + " ".join(["cd"] * 30))],
    ]
    for rows in corpora:
        df = spark.createDataFrame(rows, "doc_id long, text string")
        ref = bpe_train(df, "text", num_merges=8, batch_size=1)
        got = bpe_train(df, "text", num_merges=8, batch_size=6)
        assert got == ref, rows[0][1][:40]


def test_span_dedup_min_span_tokens(spark):
    """Maximal-span guard: isolated duplicated windows survive; only
    runs of consecutive duplicated windows covering >= min_span tokens
    are removed.  Edges: run exactly at threshold, run one short,
    adjacent runs separated by a small gap, min_span == window
    (degenerates to plain behavior), invalid min_span."""
    import pytest

    from discoverx_spark.operators.dedup import span_dedup

    # 12 shared tokens "c1..c12" => 9 consecutive dup 4-gram windows in
    # doc 2 (run m=9, span 12); doc 3 shares only 4 tokens (m=1, span 4)
    shared12 = " ".join(f"c{i}" for i in range(12))
    shared4 = " ".join(f"c{i}" for i in range(4))
    df = spark.createDataFrame([
        (1, shared12 + " tail1 tail2"),
        (2, "pre " + shared12 + " post"),
        (3, "aa bb " + shared4 + " cc dd"),
    ], "doc_id long, text string")

    # min_span=12: doc 2 loses exactly the 12 shared tokens; doc 3's
    # isolated window (span 4 < 12) survives intact
    got = {r["id"]: (r["clean_text"], r["n_removed"])
           for r in span_dedup(df, "text", "doc_id", window=4,
                               hash_mode="gram",
                               min_span_tokens=12).collect()}
    assert got[1][1] == 0
    assert got[2] == ("pre post", 12)
    assert got[3][1] == 0 and "c0" in got[3][0]

    # min_span=13: doc 2's 12-token run is one short — nothing removed
    got13 = {r["id"]: r["n_removed"]
             for r in span_dedup(df, "text", "doc_id", window=4,
                                 hash_mode="gram",
                                 min_span_tokens=13).collect()}
    assert got13 == {1: 0, 2: 0, 3: 0}

    # min_span == window degenerates to the plain (every-window) rule
    plain = {r["id"]: r["clean_text"]
             for r in span_dedup(df, "text", "doc_id", window=4,
                                 hash_mode="gram").collect()}
    degen = {r["id"]: r["clean_text"]
             for r in span_dedup(df, "text", "doc_id", window=4,
                                 hash_mode="gram",
                                 min_span_tokens=4).collect()}
    assert degen == plain

    with pytest.raises(ValueError, match="min_span_tokens"):
        span_dedup(df, "text", "doc_id", window=8, min_span_tokens=4)

    # overlapping qualifying runs (gap < window) must not crash the
    # map rebuild (duplicate covered positions are distinct-ed)
    s1 = " ".join(f"d{i}" for i in range(8))
    s2 = " ".join(f"e{i}" for i in range(8))
    df2 = spark.createDataFrame([
        (1, s1 + " " + s2),
        (2, s1 + " gap " + s2 + " x " + s1 + " y " + s2),
    ], "doc_id long, text string")
    out2 = {r["id"]: r["n_removed"]
            for r in span_dedup(df2, "text", "doc_id", window=4,
                                hash_mode="gram",
                                min_span_tokens=8).collect()}
    assert out2[1] == 0  # doc 1 is the first occurrence everywhere
    assert out2[2] >= 16


def test_span_dedup_rejects_narrow_hash_modes(spark):
    """span_dedup destroys data on key equality: a single 32/64-bit hash
    slice (md5 mode) collides at ~10^5 distinct grams — only the
    oracle-replayable 'gram' and dual-seed 'xxhash64' families are
    allowed (ADVICE r4)."""
    import pytest

    from discoverx_spark.operators.dedup import span_dedup

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="hash_mode"):
        span_dedup(df, "text", "doc_id", hash_mode="md5")


def test_bm25_batch_rejects_empty_corpus(spark):
    """The batch path must fail as loudly as the single-query path on an
    empty corpus — an empty result would read as 'no overlaps found' to a
    decontamination caller (ADVICE r4)."""
    import pytest

    from discoverx_spark.operators.retrieval import bm25_topk_batch

    empty = spark.createDataFrame([], "doc_id long, text string")
    qs = spark.createDataFrame([(1, "hello world")],
                               "query_id long, query string")
    with pytest.raises(ValueError, match="corpus is empty"):
        bm25_topk_batch(empty, "text", "doc_id", qs)


def test_conversation_context_windows_semantics(spark):
    from discoverx_spark.operators.convagg import conversation_context_windows

    turns = spark.createDataFrame(
        [("c1", 0, "user", "hi"), ("c1", 1, "assistant", None),
         ("c1", 2, "user", "more"), ("c1", 3, "assistant", "done"),
         ("c1", 4, "user", "bye"), ("c2", 0, "user", "solo")],
        "conv_id string, turn_idx int, role string, text string")
    out = {(r["conv_id"], r["turn_idx"]): r for r in
           conversation_context_windows(turns, window_turns=3).collect()}
    assert out[("c1", 0)]["context_text"] == "user: hi"
    # null text renders as empty, not dropped
    assert out[("c1", 1)]["context_text"] == "user: hi\nassistant: "
    assert out[("c1", 4)]["context_text"] == \
        "user: more\nassistant: done\nuser: bye"
    assert out[("c1", 4)]["n_context_turns"] == 3
    assert out[("c2", 0)]["context_text"] == "user: solo"
    import pytest as _pytest
    with _pytest.raises(ValueError, match="window_turns"):
        conversation_context_windows(turns, window_turns=0)

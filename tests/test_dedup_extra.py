"""LSH bucket-cap hygiene."""

import pyspark.sql.functions as F

from ddaugner_spark.operators import dedup


def test_lsh_bucket_cap(spark, docs):
    corpus = dedup.with_dup_corpus(docs)
    bands = dedup.lsh_bands(dedup.minhash_signatures(dedup.shingles(corpus)))
    uncapped = dedup.lsh_candidate_pairs(bands).count()
    capped = dedup.lsh_candidate_pairs(bands, max_bucket_size=2).count()
    # cap removes degenerate buckets, never adds pairs
    assert capped <= uncapped
    # exact-duplicate pairs live in 2-member buckets and must survive
    survivors = {
        (r["a"], r["b"]) for r in dedup.lsh_candidate_pairs(bands, max_bucket_size=2).collect()
    }
    exact_ids = [r["doc_id"] for r in docs.filter(F.col("doc_id") % 20 == 0).collect()]
    kept = sum((i, i + 1_000_000) in survivors for i in exact_ids)
    assert kept > 0


def test_jaccard_inverted_superset_of_lsh(spark, docs):
    """The exact inverted-index Jaccard pairs are ground truth: every
    MinHash+LSH near-dup pair (already exact-verified above the same
    threshold) must appear in them, and every exact pair's jaccard must
    clear the threshold."""
    corpus = dedup.with_dup_corpus(docs)
    exact = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.jaccard_pairs_inverted(corpus).collect()
    }
    lsh = {
        (r["a"], r["b"]) for r in dedup.minhash_near_duplicates(corpus).collect()
    }
    assert lsh <= set(exact), lsh - set(exact)
    assert exact, "exact pass found no near-dups on the dup corpus"
    assert all(j >= 0.5 for j in exact.values())


def test_jaccard_inverted_doc_freq_cap(spark, docs):
    """The stop-shingle cap only ever removes pairs (bounded fan-out),
    and identical docs stay at jaccard 1.0 without a cap in play."""
    corpus = dedup.with_dup_corpus(docs)
    uncapped = dedup.jaccard_pairs_inverted(corpus)
    capped = dedup.jaccard_pairs_inverted(corpus, max_doc_freq=3)
    assert capped.count() <= uncapped.count()
    ones = {
        (r["a"], r["b"])
        for r in uncapped.filter(F.col("jaccard") == 1.0).collect()
    }
    exact_ids = [r["doc_id"] for r in docs.filter(F.col("doc_id") % 20 == 0).collect()]
    assert any((i, i + 1_000_000) in ones for i in exact_ids)


def test_exact_substring_doc_freq_cap(spark):
    """A window hash is kept iff 2 ≤ (distinct non-null doc ids) ≤ cap:
    three docs share one 25-token run, and a null-id copy of it neither
    pairs nor counts towards the cap."""
    base = " ".join(f"w{j}" for j in range(25))
    df = spark.createDataFrame(
        [(None, base), (1, base), (2, base + " x"), (3, "q " + base), (None, "a b")],
        "doc_id long, text string",
    )
    want = [(1, 2, 6, 6, 25), (1, 3, 6, 6, 25), (2, 3, 6, 6, 25)]
    for cap, rows in ((2, []), (3, want), (1000, want)):
        got = dedup.exact_substring_pairs(df, max_doc_freq=cap).collect()
        assert sorted(tuple(r) for r in got) == rows, cap


# ---------------------------------------------------------------------------
# intra-doc repeated n-gram removal
# ---------------------------------------------------------------------------

import hashlib


def _md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def _rep(spark, rows, n=3):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {r.doc_id: r.asDict() for r in
            dedup.repeated_ngram_stats(df, n=n).collect()}


def test_repeated_ngram_basic(spark):
    got = _rep(spark, [(1, "a b c a b c d")])[1]
    # the second 'a b c' (pos 4) is the only repeat; its 3 tokens go
    assert (got["n_tokens"], got["n_repeated"], got["n_masked"]) == (7, 1, 3)
    assert got["clean_hash"] == _md5("a b c d")


def test_repeated_ngram_overlapping_runs(spark):
    got = _rep(spark, [(1, "a a a a a")])[1]
    # grams at pos 1..3 are all 'a a a'; pos 2,3 repeat -> mask {2,3,4,5}
    assert (got["n_repeated"], got["n_masked"]) == (2, 4)
    assert got["clean_hash"] == _md5("a")


def test_repeated_ngram_clean_doc_untouched(spark):
    got = _rep(spark, [(1, "w x y z")])[1]
    assert (got["n_repeated"], got["n_masked"]) == (0, 0)
    assert got["clean_hash"] == _md5("w x y z")


def test_repeated_ngram_short_and_empty_docs(spark):
    got = _rep(spark, [(1, "a b"), (2, ""), (3, None)])
    assert got[1]["n_tokens"] == 2 and got[1]["clean_hash"] == _md5("a b")
    # split('') is [''] — one empty token, reconstructs to ''
    for d in (2, 3):
        assert got[d]["n_tokens"] == 1
        assert got[d]["clean_hash"] == _md5("")


def test_repeated_ngram_first_occurrence_never_masked(spark):
    # every doc keeps position 1 by construction; heavy repetition
    # still leaves the first gram intact
    got = _rep(spark, [(1, "p q r p q r p q r p q r")])[1]
    assert got["clean_hash"] == _md5("p q r")
    assert got["n_masked"] == got["n_tokens"] - 3


class TestSemanticDedup:
    """SemDeDup (operators/embedding.py semantic_dedup): within-cluster
    lower-id-keeps near-dup removal over (vec_id, embedding array)."""

    def _vecs(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_exact_copy_dropped_original_kept(self, spark):
        base = [1.0, 0.0, 0.0, 0.0]
        rows = [
            (0, base),
            (100, base),                    # exact copy of 0 -> dropped
            (1, [0.0, 1.0, 0.0, 0.0]),      # orthogonal -> kept
        ]
        got = {
            r.vec_id: r.kept
            for r in __import__(
                "ddaugner_spark.operators.embedding", fromlist=["embedding"]
            ).semantic_dedup(
                self._vecs(spark, rows), n_cells=2, iters=1, tau=0.95, dim=4
            ).collect()
        }
        assert got == {0: True, 100: False, 1: True}

    def test_chain_keeps_only_minimum(self, spark):
        # three mutually-near vectors: only the lowest id survives
        rows = [
            (5, [1.0, 0.01, 0.0, 0.0]),
            (6, [1.0, 0.02, 0.0, 0.0]),
            (7, [1.0, 0.00, 0.0, 0.0]),
        ]
        from ddaugner_spark.operators.embedding import semantic_dedup

        got = {
            r.vec_id: r.kept
            for r in semantic_dedup(
                self._vecs(spark, rows), n_cells=1, iters=1, tau=0.99, dim=4
            ).collect()
        }
        assert got == {5: True, 6: False, 7: False}

    def test_cross_cell_pairs_never_compared(self, spark):
        # two identical vectors forced into different cells (2 cells,
        # init = two lowest ids which are the two opposite directions)
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [-1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),   # same cell as 0 -> dropped
            (3, [-1.0, 0.0, 0.0, 0.0]),  # same cell as 1 -> dropped
        ]
        from ddaugner_spark.operators.embedding import semantic_dedup

        out = semantic_dedup(
            self._vecs(spark, rows), n_cells=2, iters=1, tau=0.95, dim=4
        )
        got = {r.vec_id: (r.cell, r.kept) for r in out.collect()}
        assert got[0][1] and got[1][1] and not got[2][1] and not got[3][1]
        assert got[0][0] != got[1][0]  # the two directions separate

    def test_deterministic_under_repartition(self, spark):
        from ddaugner_spark.operators.embedding import semantic_dedup

        rows = [
            (i, [1.0 + 0.001 * (i % 3), float(i % 5), 1.0, 0.0])
            for i in range(40)
        ]
        a = semantic_dedup(self._vecs(spark, rows), n_cells=2, iters=2, tau=0.999, dim=4)
        b = semantic_dedup(
            self._vecs(spark, rows).repartition(7), n_cells=2, iters=2, tau=0.999, dim=4
        )
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


class TestContainmentPairs:
    def _corpus(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_excerpt_containment_asymmetric(self, spark):
        body = " ".join(f"w{i}" for i in range(100))
        excerpt = " ".join(f"w{i}" for i in range(20))  # strict prefix
        docs = self._corpus(spark, [(1, body), (2, excerpt)])
        got = {(r.src, r.dst): r.containment
               for r in dedup.containment_pairs(docs, threshold=0.9).collect()}
        # excerpt fully contained in body; body NOT contained in excerpt
        assert got == {(2, 1): 1.0}

    def test_exact_copies_both_directions(self, spark):
        t = " ".join(f"w{i}" for i in range(30))
        docs = self._corpus(spark, [(1, t), (2, t)])
        got = {(r.src, r.dst) for r in
               dedup.containment_pairs(docs, threshold=0.9).collect()}
        assert got == {(1, 2), (2, 1)}

    def test_df_cap_drops_stop_shingle_fanout(self, spark):
        # one shingle shared by every doc; df cap 2 removes it and no
        # pair survives (docs otherwise disjoint)
        rows = [(i, f"common a b u{i} v{i} w{i}") for i in range(5)]
        out = dedup.containment_pairs(
            self._corpus(spark, rows), threshold=0.5, max_doc_freq=2
        )
        assert out.count() == 0


class TestWinnowFingerprints:
    def _fps(self, spark, rows, **kw):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        return dedup.winnow_fingerprints(docs, **kw)

    def test_coverage_guarantee(self, spark):
        """Every window of w consecutive gram positions contains at
        least one selected position (the winnowing invariant)."""
        text = " ".join(f"w{(7 * i) % 23}" for i in range(60))
        sel = sorted(r.pos for r in self._fps(spark, [(1, text)], w=4).collect())
        n_grams = 60 - 3 + 1
        for s in range(0, n_grams - 4 + 1):
            assert any(s <= p <= s + 3 for p in sel), s
        # density ~ 2/(w+1): far fewer than all positions
        assert len(sel) < n_grams / 2

    def test_shared_run_shares_fingerprint(self, spark):
        """Two docs sharing a >= w+k-1-token run share >= 1 fingerprint
        hash (the detection floor)."""
        run = " ".join(f"s{i}" for i in range(10))  # 10 >= 4+3-1
        a = "a1 a2 a3 a4 " + run + " a5 a6 a7 a8"
        b = "b1 b2 " + run + " b3 b4 b5 b6 b7 b8 b9"
        out = self._fps(spark, [(1, a), (2, b)], w=4)
        fp1 = {r.fp for r in out.filter(F.col("doc_id") == 1).collect()}
        fp2 = {r.fp for r in out.filter(F.col("doc_id") == 2).collect()}
        assert fp1 & fp2

    def test_rightmost_min_on_ties(self, spark):
        """A repeated gram (hash tie inside one window) selects the
        RIGHTMOST occurrence — Schleimer's rule."""
        # 'x x x x x x' -> all 3-grams identical; 4-gram windows tie
        out = self._fps(spark, [(1, "x x x x x x")], w=4).collect()
        assert sorted(r.pos for r in out) == [3]  # last gram of the window

    def test_short_doc_no_fingerprints(self, spark):
        # fewer than w full windows of grams -> nothing selected
        assert self._fps(spark, [(1, "a b c d")], w=4).count() == 0


def test_minhash_estimate_error_bounds_and_exactness(spark):
    """Identical docs must estimate J=1 with zero error; every estimate
    is a multiple of 1/P; abs_err == |j_est - j_exact| recomputed."""
    from ddaugner_spark.operators.dedup import minhash_estimate_error

    rows = [
        (0, "a b c d e f g h i j"),
        (1, "a b c d e f g h i j"),   # exact dup of 0
        (2, "a b c d e f g h i k"),
    ]
    c = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["a"], r["b"]): r for r in minhash_estimate_error(c).collect()}
    dup = out[(0, 1)]
    assert dup["n_match"] == 8 and dup["j_est"] == 1.0
    assert dup["j_exact"] == 1.0 and dup["abs_err"] == 0.0
    for r in out.values():
        assert r["n_match"] % 1 == 0 and 0 <= r["n_match"] <= 8
        assert abs(r["abs_err"] - abs(r["j_est"] - r["j_exact"])) < 2e-6


def test_cdc_chunk_stats_replay_and_resync(spark):
    """Python hashlib replay of the token-anchor CDC, plus the CDC
    selling point: duplicated docs share ALL chunk hashes (dup_ratio 1
    on both copies), and a prefix insertion leaves the post-anchor
    chunks shared (fixed-stride chunking would shift every block)."""
    import hashlib

    base = " ".join(f"tok{i}" for i in range(60))
    shifted = "INSERTED " + base
    rows = [(1, base), (2, base), (3, shifted), (4, "solo only words")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_chunks"], r["dup_chunks"], r["dup_ratio"])
        for r in dedup.cdc_chunk_stats(docs).collect()
    }

    def chunks(text):
        out, cur = [], []
        for tok in text.split(" "):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:4], 16)
            if h % 8 == 0:
                if cur:
                    out.append(" ".join(cur))
                cur = [tok]
            else:
                cur.append(tok)
        if cur:
            out.append(" ".join(cur))
        return [hashlib.md5(c.encode()).hexdigest() for c in out]

    per_doc = {d: chunks(t) for d, t in rows}
    from collections import Counter

    docs_per_hash = Counter()
    for d, hs in per_doc.items():
        for h in set(hs):
            docs_per_hash[h] += 1
    for d, hs in per_doc.items():
        dup = sum(1 for h in hs if docs_per_hash[h] > 1)
        assert got[d] == (len(hs), dup, round(dup / len(hs), 6)), d
    # exact duplicates share everything
    assert got[1][2] == 1.0 and got[2][2] == 1.0
    # the shifted doc re-synchronizes: most of its chunks are shared
    assert got[3][1] >= got[3][0] - 2

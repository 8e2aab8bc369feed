"""Suffix array by prefix doubling (operators/suffix.py): hand
fixtures where the answer is checkable by eye (banana; cross-doc
equal suffixes sharing a dense rank), a differential against Python's
direct sorted-suffix construction on a deterministic low-vocab corpus
(forcing several doubling rounds), and the scale-safe global dense
rank helper against the plain window form.
"""

import random

from pyspark.sql import functions as F

from ddaugner_spark.operators.suffix import (
    global_dense_rank,
    lcp_array,
    suffix_array,
)


def _toks(spark, docs):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    return df.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).withColumn("pos", F.col("pos").cast("long"))


def _sa(df):
    return [
        (r["doc_id"], r["pos"], r["rank"])
        for r in df.orderBy("sa_idx").collect()
    ]


def _py_sa(docs):
    """Direct construction: sort (suffix-token-list, doc_id, pos)."""
    suf = []
    for d, text in enumerate(docs):
        t = text.split(" ")
        for p in range(len(t)):
            suf.append((t[p:], d, p))
    suf.sort()
    out, rank, prev = [], 0, None
    for s, d, p in suf:
        if s != prev:
            rank += 1
            prev = s
        out.append((d, p, rank))
    return out


def test_banana_fixture(spark, tmp_path):
    got = _sa(suffix_array(_toks(spark, ["b a n a n a"]),
                           stage_dir=str(tmp_path / "sa")))
    # suffix order: a < ana < anana < banana < na < nana
    assert got == [(0, 5, 1), (0, 3, 2), (0, 1, 3), (0, 0, 4),
                   (0, 4, 5), (0, 2, 6)]


def test_equal_suffixes_share_dense_rank(spark, tmp_path):
    got = _sa(suffix_array(_toks(spark, ["x y", "x y"]),
                           stage_dir=str(tmp_path / "sa")))
    # [x,y] from both docs shares rank 1 (doc_id breaks the sa_idx tie),
    # [y] from both shares rank 2
    assert got == [(0, 0, 1), (1, 0, 1), (0, 1, 2), (1, 1, 2)]


def test_differential_vs_python_sort(spark, tmp_path):
    """Low-vocab docs long enough to need 5+ doubling rounds; the
    doubling loop must converge to the direct sorted-suffix order."""
    rng = random.Random(42)
    docs = [
        " ".join(rng.choice(["a", "b"]) for _ in range(rng.randint(20, 40)))
        for _ in range(12)
    ]
    got = _sa(suffix_array(_toks(spark, docs), stage_dir=str(tmp_path / "sa")))
    assert got == _py_sa(docs)


def test_global_dense_rank_matches_window(spark):
    rng = random.Random(7)
    rows = [(rng.randint(0, 9), rng.randint(0, 9)) for _ in range(500)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r["a"], r["b"]): r["rank"]
        for r in global_dense_rank(df, ["a", "b"], n_parts=7).collect()
    }
    keys = sorted(set(rows))
    want = {k: i + 1 for i, k in enumerate(keys)}
    assert got == want


def test_global_dense_rank_boundary_freeze(spark, tmp_path):
    """Regression: a DataFrame range exchange re-samples its boundaries
    per execution, so deriving the offsets and the final join from two
    executions of the same plan shifted whole partitions' ranks (caught
    on the sf0.001 corpus).  Pipeline-shaped input (parquet read +
    explode) must rank identically to the sorted-distinct reference."""
    docs = [(i, " ".join(f"w{(i * 7 + j * 13) % 41:02d}" for j in range(50)))
            for i in range(200)]
    src = str(tmp_path / "docs")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(src)
    toks = spark.read.parquet(src).select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    rows = global_dense_rank(toks, ["tok"], n_parts=8).collect()
    got = {}
    for r in rows:
        assert got.setdefault(r["tok"], r["rank"]) == r["rank"], "split key"
    want = {k: i + 1 for i, k in enumerate(sorted(got))}
    assert got == want


def _py_lcp(docs):
    """Direct LCP: sort suffixes, compare each to its predecessor."""
    suf = []
    for d, text in enumerate(docs):
        t = text.split(" ")
        for p in range(len(t)):
            suf.append((t[p:], d, p))
    suf.sort()
    out = []
    for i, (s, d, p) in enumerate(suf):
        if i == 0:
            out.append((d, p, 0))
            continue
        prev = suf[i - 1][0]
        l = 0
        while l < min(len(s), len(prev)) and s[l] == prev[l]:
            l += 1
        out.append((d, p, l))
    return out


def _lcp(df):
    return [
        (r["doc_id"], r["pos"], r["lcp"])
        for r in df.orderBy("sa_idx").collect()
    ]


def test_lcp_banana(spark, tmp_path):
    got = _lcp(lcp_array(_toks(spark, ["b a n a n a"]),
                         stage_dir=str(tmp_path / "lcp")))
    # SA: a, ana, anana, banana, na, nana -> LCP 0,1,3,0,0,2
    assert got == [(0, 5, 0), (0, 3, 1), (0, 1, 3), (0, 0, 0),
                   (0, 4, 0), (0, 2, 2)]


def test_lcp_identical_suffixes_across_docs(spark, tmp_path):
    got = _lcp(lcp_array(_toks(spark, ["x y", "x y"]),
                         stage_dir=str(tmp_path / "lcp")))
    # SA: (0,0)[x y], (1,0)[x y], (0,1)[y], (1,1)[y] -> LCP 0,2,0,1
    assert got == [(0, 0, 0), (1, 0, 2), (0, 1, 0), (1, 1, 1)]


def test_lcp_differential_vs_python(spark, tmp_path):
    rng = random.Random(42)
    docs = [
        " ".join(rng.choice(["a", "b"]) for _ in range(rng.randint(20, 40)))
        for _ in range(12)
    ]
    got = _lcp(lcp_array(_toks(spark, docs), stage_dir=str(tmp_path / "lcp")))
    assert got == _py_lcp(docs)


def test_lcp_long_document_cuts_the_walk(spark, tmp_path):
    """A periodic 300-token document (3x the sf0.1 corpus's longest)
    needs six doubling rounds, so the LCP walk runs ten passes and is
    cut to parquet along the way; the result still equals the direct
    construction."""
    from ddaugner_spark.operators.suffix import CKPT_EVERY

    docs = [" ".join("abc"[i % 3] if i % 50 else "z" for i in range(300)),
            "a b c a b c"]
    stage = tmp_path / "lcp"
    got = _lcp(lcp_array(_toks(spark, docs), stage_dir=str(stage)))
    assert got == _py_lcp(docs)
    assert CKPT_EVERY < 10 and (stage / "walk_1").is_dir()


def test_repeat_coverage_fixtures(spark, tmp_path):
    from ddaugner_spark.operators.suffix import repeat_coverage

    docs = [
        "a b c d e f",          # exact dup of doc 1 -> fully covered
        "a b c d e f",
        "x y z q x y z w",      # internal repeat "x y z" at 0 and 4
        "p0 p1 p2 p3 p4 p5",    # all-distinct tokens -> zero coverage
    ]
    got = {
        r["doc_id"]: (r["n_tokens"], r["covered"], r["ratio"])
        for r in repeat_coverage(
            _toks(spark, docs), min_len=3, stage_dir=str(tmp_path / "cov")
        ).collect()
    }
    assert got[0] == (6, 6, 1.0) and got[1] == (6, 6, 1.0)
    assert got[2] == (8, 6, 0.75)
    assert got[3] == (6, 0, 0.0)


def test_repeat_coverage_differential(spark, tmp_path):
    """Brute-force ground truth: per suffix, the max shared prefix with
    ANY other suffix; interval [q, q+m) when m >= L; union per doc."""
    from ddaugner_spark.operators.suffix import repeat_coverage

    rng = random.Random(9)
    docs = [
        " ".join(rng.choice(["a", "b", "c"]) for _ in range(rng.randint(10, 25)))
        for _ in range(8)
    ]
    L = 4
    suf = []
    for d, text in enumerate(docs):
        t = text.split(" ")
        for p in range(len(t)):
            suf.append((d, p, t[p:]))
    want = {}
    for d, text in enumerate(docs):
        n = len(text.split(" "))
        cov = set()
        for dd, p, s in suf:
            if dd != d:
                continue
            m = 0
            for d2, p2, s2 in suf:
                if (d2, p2) == (dd, p):
                    continue
                l = 0
                while l < min(len(s), len(s2)) and s[l] == s2[l]:
                    l += 1
                m = max(m, l)
            if m >= L:
                cov.update(range(p, p + m))
        want[d] = (n, len(cov), round(len(cov) / n, 6))
    got = {
        r["doc_id"]: (r["n_tokens"], r["covered"], r["ratio"])
        for r in repeat_coverage(
            _toks(spark, docs), min_len=L, stage_dir=str(tmp_path / "cov")
        ).collect()
    }
    assert got == want


def test_distinct_substring_count(spark, tmp_path):
    from ddaugner_spark.operators.suffix import distinct_substring_count

    row = distinct_substring_count(
        _toks(spark, ["b a n a n a"]), stage_dir=str(tmp_path / "d1")
    ).collect()[0]
    # banana: 21 suffix tokens, lcp sum 6, 15 distinct substrings
    assert (row["n_suffix_tokens"], row["lcp_sum"], row["n_distinct"]) == (21, 6, 15)

    row = distinct_substring_count(
        _toks(spark, ["x y", "x y"]), stage_dir=str(tmp_path / "d2")
    ).collect()[0]
    # {x, y, x y} across the two identical docs
    assert (row["n_suffix_tokens"], row["lcp_sum"], row["n_distinct"]) == (6, 3, 3)

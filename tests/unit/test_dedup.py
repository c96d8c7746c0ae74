"""L1 unit tests for the deduplication suite (operators/dedup.py)."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from openie_spark.functions.lineage import cut_lineage

from openie_spark.operators.dedup import (
    minhash_dup_pairs,
    ngram_jaccard_pairs,
    simhash_dup_pairs,
)

BASE = "the quick brown fox jumps over the lazy dog near the old river bank today"
NEAR = BASE.replace("lazy", "sleepy")  # one token changed → high jaccard
OTHER = "completely different content about spark shuffle partitions and arrow batches"


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),        # exact dup of 1
        (3, NEAR),        # near dup of 1/2
        (4, OTHER),
        (5, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.lower().split()
    if len(toks) <= n:
        return {" ".join(toks[:n])}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _jacc(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def test_minhash_pairs_match_bruteforce(spark, corpus):
    """Every emitted pair carries the exact shingle-Jaccard; the exact dup
    pair (identical shingle sets → identical signatures → same buckets)
    is guaranteed to be found."""
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_dup_pairs(corpus, "doc_id", "text", 0.6).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    texts = {1: BASE, 2: BASE, 3: NEAR, 4: OTHER, 5: "tiny"}
    for (a, b), j in got.items():
        assert j == pytest.approx(_jacc(texts[a], texts[b]))
        assert j >= 0.6
    assert (1, 4) not in got and (2, 4) not in got


def test_simhash_identical_docs_hamming_zero(spark, corpus):
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_dup_pairs(corpus, "doc_id", "text").collect()
    }
    assert got[(1, 2)] == 0
    # unrelated docs must not appear within Hamming<=3
    assert (1, 4) not in got


def test_simhash_bucket_fanin_bounded(spark):
    """Scale-posture gate for the 32-bit chunk keyspace: 2000 DISTINCT
    random docs must produce (near-)zero candidate pairs — expected
    collisions C(2000,2)/2^32 ≈ 0.002 per chunk.  Under the old 16-bit
    chunks the same corpus drew ~C(2000,2)/2^16 ≈ 30 pairs PER CHUNK
    (≈120 total), the quadratic growth the widening exists to stop.
    max_hamming=128 disables the verify filter so the count IS the raw
    candidate-pair fan-in; a planted duplicate must still surface."""
    import random

    rng = random.Random(42)
    rows = [
        (i, " ".join(f"t{rng.randrange(10**9)}" for _ in range(10)))
        for i in range(2000)
    ]
    rows.append((5000, rows[0][1]))  # planted exact duplicate of doc 0
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    cand = simhash_dup_pairs(df, "doc_id", "text", max_hamming=128).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in cand}
    assert pairs.get((0, 5000)) == 0  # duplicate found, hamming 0
    assert len(pairs) <= 5, f"candidate fan-in too high: {len(pairs)}"


def test_ngram_jaccard_exact(spark, corpus):
    """max_df_ratio=1.0 disables pruning → pure full-set Jaccard."""
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            corpus, "doc_id", "text", 0.5, max_df_ratio=1.0
        ).collect()
    }

    def tokset(t):
        return {x for x in t.lower().split() if x}

    texts = {1: BASE, 2: BASE, 3: NEAR, 4: OTHER, 5: "tiny"}
    for (a, b), (n_common, j) in got.items():
        sa, sb = tokset(texts[a]), tokset(texts[b])
        assert n_common == len(sa & sb)
        assert j == pytest.approx(len(sa & sb) / len(sa | sb))
    assert (1, 2) in got and got[(1, 2)][1] == 1.0
    assert (1, 3) in got  # one-token edit keeps token-set jaccard >= 0.5


def test_ngram_jaccard_high_df_pruning(spark):
    """A token planted in EVERY doc must be pruned before the postings
    self-join: without pruning it alone contributes n*(n-1)/2 candidate
    pairs; with pruning the candidate count is bounded by the rare-token
    postings.  Also checks the pruned-set Jaccard values are exact."""
    n = 40
    rows = [(i, f"ubiq token_{i} token_{i + 1}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    pruned = ngram_jaccard_pairs(df, "doc_id", "text", 0.3, max_df_ratio=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pruned.collect()}
    # after dropping 'ubiq', doc i = {token_i, token_i+1}: only adjacent
    # docs share one of two tokens → jaccard 1/3; nothing else pairs up
    assert got == {
        (i, i + 1): pytest.approx(1 / 3) for i in range(n - 1)
    }

    # without pruning every pair shares 'ubiq' → the join fans out to all
    # n*(n-1)/2 pairs (the quadratic blow-up the pruning exists to stop)
    unpruned = ngram_jaccard_pairs(df, "doc_id", "text", 0.0, max_df_ratio=1.0)
    assert unpruned.count() == n * (n - 1) // 2


def test_ngram_jaccard_abs_df_cap(spark):
    """max_df_abs must bind even when the ratio cap would not: a token in
    30% of docs passes max_df_ratio=0.5 but exceeds max_df_abs=5 and is
    pruned, dissolving every pair it alone created."""
    n = 30
    # docs 0..8 share 'semi' (df=9 > 5); each doc also has 2 unique tokens
    rows = [
        (i, ("semi " if i < 9 else "") + f"u{i}a u{i}b") for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    with_cap = ngram_jaccard_pairs(
        df, "doc_id", "text", 0.2, max_df_ratio=0.5, max_df_abs=5
    )
    assert with_cap.count() == 0  # 'semi' pruned → no shared tokens at all
    without_cap = ngram_jaccard_pairs(
        df, "doc_id", "text", 0.2, max_df_ratio=0.5, max_df_abs=None
    )
    assert without_cap.count() == 9 * 8 // 2  # J = 1/5 >= 0.2 via 'semi'


def test_ngram_prefix_filter_lossless(spark):
    """Prefix filtering must change the CANDIDATE set only, never the
    result: same corpus, prefix on vs off, identical pairs + values."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(0, 60, 2):
        toks = rng.sample(vocab, rng.randint(6, 12))
        rows.append((i, " ".join(toks)))
        # mutated sibling: drop one token, add one — guarantees a spread of
        # high-jaccard pairs alongside the random low ones
        sib = toks[1:] + [rng.choice(vocab)]
        rows.append((i + 1, " ".join(sib)))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    for t in (0.3, 0.5, 0.7):
        on = {
            (r["id_a"], r["id_b"]): (r["n_common"], r["jaccard"])
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", t, max_df_ratio=1.0, prefix_filter=True
            ).collect()
        }
        off = {
            (r["id_a"], r["id_b"]): (r["n_common"], r["jaccard"])
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", t, max_df_ratio=1.0, prefix_filter=False
            ).collect()
        }
        assert on == off and len(on) > 0


def test_ngram_prefix_bounds_candidates(spark):
    """A medium-DF token below both DF caps but OUTSIDE every rarest-first
    prefix must generate zero candidate pairs — the prefix filter's whole
    point: the join never sees the hot token group."""
    from openie_spark.operators.dedup import _ngram_prefix_postings

    n = 40
    # every doc: one shared 'com' (df=40, last in rarest-first order) and
    # two unique tokens; t=0.5 over 3 tokens → prefix len = 3-2+1 = 2 →
    # prefix = the two unique tokens, 'com' excluded everywhere
    rows = [(i, f"com u{i}a u{i}b") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    )
    prefix = _ngram_prefix_postings(toks, 0.5)
    assert prefix.where(F.col("tok") == "com").count() == 0
    assert prefix.count() == 2 * n
    # and the full operator agrees: J = 1/5 < 0.5 for every pair anyway
    assert (
        ngram_jaccard_pairs(df, "doc_id", "text", 0.5, max_df_ratio=1.0).count()
        == 0
    )


def _final_plan(df) -> str:
    """The executed physical plan; of an adaptive plan, the final one."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_minhash_scale_shape(spark, corpus, monkeypatch):
    """The LSH plan must be a band-key equi-join, not a cross product.  Its
    band keys come from ONE mapInArrow fence (no pandas UDF) that runs once
    per document under an eager cut, so the pairs plan holds no Python
    node at all."""
    from openie_spark.operators import dedup

    cuts = []

    def spy(df, eager=False):
        out = cut_lineage(df, eager=eager)
        cuts.append((eager, _final_plan(df)))
        return out

    monkeypatch.setattr(dedup, "cut_lineage", spy)
    pairs = minhash_dup_pairs(corpus, "doc_id", "text")
    pairs.collect()
    plan = _final_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInArrow" not in plan and "ArrowEvalPython" not in plan
    [(eager, fence_plan)] = cuts
    assert eager is True
    assert fence_plan.count("MapInArrow") == 1
    assert "ArrowEvalPython" not in fence_plan


_WS_TEXT = st.one_of(
    st.none(),
    st.text(alphabet="abC \t\n", max_size=24),
    st.lists(st.sampled_from(["the", "Fox", "a", "b"]), max_size=8).map(" ".join),
)


@settings(max_examples=20, deadline=None)
@given(st.lists(_WS_TEXT, min_size=1, max_size=16))
@example([None, "", " ", "\t\n", "a", "a b", " a  b ", "a b c", "a b c ", "x y z w v"])
def test_word_shingles_col_matches_twin(spark, texts):
    """word_shingles_col is, as a set, the dedup twin's shingling on ASCII
    text: leading/trailing/multiple whitespace keeps its empty tokens, a
    text under 3 tokens is one whole-text gram, NULL reads as ''."""
    from openie_spark.fixtures.gen_dedup_twin import _word_shingles
    from openie_spark.operators.dedup import word_shingles_col

    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    got = {r.i: r.sh for r in df.select("i", word_shingles_col("text").alias("sh")).collect()}
    for i, t in enumerate(texts):
        assert len(got[i]) == len(set(got[i]))
        assert set(got[i]) == _word_shingles(t or ""), t


def test_near_dup_groups_transitive_closure(spark):
    """A~B and B~C above threshold with A~C below it: pairwise emission
    leaves {A,C} separate; the cluster operator must close the chain into
    one group with keeper = min id."""
    from openie_spark.operators.dedup import near_dup_groups

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa")
    # middle-token edits each touch 3 word-3-gram shingles: A~B and B~C
    # stay at 11/17 ≈ 0.65 ≥ 0.5 while A~C drops to 8/20 = 0.40 < 0.5
    a = base.replace("echo", "zulu")
    c = base.replace("lima", "quebec")
    df = spark.createDataFrame(
        [(1, a), (2, base), (3, c), (4, "totally unrelated text here")],
        "doc_id bigint, text string",
    )
    pair_ids = {
        (r["id_a"], r["id_b"])
        for r in minhash_dup_pairs(df, "doc_id", "text", 0.5).collect()
    }
    assert (1, 2) in pair_ids and (2, 3) in pair_ids
    assert (1, 3) not in pair_ids  # the chain is NOT closed pairwise

    groups = {
        r["doc_id"]: r["keeper_id"]
        for r in near_dup_groups(df, "doc_id", "text", 0.5).collect()
    }
    assert groups == {1: 1, 2: 1, 3: 1}  # closed; keeper = min id; 4 absent


# ---------------------------------------------------------------------------
# chunk-level exact dedup (chunk_dedup_stats)
# ---------------------------------------------------------------------------


def _chunk_ref(rows, w):
    """Pure-Python twin: chunk on whitespace-lower tokens, W-word windows,
    keeper = smallest (doc_id, chunk_idx) per chunk text."""
    chunks = []  # (doc_id, idx, n_tokens, text)
    for did, text in rows:
        toks = [t for t in text.lower().split() if t]
        for i in range(max(-(-len(toks) // w), 1) if toks else 0):
            win = toks[i * w : i * w + w]
            chunks.append((did, i, len(win), " ".join(win)))
    first = {}
    for did, i, n, ct in sorted(chunks):
        first.setdefault(ct, (did, i))
    out = {did: [0, 0, 0] for did, _ in rows}
    for did, i, n, ct in chunks:
        out[did][0] += 1
        if first[ct] == (did, i):
            out[did][1] += 1
            out[did][2] += n
    return {d: tuple(v) for d, v in out.items()}


def test_chunk_dedup_matches_reference(spark):
    from openie_spark.operators.dedup import chunk_dedup_stats

    rows = [
        (1, "a b c d e f g h i j"),          # 2 chunks of 4 + tail of 2 (w=4)
        (2, "a b c d x y z w"),               # first chunk dups doc 1's
        (3, "a b c d e f g h a b c d"),       # dups doc 1 chunk 0 twice over
        (4, ""),                               # chunkless → zeros
        (5, "q r"),                            # single short chunk
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["kept_tokens"])
        for r in chunk_dedup_stats(df, chunk_tokens=4).collect()
    }
    assert got == _chunk_ref(rows, 4)
    assert got[4] == (0, 0, 0)
    # doc 2's first chunk is a duplicate of doc 1's chunk 0 → dropped
    assert got[2][1] < got[2][0]


def test_chunk_dedup_first_occurrence_wins(spark):
    from openie_spark.operators.dedup import chunk_dedup_stats

    rows = [(10, "a b c d"), (11, "a b c d"), (12, "a b c d")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"]) for r in chunk_dedup_stats(df, chunk_tokens=4).collect()
    }
    assert got == {10: (1, 1), 11: (1, 0), 12: (1, 0)}

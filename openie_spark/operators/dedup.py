"""Deduplication suite for large-scale training-data pipelines.

All variants are shuffle-shaped for the 100 TB posture: no pairwise cross
products — every "pairs" operator goes through a blocking key (hash bucket,
LSH band, simhash chunk) and joins within buckets only.

  - exact:        content-hash groupBy, spelled in the ``exact_dedup``
                  query (plans/registry.py)
  - minhash-LSH:  word-shingle MinHash → banded bucket join → exact-Jaccard
                  verify (same frozen scheme as entity linking)
  - simhash:      64-bit simhash; Hamming-≤k candidate pairs via the
                  pigeonhole chunk trick (k+1 chunks, equal-chunk join)
  - n-gram Jaccard: exact token-set similarity via explode + equi-join on
                  tokens (linear in postings, not quadratic in docs)
  - embedding cosine near-dup: see similarity.py (shares the ANN kernels)
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from openie_spark.functions.lineage import cut_lineage
from openie_spark.operators.linking import band_key_rows


CHUNK_DEDUP_TOKENS = 8  # one home: the registry oracle interpolates this


def chunk_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = CHUNK_DEDUP_TOKENS,
) -> DataFrame:
    """Sub-document exact dedup at fixed-window granularity — the
    chunk-level approximation of exact-substring training-data dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): repeated boilerplate inside otherwise-distinct documents is
    what whole-document hashing (the exact_dedup query) cannot see.

    Chunking is delegated to text_analysis.chunk_documents with overlap=0
    (the chunking one-home — same tokenization rule, same window math as
    the doc_chunks query), each chunk is md5-hashed, and the corpus-wide
    FIRST occurrence (smallest (doc_id, chunk_idx)) is the keeper.  Emits
    one row per input document: (doc_id, n_chunks, n_kept, kept_tokens) —
    chunkless (empty) docs appear with zeros.

    Plan: one sort-window over chunk_md5 marks keepers (a full window,
    not WindowGroupLimit — dropped chunks are counted too; the sort
    spills, so a pathological hot chunk cannot OOM an executor), then one
    groupBy(doc_id) roll-up + a left join back to the doc universe.  Two
    shuffles + one join at any corpus size; no Python anywhere."""
    from pyspark.sql.window import Window

    from openie_spark.operators.text_analysis import chunk_documents

    ch = chunk_documents(
        df, id_col, text_col, chunk_tokens=chunk_tokens, overlap=0
    ).select(
        F.col(id_col).alias("_did"),
        "chunk_idx",
        "n_tokens",
        F.md5("chunk_text").alias("_h"),
    )
    w = Window.partitionBy("_h").orderBy("_did", "chunk_idx")
    ranked = ch.withColumn("_kept", (F.row_number().over(w) == 1).cast("int"))
    per_doc = ranked.groupBy("_did").agg(
        F.count("*").alias("n_chunks"),
        F.sum("_kept").alias("n_kept"),
        F.sum(F.col("_kept") * F.col("n_tokens")).alias("kept_tokens"),
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, F.col(id_col) == F.col("_did"), "left")
        .select(
            id_col,
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
        )
    )


def word_shingles_col(text_col: str, n: int = 3):
    """Word n-gram shingles, JVM-side: split once, then gram i joins the
    i-th element of n shifted slices (zip_with) → distinct.  A NULL text
    reads as '' (one empty gram); a text shorter than n tokens is one
    whole-document gram (zip_with pads the short slices with NULL, which
    concat_ws skips)."""
    toks = F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    m = F.greatest(F.size(toks) - n + 1, F.lit(1))
    grams = F.slice(toks, 1, m)
    for k in range(1, n):
        grams = F.zip_with(
            grams, F.slice(toks, k + 1, m), lambda g, t: F.concat_ws(" ", g, t)
        )
    return F.array_distinct(grams)


def minhash_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: shingle → sign → band → bucket join
    → exact-Jaccard verify.  Output (id_a, id_b, jaccard), id_a < id_b."""
    base = df.select(
        F.col(id_col).alias("id"), word_shingles_col(text_col).alias("sh")
    )
    # The band-key fence is cut EAGERLY right after it, so it runs once
    # per document (a lazy cut left one copy in each side of the self-join
    # below).  Only (id, band_key) rides the 16x-replicated band join:
    # carrying the shingle arrays would multiply shuffle bytes by their
    # payload, and candidate pairs are orders of magnitude fewer, so
    # shingles are re-joined only for the verify step.
    exp = cut_lineage(
        band_key_rows(base.select("sh", "id")).select("id", "band_key"), eager=True
    )
    a = exp.select(F.col("id").alias("id_a"), "band_key")
    b = exp.select(F.col("id").alias("id_b"), "band_key")
    pairs = (
        a.join(b, "band_key")
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = base.select("id", "sh")
    return (
        pairs.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 128
HAMMING_K = 3  # candidate pairs within Hamming distance <= 3
N_CHUNKS = HAMMING_K + 1  # pigeonhole: some chunk must match exactly
CHUNK_BITS = SIMHASH_BITS // N_CHUNKS  # 32-bit blocking keys

# Why 128-bit (scale posture): the blocking key is one chunk, so bucket
# population for NON-duplicate text is ~N / 2^CHUNK_BITS per (chunk_idx,
# chunk_val) bucket and candidate pairs grow with N^2 / 2^CHUNK_BITS.  At
# 64 bits the chunks were 16-bit → ~15k docs/bucket at 10^9 docs (the
# round-2 scale-killer finding); at 128 bits the chunks are 32-bit →
# bucket population stays O(1) up to ~10^9..10^10 docs with the SAME 4x
# replication factor.  The Hamming budget (<= 3) now spans 128 bits —
# strictly finer near-dup granularity, standard for content-level SimHash.


def _simhash(tokens: list[str]) -> tuple[int, int]:
    """Scalar oracle-reference SimHash (per-row Python) → (hi, lo) signed
    int64 halves of the 128-bit signature (hi = bits 64..127).  NOT the
    hot path — kept as the spec the vectorized batch kernel is asserted
    bit-identical to (tests/unit/test_simhash_batch.py), same discipline
    as minhash.py."""
    if not tokens:
        return (0, 0)
    acc = [0] * SIMHASH_BITS
    for t in set(tokens):
        h = int.from_bytes(
            hashlib.blake2b(t.encode(), digest_size=SIMHASH_BITS // 8).digest(),
            "big",
        )
        for i in range(SIMHASH_BITS):
            acc[i] += 1 if (h >> i) & 1 else -1
    v = 0
    for i in range(SIMHASH_BITS):
        if acc[i] > 0:
            v |= 1 << i
    lo = (v & ((1 << 64) - 1)) - (1 << 63)  # signed int64
    hi = (v >> 64) - (1 << 63)
    return (hi, lo)


_N_WORDS = SIMHASH_BITS // 64  # 2 x int64 halves (Spark has no int128)
_BIT_WEIGHTS = np.uint64(1) << np.arange(64, dtype=np.uint64)


def _simhash_batch(
    texts: list[str | None], block_tokens: int = 1 << 19
) -> np.ndarray:
    """(n, 2) int64 SimHash signatures [hi, lo], numpy-vectorized across an
    Arrow batch; bit-identical to ``_simhash`` applied per row (empty docs
    → (0, 0), matching the scalar sentinel).

    Kernel shape (the part that matters at 10^9 docs): each UNIQUE token is
    blake2b-hashed and bit-unpacked once (vocabulary-sized table); postings
    are vocab indices; the per-doc one-bit counts come from a segment sum
    computed in uint64 *byte lanes* — the 128 uint8 bit columns are viewed
    as 16 uint64 words, ``np.add.reduceat`` runs over native-dtype columns
    (measured ~20x faster than reducing uint8 columns with an upcast), and
    the per-byte partial sums are exact because a doc's unique-token count
    < 256 in the lane path (docs with ≥ 256 unique tokens take a per-doc
    numpy fallback).  ``acc = 2·ones − n_tokens`` then sign-pack each
    64-bit half.  ``block_tokens`` bounds the posting working set (~64 MB)
    regardless of Arrow batch size."""
    n = len(texts)
    out = np.zeros((n, _N_WORDS), dtype=np.int64)
    vocab: dict[str, int] = {}  # token → index into the unique-hash table
    uniq_words: list[tuple[int, int]] = []  # (lo64, hi64) per unique token
    idx_flat: list[int] = []  # vocab index per (doc, token) posting
    rows_l: list[int] = []
    counts_l: list[int] = []
    mask64 = (1 << 64) - 1
    for r, t in enumerate(texts):
        toks = set((t or "").lower().split())
        if not toks:
            continue
        rows_l.append(r)
        counts_l.append(len(toks))
        for tok in toks:
            ix = vocab.get(tok)
            if ix is None:
                ix = len(uniq_words)
                vocab[tok] = ix
                h = int.from_bytes(
                    hashlib.blake2b(
                        tok.encode(), digest_size=SIMHASH_BITS // 8
                    ).digest(),
                    "big",
                )
                uniq_words.append((h & mask64, h >> 64))
            idx_flat.append(ix)
    if not rows_l:
        return out
    # unpack each UNIQUE hash once: per-row [lo64, hi64] little-endian
    # words + bitorder='little' → column k is exactly (h >> k) & 1 for
    # k in 0..127, matching the scalar loop's bit indexing
    hs_uniq = np.array(uniq_words, dtype="<u8")  # (n_uniq, 2): [lo, hi]
    bits_uniq = np.unpackbits(
        hs_uniq.view(np.uint8).reshape(-1, SIMHASH_BITS // 8),
        axis=1,
        bitorder="little",
    )
    idx = np.array(idx_flat, dtype=np.int64)
    rows = np.array(rows_l, dtype=np.int64)
    counts = np.array(counts_l, dtype=np.int64)
    ends = np.cumsum(counts)
    d0 = 0
    while d0 < len(rows):
        # take documents until the posting budget fills (≥1 doc per block)
        base = int(ends[d0 - 1]) if d0 > 0 else 0
        d1 = int(np.searchsorted(ends, base + block_tokens, side="right"))
        d1 = max(d1, d0 + 1)
        starts = np.concatenate(([base], ends[d0 : d1 - 1])) - base
        seg_counts = counts[d0:d1]
        sel = bits_uniq[idx[base : ends[d1 - 1]]]  # (postings, 128) uint8
        if (seg_counts < 256).all():
            # byte-lane segment sum: 16 uint64 columns, no upcast copy
            part = np.add.reduceat(
                np.ascontiguousarray(sel).view(np.uint64), starts, axis=0
            )
            ones = part.view(np.uint8).reshape(d1 - d0, SIMHASH_BITS).astype(
                np.int64
            )
        else:  # rare: giant docs would overflow the byte lanes
            ones = np.empty((d1 - d0, SIMHASH_BITS), dtype=np.int64)
            for j in range(d0, d1):
                s = int(ends[j - 1]) if j > 0 else 0
                ones[j - d0] = bits_uniq[idx[s : ends[j]]].sum(
                    axis=0, dtype=np.int64
                )
        acc = 2 * ones - seg_counts[:, None]
        pos = acc > 0
        bias = np.uint64(1) << np.uint64(63)
        # v - 2^63 with uint64 wraparound == XOR of the top bit — a
        # consistent bias on both halves, cancelled by XOR at verify time
        lo = (
            (pos[:, :64].astype(np.uint64) * _BIT_WEIGHTS).sum(
                axis=1, dtype=np.uint64
            )
            - bias
        ).view(np.int64)
        hi = (
            (pos[:, 64:].astype(np.uint64) * _BIT_WEIGHTS).sum(
                axis=1, dtype=np.uint64
            )
            - bias
        ).view(np.int64)
        out[rows[d0:d1], 0] = hi
        out[rows[d0:d1], 1] = lo
        d0 = d1
    return out


@pandas_udf(ArrayType(LongType()))
def simhash_udf(text: pd.Series) -> pd.Series:
    sigs = _simhash_batch(text.tolist())
    return pd.Series(list(sigs), index=text.index)


def simhash_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = HAMMING_K
) -> DataFrame:
    """SimHash near-dup pairs: 128-bit signature (two int64 halves),
    pigeonhole chunk join (k+1 chunks of 32 bits — corpus-size-independent
    bucket population, see the module constants), Hamming verify via
    bit_count(xor) summed over both halves."""
    sig = df.select(
        F.col(id_col).alias("id"), simhash_udf(text_col).alias("sig_arr")
    ).select(
        "id",
        F.element_at("sig_arr", 1).alias("sig_hi"),
        F.element_at("sig_arr", 2).alias("sig_lo"),
    )

    def _chunk_val(c: int):
        # chunks 0,1 from the lo half (bits 0..63), 2,3 from the hi half;
        # the top-bit sign bias is uniform across docs so equal-chunk
        # equality is unaffected
        src = F.col("sig_lo") if c < 2 else F.col("sig_hi")
        return F.shiftright(src, (c % 2) * 32).bitwiseAND(F.lit(0xFFFFFFFF))

    chunks = sig.select(
        "id",
        "sig_hi",
        "sig_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        _chunk_val(c).alias("chunk_val"),
                    )
                    for c in range(N_CHUNKS)
                ]
            )
        ).alias("ch"),
    ).select("id", "sig_hi", "sig_lo", "ch.chunk_idx", "ch.chunk_val")
    a = chunks.select(
        F.col("id").alias("id_a"),
        F.col("sig_hi").alias("hi_a"),
        F.col("sig_lo").alias("lo_a"),
        "chunk_idx",
        "chunk_val",
    )
    b = chunks.select(
        F.col("id").alias("id_b"),
        F.col("sig_hi").alias("hi_b"),
        F.col("sig_lo").alias("lo_b"),
        "chunk_idx",
        "chunk_val",
    )
    return (
        a.join(b, ["chunk_idx", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
            + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _ngram_prefix_postings(toks: DataFrame, threshold: float) -> DataFrame:
    """Prefix-filter postings (Chaudhuri et al. ICDE 2006 / Bayardo et al.
    WWW 2007 all-pairs family): order each doc's tokens by the GLOBAL
    canonical order (document frequency asc, token asc — rarest first) and
    keep only the first ``n - ceil(t*n) + 1`` tokens.

    LOSSLESS for Jaccard >= t: J >= t implies overlap o >= t*max(|x|,|y|)
    (from o >= t(|x|+|y|)/(1+t) and o <= min(|x|,|y|)), so o >= ceil(t*|x|)
    for BOTH sets; the first common token in canonical order is preceded in
    each set only by non-shared tokens, hence sits at position
    <= |x| - o + 1 <= |x| - ceil(t*|x|) + 1 — inside both prefixes.  The
    quadratic per-token self-join then runs on prefixes only, and prefix
    tokens are by construction the RAREST — the hot-token groups that blow
    the join up are exactly the ones the prefix excludes.  An epsilon guard
    on the ceil keeps float round-up from ever SHORTENING a prefix (a
    longer prefix is safe, a shorter one loses pairs)."""
    from pyspark.sql.window import Window

    dfr = toks.groupBy("tok").agg(F.count("*").alias("dfr"))
    sized = toks.join(
        toks.groupBy("id").agg(F.count("*").alias("n_toks")), "id"
    ).join(dfr, "tok")
    w = Window.partitionBy("id").orderBy("dfr", "tok")
    plen = (
        F.col("n_toks")
        - F.ceil(F.lit(threshold) * F.col("n_toks") - F.lit(1e-9))
        + F.lit(1)
    )
    return (
        sized.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= plen)
        .select("id", "tok")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_df_ratio: float = 0.5,
    max_df_abs: int | None = None,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact token-set Jaccard pairs: candidates from a prefix-filtered
    postings self-join, verified exactly on the full (pruned) token sets.
    This is the exact (non-probabilistic) dedup path and the
    SQL-oracle-checkable one — prefix filtering is lossless (see
    ``_ngram_prefix_postings``), so the oracle stays the brute-force join.

    High-document-frequency pruning (the 100 TB guard): the postings
    self-join is quadratic PER TOKEN GROUP — one stopword shared by 10^8
    docs is 10^16 candidate rows.  Two complementary caps REMOVE tokens
    from the token sets (changing the Jaccard universe, mirrored in the
    oracle):
      - ``max_df_ratio``: tokens in more than this fraction of docs (the
        stopword list; bounded count, broadcasts);
      - ``max_df_abs``: tokens in more than this many docs ABSOLUTELY —
        the ratio cap alone is scale-unsafe (a token in 1% of 10^9 docs
        is 10^7 postings → ~10^14 candidate rows); an absolute cap makes
        the worst-case per-token join corpus-size-independent.
    ``prefix_filter`` then shrinks candidates WITHOUT changing results:
    surviving medium-DF tokens are excluded from candidate generation
    whenever they fall outside a doc's rarest-first prefix.
    ``max_df_ratio >= 1.0`` with ``max_df_abs=None`` disables pruning
    (pure full-set Jaccard)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))).alias(
            "tok"
        ),
    ).where(F.col("tok") != "")
    if max_df_ratio < 1.0 or max_df_abs is not None:
        n_docs = df.agg(F.countDistinct(id_col).alias("n_docs"))
        cap = F.floor(F.lit(max_df_ratio) * F.col("n_docs"))
        if max_df_abs is not None:
            cap = F.least(cap, F.lit(int(max_df_abs)))
        hot_toks = (
            toks.groupBy("tok")
            .agg(F.count("*").alias("dfr"))  # (id, tok) rows are distinct
            .crossJoin(F.broadcast(n_docs))
            .where(F.col("dfr") > cap)
            .select("tok")
        )
        toks = toks.join(F.broadcast(hot_toks), "tok", "left_anti")
    cand_toks = _ngram_prefix_postings(toks, threshold) if prefix_filter else toks
    a = cand_toks.select(F.col("id").alias("id_a"), "tok")
    b = cand_toks.select(F.col("id").alias("id_b"), "tok")
    pairs = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b")
    )
    # exact verify on the full pruned token SETS (prefix candidates alone
    # cannot count overlap): token arrays are doc-bounded, same payload
    # class as the shingle arrays elsewhere in this module
    sets = toks.groupBy("id").agg(F.collect_set("tok").alias("tokset"))
    return (
        pairs.join(
            sets.select(F.col("id").alias("id_a"), F.col("tokset").alias("set_a")),
            "id_a",
        )
        .join(
            sets.select(F.col("id").alias("id_b"), F.col("tokset").alias("set_b")),
            "id_b",
        )
        .withColumn(
            "n_common", F.size(F.array_intersect("set_a", "set_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("set_a") + F.size("set_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def near_dup_groups(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8
) -> DataFrame:
    """Near-duplicate CLUSTERS, not just pairs: the MinHash-LSH pair graph
    is closed transitively with the same large-star/small-star connected
    components the KG canonicalizer uses, giving (id, keeper_id) for every
    document in a near-dup cluster (keeper = min id; singletons omitted).

    Cluster-level retention (keep the keeper, drop the rest) is the policy
    large training corpora actually apply — pairwise emission alone
    under-deduplicates transitive chains A~B~C where A and C never share a
    bucket.  All building blocks are the existing scale-shaped operators:
    banded bucket join for pairs, O(log n)-round DataFrame CC for closure.
    """
    from openie_spark.operators.components import connected_components

    pairs = minhash_dup_pairs(df, id_col, text_col, threshold)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return connected_components(edges).select(
        F.col("id").alias(id_col), F.col("rep").alias("keeper_id")
    )

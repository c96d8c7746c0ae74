"""L1/L3 tests for OP-30..35: exact path, LSH path (typo aliases), minting
determinism, and agreement with the pure-Python linking oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from openie_spark.fixtures.entities import alias_rows, entity_names
from openie_spark.functions import minhash as mh
from openie_spark.operators.linking import (
    band_key_rows,
    link_mentions,
    lsh_links,
    shingles_col,
)
from openie_spark.schemas import ALIAS_DICT_SCHEMA
from openie_spark.sources.tables import load_alias_dict


def _aliases(spark, alias_dict_path):
    return load_alias_dict(spark, alias_dict_path)


def test_shingles_jvm_matches_python(spark):
    vals = ["acme corp", "ab", "", "meridian systems", "x" * 3]
    df = spark.createDataFrame([(v,) for v in vals], "mention_norm string")
    got = {
        r.mention_norm: list(r.sh)
        for r in df.select("mention_norm", shingles_col("mention_norm").alias("sh")).collect()
    }
    for v in vals:
        assert got[v] == mh.shingles(v), v


def test_exact_and_lsh_and_mint(spark, alias_dict_path):
    aliases = _aliases(spark, alias_dict_path)
    names = entity_names()
    # entity 0 (i%3==0) has its exact alias; entity 2 (i%3==2) does not —
    # only a typo variant, reachable via LSH; plus one garbage mention
    mentions = spark.createDataFrame(
        [(names[0],), (names[2],), ("completely unrelated thing",)],
        "mention_norm string",
    )
    links = {r.mention_norm: r for r in link_mentions(mentions, aliases).collect()}
    assert links[names[0]].method == "exact"
    assert links[names[0]].entity_id == 1000
    assert links[names[2]].method == "lsh"
    assert links[names[2]].entity_id == 1002
    assert links["completely unrelated thing"].method == "minted"


def test_linking_matches_oracle(spark, alias_dict_path):
    """Pipeline decisions == pure-Python oracle decisions on all entity
    names + deterministic perturbations (L2 for linking)."""
    from openie_spark.spec.linking_oracle import oracle_links

    names = entity_names()
    mentions = sorted(set(names) | {n.upper().lower() + "x" for n in names[:20]})
    sdf = spark.createDataFrame([(m,) for m in mentions], "mention_norm string")
    got = {
        r.mention_norm: (r.entity_id, r.method)
        for r in link_mentions(sdf, _aliases(spark, alias_dict_path)).collect()
    }
    want = oracle_links(mentions, alias_rows())
    for m in mentions:
        w_eid, w_method = want[m]
        g_eid, g_method = got[m]
        assert g_method == w_method, (m, got[m], want[m])
        if w_method != "minted":  # minted ids use Spark xxhash64, oracle abstains
            assert g_eid == w_eid, (m, got[m], want[m])


def test_mint_determinism(spark, alias_dict_path):
    mentions = spark.createDataFrame(
        [("zzz unknown entity",), ("qqq other unknown",)], "mention_norm string"
    )
    a = link_mentions(mentions, _aliases(spark, alias_dict_path))
    b = link_mentions(mentions.repartition(7), _aliases(spark, alias_dict_path))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_alias_dict_schema(spark, alias_dict_path):
    df = _aliases(spark, alias_dict_path)
    assert [f.name for f in df.schema.fields] == [
        f.name for f in ALIAS_DICT_SCHEMA.fields
    ]
    assert df.where(F.col("alias_norm").isNull()).count() == 0


def test_blocking_quality_matches_bruteforce(spark, alias_dict_path):
    """blocking_quality vs a per-pair pure-Python replay of the frozen
    scheme on a small controlled mention set (exact hits excluded, the
    candidate/truth/found counts recomputed pairwise)."""
    from openie_spark.operators.linking import blocking_quality

    names = entity_names(30)
    mentions = sorted(set(names) | {n + "x" for n in names[:10]} | {"zz", ""})
    sdf = spark.createDataFrame([(m,) for m in mentions], "mention_norm string")
    row = blocking_quality(sdf, _aliases(spark, alias_dict_path)).collect()[0]

    aliases = sorted({r["alias_norm"] for r in alias_rows()})
    rest = [m for m in mentions if m not in set(aliases)]
    a_pre = [(set(mh.band_keys_for(a)), mh.shingles(a)) for a in aliases]
    n_true = n_cand = n_found = 0
    for m in rest:
        mb, msh = set(mh.band_keys_for(m)), mh.shingles(m)
        for ab, ash in a_pre:
            c = bool(mb & ab)
            t = mh.jaccard(msh, ash) >= mh.JACCARD_THRESHOLD
            n_cand += c
            n_true += t
            n_found += c and t
    assert (row.n_mentions, row.n_aliases) == (len(rest), len(aliases))
    assert (row.n_true_pairs, row.n_cand_pairs, row.n_found_pairs) == (
        n_true,
        n_cand,
        n_found,
    )
    assert row.pairs_completeness_ppm == n_found * 1_000_000 // n_true
    space = len(rest) * len(aliases)
    assert row.reduction_ratio_ppm == (space - n_cand) * 1_000_000 // space


def test_band_key_rows_is_the_exploded_batch_kernel(spark, alias_dict_path):
    """band_key_rows == the Python explode of the batch kernel, for a
    string and an array<string> first column: the pass-through columns
    survive, rows without shingles emit no row, and the LSH plan holds
    mapInArrow fences, never an ArrowEvalPython (pandas) one."""
    norms = [None, "", "a", "ab", "abc", "acme corp", "acme corp",
             "ünïcode naïve", "meridian " * 40]
    df = spark.createDataFrame(
        [(n, 1000 + i) for i, n in enumerate(norms)], "alias_norm string, entity_id long"
    )
    out = band_key_rows(df)
    assert out.columns == ["alias_norm", "entity_id", "band_key"]
    want = sorted(
        (n, 1000 + i, k)
        for i, (n, keys) in enumerate(zip(norms, mh.band_keys_for_batch(norms)))
        for k in keys
    )
    assert sorted(map(tuple, out.collect())) == want
    assert {e for _, e, _ in want}.isdisjoint({1000, 1001})

    # an array<string> first column is taken as the shingles themselves:
    # NULL and [] emit no row, [""] is one shingle and does
    lists = [None, [], [""], ["x y z", "x y z", "y z w"], ["y z w", "x y z"],
             ["q"] * 5]
    arr = spark.createDataFrame(
        [(sh, i) for i, sh in enumerate(lists)], "sh array<string>, id long"
    )
    out = band_key_rows(arr)
    assert out.columns == ["sh", "id", "band_key"]
    keys = mh.band_keys_batch(mh.signatures_batch([sh or [] for sh in lists]))
    want = sorted(
        (i, int(k)) for i, sh in enumerate(lists) if sh for k in keys[i]
    )
    assert sorted((r.id, r.band_key) for r in out.collect()) == want
    assert {i for i, _ in want} == {2, 3, 4, 5}

    unlinked = spark.createDataFrame([(n,) for n in norms[2:]], "mention_norm string")
    links = lsh_links(unlinked, _aliases(spark, alias_dict_path))
    links.collect()
    plan = links._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "ArrowEvalPython" not in plan

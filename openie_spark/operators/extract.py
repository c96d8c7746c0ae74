"""OP-20..23 — the fused extraction operator.

One mapInArrow fence runs segmentation → tokenization → tagging → triple
extraction in a single Python pass per Arrow batch (SURVEY.md §4.2-B: one
fence instead of four chained ones = 4x fewer Arrow round-trips;
rationale: CIDR 2022 "Accelerating Python UDFs in Vectorized Query
Execution").  The fence READS `spans` and emits new triple rows; it never
rewrites `spans` (the per-row span-sequence invariant, BASELINE.json
input_hint).

The rule logic itself is imported from the frozen spec (spec/rules.py) so the
distributed pipeline and the single-process oracle are the same rule set by
construction — P/R vs the oracle measures only distributed-execution fidelity
(Arrow round-trips, partition order, dedup), which is exactly what the
BASELINE metric wants to gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from openie_spark.schemas import TRIPLES_SCHEMA, assert_schema
from openie_spark.spec.rules import RULESET_VERSION, extract_pairs


def _extract_record_batches(batches):
    """mapInArrow kernel: columnar in, columnar out.

    Reads the spans ListArray's kind/text child columns with ONE C-level
    to_pylist() per batch (no pandas Series, no per-span dict objects —
    measured ~2x of the rule compute itself), runs the same frozen rule
    kernel per document, and emits flat triple columns (no explode node
    needed downstream).
    """
    import pyarrow as pa

    out_fields = pa.schema(
        [
            pa.field("doc_id", pa.string(), nullable=False),
            pa.field("sent_idx", pa.int32(), nullable=False),
            pa.field("subj", pa.string(), nullable=False),
            pa.field("rel", pa.string(), nullable=False),
            pa.field("arg", pa.string(), nullable=False),
            pa.field("subj_norm", pa.string(), nullable=False),
            pa.field("arg_norm", pa.string(), nullable=False),
            pa.field("conf", pa.float64(), nullable=False),
            pa.field("clause_type", pa.string(), nullable=False),
            pa.field("deps", pa.string(), nullable=False),
            pa.field("conj", pa.int32(), nullable=False),
        ]
    )
    for batch in batches:
        doc_ids = batch.column(0).to_pylist()
        spans = batch.column(1)
        # absolute offsets into the flattened child arrays (valid for
        # sliced arrays too); one bulk conversion per child column
        offs = spans.offsets.to_pylist()
        kinds = spans.values.field("kind").to_pylist()
        texts = spans.values.field("text").to_pylist()
        o_doc, o_sent, o_subj, o_rel, o_arg = [], [], [], [], []
        o_sn, o_an, o_conf, o_ct, o_dp, o_cj = [], [], [], [], [], []
        for i, doc_id in enumerate(doc_ids):
            lo, hi = offs[i], offs[i + 1]
            for t in extract_pairs(zip(kinds[lo:hi], texts[lo:hi])):
                o_doc.append(doc_id)
                o_sent.append(t.sent_idx)
                o_subj.append(t.subj)
                o_rel.append(t.rel)
                o_arg.append(t.arg)
                o_sn.append(t.subj_norm)
                o_an.append(t.arg_norm)
                o_conf.append(t.conf)
                o_ct.append(t.clause_type)
                o_dp.append(t.deps)
                o_cj.append(t.conj)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(o_doc, pa.string()),
                pa.array(o_sent, pa.int32()),
                pa.array(o_subj, pa.string()),
                pa.array(o_rel, pa.string()),
                pa.array(o_arg, pa.string()),
                pa.array(o_sn, pa.string()),
                pa.array(o_an, pa.string()),
                pa.array(o_conf, pa.float64()),
                pa.array(o_ct, pa.string()),
                pa.array(o_dp, pa.string()),
                pa.array(o_cj, pa.int32()),
            ],
            schema=out_fields,
        )


def extract_stage(docs: DataFrame) -> DataFrame:
    """documents[DOC_SCHEMA] → triples[TRIPLES_SCHEMA].

    Plan shape: scan → (optional salted repartition upstream) → one
    mapInArrow node emitting flat triple rows.  No shuffle is required by
    this stage itself; no explode node; Arrow stays columnar end-to-end.
    """
    flat = StructType([f for f in TRIPLES_SCHEMA.fields if f.name != "ruleset"])
    triples = docs.select("doc_id", "spans").mapInArrow(
        _extract_record_batches, flat
    ).withColumn("ruleset", F.lit(RULESET_VERSION))
    assert_schema(triples, TRIPLES_SCHEMA, "extract_stage")
    return triples


def mentions_from_triples(triples: DataFrame) -> DataFrame:
    """triples → mentions (exploded subj/arg roles) for linking (OP-24 output
    is already carried as subj_norm/arg_norm — pure built-ins downstream).
    v2 SV clauses carry no argument (arg_norm = ''), so the arg side filters
    empty norms — an SV fact contributes only its subject mention."""
    subj = triples.select(
        F.col("subj_norm").alias("mention_norm"),
        "doc_id",
        "sent_idx",
        F.lit("subj").alias("role"),
        F.col("subj").alias("surface"),
    )
    arg = triples.where(F.col("arg_norm") != "").select(
        F.col("arg_norm").alias("mention_norm"),
        "doc_id",
        "sent_idx",
        F.lit("arg").alias("role"),
        F.col("arg").alias("surface"),
    )
    return subj.unionByName(arg)

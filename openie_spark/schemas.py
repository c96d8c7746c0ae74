"""Fixed StructType contracts for the inter-stage datasets (SURVEY.md §1.3).

Nothing in the pipeline proper is schema-inferred: every scan declares its
schema, every UDF declares its return type, every sink is checked against the
contract before writing.  The input-table shape is the authoritative
input_hint (BASELINE.json:15):

    doc_id : string
    spans  : array<struct<kind:string, text:string, media_ref:string, offset:int>>
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --------------------------------------------------------------------------
# Primary input — interleaved text + media documents (BASELINE.json input_hint)
# --------------------------------------------------------------------------

SPAN_SCHEMA = StructType(
    [
        StructField("kind", StringType(), True),  # 'text' | 'image' | 'audio' | ...
        StructField("text", StringType(), True),  # non-null iff kind='text'
        StructField("media_ref", StringType(), True),  # non-null iff kind!='text'
        StructField("offset", IntegerType(), True),  # int32 per input_hint
    ]
)

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_SCHEMA, containsNull=False), False),
    ]
)

# --------------------------------------------------------------------------
# Extraction outputs
# --------------------------------------------------------------------------

TRIPLE_STRUCT = StructType(
    [
        StructField("sent_idx", IntegerType(), False),
        StructField("subj", StringType(), False),
        StructField("rel", StringType(), False),
        StructField("arg", StringType(), False),
        StructField("subj_norm", StringType(), False),
        StructField("arg_norm", StringType(), False),
        StructField("conf", DoubleType(), False),
        StructField("clause_type", StringType(), False),  # SV|SVC|SVO|SVA (v2)
        StructField("deps", StringType(), False),  # v3 dependency arcs
        StructField("conj", IntegerType(), False),  # v3: 1 = conj-expanded
    ]
)

TRIPLES_SCHEMA = StructType(
    [StructField("doc_id", StringType(), False)]
    + list(TRIPLE_STRUCT.fields)
    + [StructField("ruleset", StringType(), False)]
)

# --------------------------------------------------------------------------
# Linking
# --------------------------------------------------------------------------

ALIAS_DICT_SCHEMA = StructType(
    [
        StructField("alias_norm", StringType(), False),
        StructField("entity_id", LongType(), False),
        StructField("entity_name", StringType(), False),
    ]
)

# --------------------------------------------------------------------------
# Graph outputs
# --------------------------------------------------------------------------

VERTICES_SCHEMA = StructType(
    [
        StructField("entity_id", LongType(), False),
        StructField("canonical_id", LongType(), False),
        StructField("name", StringType(), True),
        StructField("n_mentions", LongType(), False),
    ]
)

EDGES_SCHEMA = StructType(
    [
        StructField("subj_canonical", LongType(), False),
        StructField("pred", StringType(), False),
        StructField("obj_canonical", LongType(), False),
        StructField("doc_id", StringType(), False),
        StructField("sent_idx", IntegerType(), False),
        StructField("conf", DoubleType(), False),
    ]
)


def assert_schema(df, expected: StructType, where: str = "") -> None:
    """Schema-contract guard (OP-13): fail fast, never silently coerce."""
    got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    want = [(f.name, f.dataType.simpleString()) for f in expected.fields]
    if got != want:
        raise TypeError(
            f"schema contract violated{' at ' + where if where else ''}: "
            f"got {got}, want {want}"
        )

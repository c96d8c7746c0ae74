"""SPARQL-style basic-graph-pattern (BGP) matching over the constructed KG
— the query side of the construct → link → canonicalize → materialize loop
(public semantics: SPARQL 1.1 BGP evaluation, W3C REC; no reference code
exists — the mount is empty, see SURVEY.md §0).

A pattern is a (subject, predicate, object) triple whose terms are either
variables (strings starting with ``?``) or constants (``int`` entity ids
for subject/object, a ``str`` predicate name).  Matching is the natural
join of the patterns on their shared variables; the result is the set of
DISTINCT bindings of the selected variables (i.e. ``SELECT DISTINCT`` in
SPARQL terms — set semantics makes the operator exactly reproducible in
any engine, which the DuckDB twin below exploits).

Supported shapes (all tested):
  - constant predicates (pushed to the scan as an equality filter);
  - variable predicates (``?p`` binds the pred column);
  - repeated variables WITHIN one pattern (``?x knows ?x`` → head = tail
    filter before the join);
  - repeated variables ACROSS patterns (the join keys);
  - cycle constraints (a variable closing back over several patterns —
    the case a single flat join query cannot express without aliasing);
  - disconnected pattern groups (cartesian of the groups; documented,
    not recommended at scale).

Scale shape (100 TB posture).  Each pattern is one scan of the edge
table with its constant terms pushed down (pred/head/tail equality
filters reach the edge table's scan; for the registry's star KG that is
the materialized edge frame of ``star_kg_edges``, so they filter its
checkpointed rows, not a parquet scan), then binary hash equi-joins on the
shared-variable keys, left-to-right in caller order.  Catalyst + AQE
handle the physical strategy: selective patterns (constant pred on a
small relation) become broadcast sides, and AQE's skew-join splitting
covers hub entities on the join keys.  Callers order patterns so each
one shares a variable with the prefix (the classic greedy BGP join
ordering); a worst-case-optimal multiway join (Leapfrog Triejoin) is
deliberately out of scope — on Spark the binary-join + AQE formulation
is the idiomatic and measured-adequate plan for star/cycle patterns.

One-home rule: ``KG_BGP_PATTERNS`` / ``KG_BGP_SELECT`` drive BOTH the
registry's Spark query (`q_kg_bgp`) and its DuckDB oracle
(``bgp_sql``-generated) — change them only here.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Term = "str | int"
TriplePattern = "tuple[Term, Term, Term]"

# pattern order is (subject, predicate, object); edge columns are named
# (pred, head, tail) — this maps between the two.
_COLS = ("head", "pred", "tail")


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _vname(term: str) -> str:
    return term[1:]


def _pattern_vars(patterns: "list[TriplePattern]") -> list[str]:
    """Variables of a pattern list in first-appearance order."""
    seen: list[str] = []
    for pat in patterns:
        for term in pat:
            if _is_var(term) and _vname(term) not in seen:
                seen.append(_vname(term))
    return seen


_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _validate_vars(groups: "list[list[TriplePattern]]") -> None:
    """Shared up-front validation for BOTH engines (the twin rule: refuse
    identically or the two sides fork on edge inputs):

    - variable names must be plain identifiers (they become DataFrame
      column names AND SQL aliases);
    - a variable may not be bound to both the PREDICATE position and a
      subject/object position (pred is a string column, entities are
      bigints — DuckDB raises a VARCHAR→BIGINT conversion error on the
      generated equality while Spark silently null-casts to an empty
      result, so the unification is refused outright)."""
    kinds: dict[str, str] = {}
    for pats in groups:
        for pat in pats:
            if len(pat) != 3:
                raise ValueError(f"pattern must be a (s, p, o) triple: {pat!r}")
            for term, col in zip(pat, _COLS):
                if not _is_var(term):
                    continue
                v = _vname(term)
                if not _IDENT.fullmatch(v):
                    raise ValueError(f"variable name must be an identifier: ?{v}")
                kind = "pred" if col == "pred" else "node"
                if kinds.setdefault(v, kind) != kind:
                    raise ValueError(
                        f"variable ?{v} is used in both predicate and "
                        "subject/object positions (string vs bigint — refused)"
                    )


def _check_optional_groups(
    required_vars: list[str], optional: "list[list[TriplePattern]]"
) -> None:
    """Shared validation for both engines: every OPTIONAL group must share
    ≥1 variable with the REQUIRED patterns (an unshared group would be a
    keep-all cross product — almost always a bug), and may NOT share a
    variable another OPTIONAL group introduced (a left join on a nullable
    key silently drops null matches, which is NOT SPARQL's sequential
    compatible-bindings semantics — refuse rather than be subtly wrong)."""
    introduced: set[str] = set()
    for group in optional:
        gvars = _pattern_vars(group)
        if not any(v in required_vars for v in gvars):
            raise ValueError(
                "optional group shares no variable with the required patterns"
            )
        clash = [v for v in gvars if v in introduced]
        if clash:
            raise ValueError(
                f"optional group reuses optional-introduced variable(s) {clash}; "
                "only sharing with REQUIRED variables is supported"
            )
        introduced.update(v for v in gvars if v not in required_vars)


def _check_select(select: "list[str] | None", bound: list[str]) -> None:
    """Shared by both entry points (identical-refusal twin rule): a
    ``select`` entry naming a variable no pattern binds gets the same
    clean ValueError from match_bgp and bgp_sql, instead of a bare
    KeyError / opaque AnalysisException."""
    if not select:
        return
    unknown = [
        s for s in select if (_vname(s) if _is_var(s) else s) not in bound
    ]
    if unknown:
        raise ValueError(
            f"select references unbound variable(s) {unknown}; "
            f"bound variables: {bound}"
        )


def _eval_bgp(
    edges: DataFrame, patterns: "list[TriplePattern]"
) -> "tuple[DataFrame, list[str]]":
    """Inner-join evaluation of one pattern list → (bindings frame, vars
    in first-appearance order).  Not deduplicated (callers project +
    distinct)."""
    result = None
    seen: list[str] = []
    for pat in patterns:
        if len(pat) != 3:
            raise ValueError(f"pattern must be a (s, p, o) triple: {pat!r}")
        df = edges.select("pred", "head", "tail")
        bound: dict[str, str] = {}  # var -> source column in THIS pattern
        for term, col in zip(pat, _COLS):
            if _is_var(term):
                v = _vname(term)
                if v in bound:  # repeated variable inside one pattern
                    df = df.where(F.col(col) == F.col(bound[v]))
                else:
                    bound[v] = col
            elif col == "pred":
                df = df.where(F.col("pred") == term)
            else:
                df = df.where(F.col(col) == int(term))
        frame = df.select(*[F.col(c).alias(v) for v, c in bound.items()])
        for v in bound:
            if v not in seen:
                seen.append(v)
        if result is None:
            result = frame
        else:
            shared = [v for v in frame.columns if v in result.columns]
            result = (
                result.join(frame, on=shared, how="inner")
                if shared
                else result.crossJoin(frame)
            )
    return result, seen


def match_bgp(
    edges: DataFrame,
    patterns: "list[TriplePattern]",
    select: "list[str] | None" = None,
    optional: "list[list[TriplePattern]] | None" = None,
) -> DataFrame:
    """edges(pred, head, tail) × triple patterns → DISTINCT bindings of
    the selected variables (one output column per variable, named without
    the ``?``).  ``select`` defaults to every variable in first-appearance
    order (required first, then optional-introduced).

    ``optional`` is a list of pattern GROUPS, each evaluated as its own
    BGP and LEFT-joined onto the required bindings on the variables it
    shares with the required patterns (SPARQL OPTIONAL for well-designed
    patterns; variables with no match bind NULL).  See
    ``_check_optional_groups`` for the two refused shapes.  NOTE for
    exact-compare consumers: a nullable int64 column turns float64 in
    pandas — aggregate optional variables away (counts / IS NOT NULL)
    before hash comparison.

    See module docstring for semantics and plan shape."""
    _validate_vars([patterns, *(optional or [])])
    result, seen = _eval_bgp(edges, patterns)
    if not seen:
        raise ValueError("BGP needs at least one variable")
    if optional:
        _check_optional_groups(seen, optional)
        for group in optional:
            g, gseen = _eval_bgp(edges, group)
            shared = [v for v in gseen if v in seen]
            # distinct before the left join: bounded, and mirrors the SQL
            # twin's SELECT DISTINCT subquery exactly
            result = result.join(
                g.select(*gseen).distinct(), on=shared, how="left"
            )
            seen += [v for v in gseen if v not in seen]
    _check_select(select, seen)
    out = [_vname(v) if _is_var(v) else v for v in (select or seen)]
    return result.select(*out).distinct()


def bgp_sql(
    edges_sql: str,
    patterns: "list[TriplePattern]",
    select: "list[str] | None" = None,
    optional: "list[list[TriplePattern]] | None" = None,
) -> str:
    """DuckDB twin of ``match_bgp`` — generated from the SAME pattern
    list(s), so the two sides cannot fork.  Later occurrences of a
    variable equate to its FIRST reference (the same equi-join
    `match_bgp`'s ``join(on=shared)`` performs; all required columns are
    null-free so inner-join and WHERE-equality semantics coincide).
    ``optional`` groups become ``LEFT JOIN (SELECT DISTINCT ...) ON
    shared-var equalities`` — the exact twin of the Spark left join.
    Variable-derived output aliases are double-quoted so reserved words
    (``?order``) work identically on both sides."""
    _validate_vars([patterns, *(optional or [])])
    refs: dict[str, str] = {}
    seen: list[str] = []
    conds: list[str] = []
    for i, pat in enumerate(patterns):
        if len(pat) != 3:
            raise ValueError(f"pattern must be a (s, p, o) triple: {pat!r}")
        for term, col in zip(pat, _COLS):
            ref = f"t{i}.{col}"
            if _is_var(term):
                v = _vname(term)
                if v in refs:
                    conds.append(f"{ref} = {refs[v]}")
                else:
                    refs[v] = ref
                    seen.append(v)
            elif col == "pred":
                conds.append("{} = '{}'".format(ref, term.replace("'", "''")))
            else:
                conds.append(f"{ref} = {int(term)}")
    if not seen:
        raise ValueError("BGP needs at least one variable")
    froms = ", ".join(f"({edges_sql}) t{i}" for i in range(len(patterns)))
    where = " AND ".join(conds) if conds else "TRUE"
    if not optional:
        _check_select(select, seen)
        out = [_vname(v) if _is_var(v) else v for v in (select or seen)]
        sel = ", ".join(f'{refs[v]} AS "{v}"' for v in out)
        return f"SELECT DISTINCT {sel} FROM {froms} WHERE {where}"
    _check_optional_groups(seen, optional)
    req_sel = ", ".join(f'{refs[v]} AS "{v}"' for v in seen)
    req_sql = f"SELECT DISTINCT {req_sel} FROM {froms} WHERE {where}"
    out_refs = {v: f'req."{v}"' for v in seen}
    order = list(seen)
    joins = []
    for gi, group in enumerate(optional):
        gvars = _pattern_vars(group)
        gshared = [v for v in gvars if v in seen]
        g_sql = bgp_sql(edges_sql, group, select=["?" + v for v in gvars])
        alias = f"opt{gi}"
        on = " AND ".join(f'{alias}."{v}" = req."{v}"' for v in gshared)
        joins.append(f"LEFT JOIN ({g_sql}) {alias} ON {on}")
        for v in gvars:
            if v not in order:
                out_refs[v] = f'{alias}."{v}"'
                order.append(v)
    _check_select(select, order)
    out = [_vname(v) if _is_var(v) else v for v in (select or order)]
    sel = ", ".join(f'{out_refs[v]} AS "{v}"' for v in out)
    return (
        f"SELECT DISTINCT {sel} FROM ({req_sql}) req " + " ".join(joins)
    )


# ---------------------------------------------------------------------------
# Headline BGP over the star KG (one home — registry Spark + SQL sides both
# read these): orders shipped by a supplier located in the SAME nation the
# ordering customer is based in.  The ?n cycle closing over four patterns
# is exactly what a flat single-pass join query cannot express without
# re-aliasing the edge table per pattern — i.e. a real BGP.
# ---------------------------------------------------------------------------

KG_BGP_PATTERNS = [
    ("?o", "placed_by", "?c"),
    ("?c", "based_in", "?n"),
    ("?o", "ships_from", "?s"),
    ("?s", "located_in", "?n"),
]
KG_BGP_SELECT = ["?n", "?o", "?c", "?s"]

# Headline OPTIONAL query (one home, same rule): every customer with
# their nation, OPTIONALly matched to orders they placed — customers
# without orders survive with ?o = NULL (the KG twin of the relational
# left-outer `customers_without_orders`).  Consumers aggregate ?o away
# (counts) before exact comparison — see match_bgp's NULL-dtype note.
KG_BGP_OPT_REQUIRED = [("?c", "based_in", "?n")]
KG_BGP_OPT_OPTIONAL = [[("?o", "placed_by", "?c")]]
KG_BGP_OPT_SELECT = ["?n", "?c", "?o"]

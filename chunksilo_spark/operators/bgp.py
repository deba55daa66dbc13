"""Basic-graph-pattern (BGP) matching over a (subj, pred, obj) relation.

The query surface of the constructed KG: once the pipeline has
materialized triples, the question "which entity pairs satisfy this
conjunction of typed relations" is the SPARQL-BGP core, and the reference
answers its analog with metadata-filtered retrieval over the chunk index
(reference ``src/chunksilo/search.py:950-1100`` — `load_llamaindex_index`
+ filtered retrieve). Here the same need is a conjunctive self-join plan
over the triple relation, declared once and left to Catalyst.

Scale shape (the 100 TB answer):

  * **Constants are pushed, not joined.** Each triple pattern becomes a
    filtered projection of the triple relation — its constant positions
    turn into ``WHERE`` predicates that Catalyst pushes into the parquet
    scan (PushedFilters on `pred` is the classic predicate-partitioned
    triple-store layout; partition the materialized triple table by
    `pred` and pattern scans prune to single partitions).
  * **Each pattern carries only its variables** — column pruning keeps the
    shuffled rows at (|vars| × 8) bytes, never the full triple row.
  * **Joins are hash equi-joins on shared variables.** Pattern order is
    chosen greedily by selectivity (most constants first) under a
    connectivity constraint, so intermediate results shrink early; AQE
    re-plans highly-selective sides into broadcasts at runtime and splits
    skewed join keys (hub entities).
  * **No cartesian products, ever**: a pattern set whose join graph is
    disconnected raises instead of exploding — the same guard every
    production SPARQL engine applies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..session import local_frame

__all__ = ["bgp_match"]

_POSITIONS = ("subj", "pred", "obj")


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _var_name(term: str) -> str:
    name = term[1:]
    if not name:
        raise ValueError("empty variable name '?' in BGP pattern")
    return name


def _values_frame(acc: DataFrame, vnames: list[str], rows) -> DataFrame:
    """VALUES rows -> an inline relation typed as ``acc``'s columns of
    the same names (nullable, like any binding). Every cell must convert
    to its column's type and back unchanged: Arrow would truncate 1.5 to
    1 for a ``long``, and a VALUES row must match exactly what it names."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    schema = StructType(
        [StructField(v, acc.schema[v].dataType, True) for v in vnames]
    )
    rows = [tuple(r) for r in rows]
    if any(len(r) != len(vnames) for r in rows):
        raise ValueError(f"VALUES rows must each bind {vnames!r}")
    for field, cells in zip(schema, zip(*rows)):
        try:
            arr = pa.array(cells, type=to_arrow_type(field.dataType))
            exact = arr.to_pylist() == list(cells)
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
            exact = False
        if not exact:
            raise ValueError(
                f"VALUES ?{field.name}: {list(cells)!r} do not all fit the "
                f"bound column's type {field.dataType.simpleString()}"
            )
    return local_frame(acc.sparkSession, rows, schema)


def _pattern_scan(triples: DataFrame, pattern, cols) -> tuple[DataFrame, list[str]]:
    """One triple pattern -> (filtered projection, its variable names).

    Constants become pushed filters; a variable repeated WITHIN the
    pattern (e.g. ``("?x", "knows", "?x")`` — self-loops) becomes an
    equality filter between the two positions.
    """
    if len(pattern) != 3:
        raise ValueError(f"BGP pattern must be a (s, p, o) triple: {pattern!r}")
    scan = triples
    first_pos: dict[str, str] = {}  # var name -> first column holding it
    out: list[Column] = []
    names: list[str] = []
    for pos, term in zip(cols, pattern):
        if _is_var(term):
            v = _var_name(term)
            if v in first_pos:
                scan = scan.where(F.col(first_pos[v]) == F.col(pos))
            else:
                first_pos[v] = pos
                out.append(F.col(pos).alias(v))
                names.append(v)
        else:
            scan = scan.where(F.col(pos) == F.lit(term))
    if not names:
        raise ValueError(
            f"BGP pattern {pattern!r} binds no variables — a fully-constant "
            "pattern is an existence test, not a join input"
        )
    return scan.select(*out), names


def _n_constants(pattern) -> int:
    return sum(0 if _is_var(t) else 1 for t in pattern)


def bgp_match(
    triples: DataFrame,
    patterns,
    select: list[str] | None = None,
    filters: list[Column] | None = None,
    distinct: bool = False,
    optional: list | None = None,
    minus: list | None = None,
    values: tuple[list[str], list[tuple]] | None = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    input_distinct: bool = False,
) -> DataFrame:
    """Match a conjunction of triple patterns -> one column per variable.

    ``patterns`` is a list of ``(s, p, o)`` triples whose elements are
    either variables (strings starting with ``?``) or constants (any
    other value, compared with ``=``). ``filters`` are optional Column
    predicates over the variable columns (the SPARQL ``FILTER`` analog,
    e.g. ``F.col("a") < F.col("b")``), applied after the joins —
    Catalyst pushes them down into the join tree where legal.
    ``select`` orders/limits the output variables (default: all, sorted).

    Join order: greedy most-constants-first among patterns connected (by
    a shared variable) to the already-joined set; ties broken by number
    of shared variables, then input order. Disconnected pattern sets
    raise ``ValueError`` (no implicit cartesian products).

    ``optional`` patterns (each its own OPTIONAL group) LEFT-join on
    their shared variables after the required joins — unmatched rows
    keep nulls in the optional-only variables, and an optional pattern
    can multiply rows when several bindings match (SPARQL bag
    semantics). Optional patterns must share >= 1 variable with the
    required set. ``minus`` patterns remove solutions for which a
    matching binding exists over the SHARED variables (anti-join); per
    the SPARQL MINUS spec, a minus pattern sharing NO variable removes
    nothing (a warning-worthy query, but the spec'd behavior).

    ``values`` is the SPARQL ``VALUES`` clause: ``(["?x", "?y"], [(1, 2),
    (3, 4), ...])`` constrains the named variables to the given binding
    rows via an inner join with the inline table. The inline relation is
    driver-literal and tiny by construction, so Spark broadcasts it — at
    100 TB this is the "restrict the query to this entity list" fast
    path (the list prunes the join tree instead of filtering at the
    end). Variables must all be bound by the required patterns. Each
    VALUES column takes the type of the bound column it joins; a value
    that type cannot hold exactly (a string or 1.5 for a ``long``, a
    bool for a number) raises ``ValueError``, so no implicit cast
    decides what a VALUES row matches.

    Bag semantics by default (each distinct derivation is a row, the
    SPARQL default); ``distinct=True`` for set semantics (applied after
    optional/minus).

    ``input_distinct=True`` is the caller's assertion that ``triples``
    is duplicate-free over (subj, pred, obj). Under that assertion, when
    ``select`` keeps EVERY bound variable (no projection, no repeats),
    the solution relation is already a set and the trailing
    ``distinct()`` is elided — redundant-DISTINCT elimination, a pure
    plan optimization (one full-output exchange + aggregate removed; on
    the wide-output band queries that exchange dominates the whole job).
    Why the result is provably a set: each triple pattern over a
    duplicate-free relation is a projection in which the dropped
    positions are determined (constants, or a repeated variable equal to
    a kept column), so every pattern relation is distinct over its
    variables; an inner equi-join of relations that are each distinct
    over their full column sets, joined on their shared columns, is
    distinct over the union of the columns (the output tuple determines
    both input tuples); the VALUES inline table is distinct'd over
    exactly its join columns, so it matches each row at most once;
    OPTIONAL left-joins extend a row either by k >= 1 distinct bindings
    (distinct over the new columns) or by exactly one null row, never
    both; MINUS and FILTER only remove rows. If ``select`` drops or
    repeats a variable the elision is disabled and ``distinct()`` runs
    as declared (projections of a set are a bag).
    """
    patterns = list(patterns)
    if not patterns:
        raise ValueError("empty BGP")
    cols = (subj_col, pred_col, obj_col)
    scans = [_pattern_scan(triples, p, cols) for p in patterns]

    remaining = list(range(len(scans)))
    # seed: the most selective pattern overall
    start = max(remaining, key=lambda i: (_n_constants(patterns[i]), -i))
    remaining.remove(start)
    acc, bound = scans[start]
    bound = set(bound)
    while remaining:
        connected = [
            i for i in remaining if bound.intersection(scans[i][1])
        ]
        if not connected:
            missing = [patterns[i] for i in remaining]
            raise ValueError(
                f"disconnected BGP: {missing!r} share no variable with "
                f"the joined set {sorted(bound)!r} — refusing the implicit "
                "cartesian product"
            )
        nxt = max(
            connected,
            key=lambda i: (
                _n_constants(patterns[i]),
                len(bound.intersection(scans[i][1])),
                -i,
            ),
        )
        remaining.remove(nxt)
        scan, names = scans[nxt]
        acc = acc.join(scan, on=sorted(bound.intersection(names)), how="inner")
        bound.update(names)

    if values is not None:
        vnames = [_var_name(v) if _is_var(v) else v for v in values[0]]
        unbound = [v for v in vnames if v not in bound]
        if unbound:
            raise ValueError(
                f"VALUES names unbound variables: {unbound!r} (bound: "
                f"{sorted(bound)!r})"
            )
        if not values[1]:
            raise ValueError("VALUES with an empty binding list")
        inline = _values_frame(acc, vnames, values[1]).distinct()
        acc = acc.join(F.broadcast(inline), on=vnames, how="inner")

    for opt in optional or []:
        scan, names = _pattern_scan(triples, opt, cols)
        shared = sorted(bound.intersection(names))
        if not shared:
            raise ValueError(
                f"OPTIONAL pattern {opt!r} shares no variable with the "
                f"required set {sorted(bound)!r}"
            )
        acc = acc.join(scan, on=shared, how="left")
        bound.update(names)
    for mns in minus or []:
        scan, names = _pattern_scan(triples, mns, cols)
        shared = sorted(bound.intersection(names))
        if shared:  # SPARQL MINUS: disjoint domains remove nothing
            acc = acc.join(
                scan.select(*shared).distinct(), on=shared, how="left_anti"
            )
    for f in filters or []:
        acc = acc.where(f)
    out_cols = select if select is not None else sorted(bound)
    unknown = [c for c in out_cols if c not in bound]
    if unknown:
        raise ValueError(f"select names unbound variables: {unknown!r}")
    acc = acc.select(*out_cols)
    if distinct:
        provably_set = (
            input_distinct
            and len(set(out_cols)) == len(out_cols)
            and set(out_cols) == bound
        )
        if not provably_set:
            acc = acc.distinct()
    return acc

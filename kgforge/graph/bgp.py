"""Basic-graph-pattern (BGP) matching over the edge table — the serving
query layer of the KG engine ("which ?x works at a ?y located in oslo").

A BGP is an ordered list of triple patterns; each term is either a
constant or a variable (a string starting with ``?``). Matching is the
SPARQL BGP semantics (https://www.w3.org/TR/sparql11-query/ — public
spec) restricted to this engine's edge model: solutions are the distinct
variable bindings under which every pattern is an edge of the graph.

Spark-first design: each pattern compiles to a filtered projection of the
edge table (constants become pushed-down predicates on the parquet scan;
variables become column renames), and the conjunction is a left-deep
chain of equi-joins on the shared variables — exactly the worst-case-
optimal-join-free classical plan every SQL engine runs, so Catalyst owns
join ordering hints, AQE handles skewed join keys, and nothing touches
Python. Pattern pairs that share no variable are a deliberate error
(that cross product is almost always a query bug; an explicit
``allow_product=True`` opt-in runs it anyway), and patterns are greedily
reordered so each join DOES share a variable with the accumulated prefix
whenever any ordering achieves that — the user writes patterns in
narrative order, the planner keeps the joins keyed.

Scale notes (100 TB): every join here is a hash equi-join on binding
columns; constant-filtered patterns are small and broadcast under AQE's
threshold. A pattern with ALL THREE terms variable scans the whole edge
table — legal, but the planner warns via ``require_anchor=True``
(default) which insists at least one pattern carries a constant.

Repeated calls: every public entry point resolves its edges frame once
through ``graph.serving.serving_edges``. A call that repeats over the
same committed table version reads that version's shared distinct
snapshot from the second call on; a first sighting keeps the pushed-
down scan described above. Over the snapshot a pattern compiles with no
``dropDuplicates``: the snapshot is a set, and a filter + projection of
a set is a set when every constant term is one equality (the projection
keeps every variable column; a repeated variable drops only an equal
column). An alternation term breaks that — ``("?x", ["p1", "p2"],
"?y")`` over ``(a p1 b), (a p2 b)`` projects ``(a, b)`` twice — so such
a pattern keeps its dedup. A first sighting, and any frame that is not
a snapshot, keeps every pattern's dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.graph.serving import committed_read, serving_edges

_COLS = ("subj_id", "pred", "obj_id")
_ALTERNATION = (list, tuple, set, frozenset)  # the SPARQL alternation term types


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _needs_dedup(pattern: tuple[str, str, str], over_snapshot: bool) -> bool:
    """Whether a compiled pattern needs its distinct projection: always
    over a frame that may repeat rows, and over the distinct serving
    snapshot only for an alternation term (see the module docstring)."""
    return not over_snapshot or any(isinstance(t, _ALTERNATION) for t in pattern)


def _compile_pattern(
    edges: DataFrame, pattern: tuple[str, str, str], ix: int, dedup: bool = True
) -> tuple[DataFrame, set[str]]:
    """One triple pattern → (projection keyed by its variables, var set).
    Constants filter (pushed to the scan); variables rename; a repeated
    variable inside one pattern ("?x knows ?x") becomes an equality
    filter before the rename. A list/tuple/set term is a SPARQL
    ALTERNATION — the term matches ANY of its constants (an In filter,
    equally pushable); it still anchors the pattern. ``dedup=False``
    skips the distinct projection for callers that dedup downstream
    themselves (the WCOJ cell join — round-6)."""
    df = edges
    var_for_col: dict[str, str] = {}
    for col, term in zip(_COLS, pattern):
        if _is_var(term):
            if term in var_for_col.values():
                first = next(c for c, v in var_for_col.items() if v == term)
                df = df.where(F.col(col) == F.col(first))
            else:
                var_for_col[col] = term
        elif isinstance(term, _ALTERNATION):
            alts = sorted(term)
            if not alts:
                raise ValueError(
                    f"empty alternation in pattern {pattern} — a term "
                    "matching nothing makes the whole BGP empty"
                )
            if any(_is_var(a) for a in alts):
                raise ValueError(
                    f"alternation {alts} mixes variables with constants — "
                    "alternation terms must all be constants"
                )
            df = df.where(F.col(col).isin(alts))
        else:
            df = df.where(F.col(col) == F.lit(term))
    if not var_for_col:
        # fully-ground pattern: an existence test — keep one marker row
        return df.select(F.lit(1).alias(f"__exists_{ix}")).limit(1), set()
    sel = [F.col(c).alias(v[1:]) for c, v in var_for_col.items()]
    out = df.select(*sel)
    if dedup:
        out = out.dropDuplicates()
    return out, set(v[1:] for v in var_for_col.values())


def _check_patterns(
    patterns: list[tuple[str, str, str]],
    require_anchor: bool,
    per_pattern_anchor: bool,
) -> None:
    """Shared pattern validation. Reserved names: "__"-prefixed
    variables belong to the internal ground-pattern existence markers —
    allowing them would let the marker cleanup silently drop a user
    binding. Anchor: an all-variable pattern set scans the full edge
    table; required groups are checked as a WHOLE (one anchored pattern
    bounds the join chain), optionals PER PATTERN (they never join each
    other)."""
    for p in patterns:
        for t in p:
            if _is_var(t) and t.startswith("?__"):
                raise ValueError(f"variable name {t!r} is reserved (?__*)")
    if not require_anchor:
        return
    if per_pattern_anchor:
        for p in patterns:
            if all(_is_var(t) for t in p):
                raise ValueError(
                    f"unanchored optional pattern {p} scans the full edge "
                    "table; pass require_anchor=False to run it"
                )
    elif patterns and all(all(_is_var(t) for t in p) for p in patterns):
        raise ValueError(
            "unanchored BGP (every term of every pattern is a variable) "
            "scans the full edge table; pass require_anchor=False to run it"
        )


def match_bgp(
    edges: DataFrame,
    patterns: list[tuple[str, str, str]],
    *,
    require_anchor: bool = True,
    allow_product: bool = False,
    filters: list[str] | None = None,
) -> DataFrame:
    """Distinct variable bindings satisfying every triple pattern.

    ``edges`` needs columns (subj_id, pred, obj_id); extra columns are
    ignored. Variables are ``?name`` strings; the result carries one
    column per variable (without the ``?``). ``filters`` are SPARQL
    FILTER analogs: SQL boolean expressions over the variable columns
    (``"x != y"``, ``"c like 'oslo%'"``), applied after the joins —
    Catalyst pushes them into the join where the expression allows, and
    an expression naming an unbound variable fails analysis loudly.

    >>> match_bgp(edges, [("?x", "works at", "?y"),
    ...                   ("?y", "located in", "oslo")],
    ...           filters=["x != y"])
    DataFrame[x: string, y: string]
    """
    served = serving_edges(edges)
    return _match_bgp(
        served,
        patterns,
        over_snapshot=served is not edges,
        require_anchor=require_anchor,
        allow_product=allow_product,
        filters=filters,
    )


def _match_bgp(
    edges: DataFrame,
    patterns: list[tuple[str, str, str]],
    *,
    over_snapshot: bool = False,
    require_anchor: bool = True,
    allow_product: bool = False,
    filters: list[str] | None = None,
) -> DataFrame:
    """``match_bgp`` over an already resolved edges frame: the body every
    entry point of this module shares after its one ``serving_edges``.
    ``over_snapshot`` says ``edges`` is the distinct serving snapshot."""
    if not patterns:
        raise ValueError("empty BGP")
    _check_patterns(patterns, require_anchor, per_pattern_anchor=False)
    compiled = [
        _compile_pattern(edges, p, ix, dedup=_needs_dedup(p, over_snapshot))
        for ix, p in enumerate(patterns)
    ]
    # greedy reorder: always join a pattern sharing a variable with the
    # bound prefix when one exists (keeps every join keyed). Fully-ground
    # patterns carry no variables — they are one-row existence gates and
    # always join last, so they never poison the connectivity check.
    var_ixs = [i for i, c in enumerate(compiled) if c[1]]
    ground_ixs = [i for i, c in enumerate(compiled) if not c[1]]
    order: list[int] = []
    if var_ixs:
        order.append(var_ixs[0])
        bound = set(compiled[var_ixs[0]][1])
        remaining = var_ixs[1:]
        while remaining:
            nxt = next(
                (i for i in remaining if compiled[i][1] & bound), None
            )
            if nxt is None:
                if not allow_product:
                    raise ValueError(
                        "disconnected BGP: pattern "
                        f"{patterns[remaining[0]]} shares no variable with "
                        "the rest (cross product); pass allow_product=True "
                        "to run it"
                    )
                nxt = remaining[0]
            order.append(nxt)
            remaining.remove(nxt)
            bound |= compiled[nxt][1]
    order.extend(ground_ixs)
    out = compiled[order[0]][0]
    out_vars = set(compiled[order[0]][1])
    for i in order[1:]:
        df, vs = compiled[i]
        shared = sorted(out_vars & vs)
        if shared:
            out = out.join(df, on=shared, how="inner")
        else:
            out = out.crossJoin(df)  # ground marker or explicit opt-in
        out_vars |= vs
    drop = [c for c in out.columns if c.startswith("__exists_")]
    if drop:
        out = out.drop(*drop)
    for expr in filters or []:
        # filtering a set yields a set, so the no-final-distinct argument
        # below still holds
        out = out.where(F.expr(expr))
    # no final dropDuplicates: every compiled pattern is already distinct
    # (deduplicated, or a projection of the snapshot set), and an
    # equi-join of SETS on their shared variables is a set (so is a
    # cross by the one-row ground marker, and so is any filter of a set)
    # — a trailing global distinct would re-shuffle the entire result for
    # nothing (measured: the full 5M-binding hub chain pays one extra
    # 5M-row exchange)
    return out


def match_bgp_optional(
    edges: DataFrame,
    patterns: list[tuple[str, str, str]],
    optional: list[tuple[str, str, str]],
    **kw,
) -> DataFrame:
    """``match_bgp`` with SPARQL OPTIONAL semantics for a trailing group
    of single-pattern optionals: every required solution survives, and
    each optional pattern contributes its bindings where compatible or
    NULLs where not (left outer join on the shared variables — exactly
    OPTIONAL for the well-designed case where each optional shares at
    least one variable with the required group, which is enforced).
    Optionals are applied left-to-right against the accumulated solution,
    the SPARQL evaluation order for sequential OPTIONALs.

    >>> match_bgp_optional(edges,
    ...     [("?x", "works at", "?y")],
    ...     [("?y", "located in", "?c")])
    DataFrame[x, y, c]   # c is NULL for employers with no location edge
    """
    # optional patterns get the SAME guards as required ones (they bypass
    # match_bgp), via the shared checker in its PER-PATTERN anchor mode:
    # optionals never join each other, so a single all-variable optional
    # already compiles to a full-table projection (in a required group
    # only the all-variable WHOLE group is a full scan)
    _check_patterns(
        optional, kw.get("require_anchor", True), per_pattern_anchor=True
    )
    served = serving_edges(edges)
    over_snapshot = served is not edges
    out = _match_bgp(served, patterns, over_snapshot=over_snapshot, **kw)
    required_vars = set(out.columns)
    introduced: set[str] = set()
    for ix, pat in enumerate(optional):
        df, vs = _compile_pattern(
            served, pat, ix, dedup=_needs_dedup(pat, over_snapshot)
        )
        shared = sorted(required_vars & vs)
        new = vs - required_vars
        if not shared:
            raise ValueError(
                f"optional pattern {pat} shares no variable with the "
                "required group — not a well-designed OPTIONAL (its "
                "bindings would cross-multiply every solution)"
            )
        if not new:
            # a fully-bound optional adds no columns: it can only be an
            # existence probe, which OPTIONAL by definition cannot filter
            # on — reject instead of silently doing nothing
            raise ValueError(
                f"optional pattern {pat} binds no new variable; make it "
                "a required pattern if it must hold"
            )
        if new & introduced:
            # two optionals binding the SAME new variable, or one keyed
            # on another's output, is the non-well-designed case where
            # left joins and SPARQL diverge (NULL is join-incompatible
            # but SPARQL-compatible) — refuse rather than be subtly wrong
            raise ValueError(
                f"optional pattern {pat} rebinds {sorted(new & introduced)}"
                " already bound by an earlier optional; restructure the"
                " query (not a well-designed OPTIONAL chain)"
            )
        out = out.join(df, on=shared, how="left")
        introduced |= new
    return out


def match_bgp_window(
    spark,
    edges_path: str,
    patterns: list[tuple[str, str, str]],
    lo: str,
    hi: str,
    **kw,
):
    """Time-windowed BGP: match ``patterns`` against only the edges
    asserted in crawl days [lo, hi], reading the day-partitioned edge
    table (graph/temporal.py materialization) so the window becomes a
    PartitionFilter — the scan is proportional to the window, not the
    table (plan-gated in tests/test_bgp.py). Semantics: the whole BGP is
    evaluated within one window (every pattern must hold there), the
    windowed-serving counterpart of window_subgraph_topk. The window is
    filtered per call, so it skips the serving snapshot and keeps its
    pruned scan; the unfiltered read is ``serving.committed_read``'s one
    frame per committed table version, so a repeated call reuses its
    listing."""
    edges = committed_read(spark, edges_path).where(
        (F.col("day") >= lo) & (F.col("day") <= hi)
    )
    return _match_bgp(edges, patterns, **kw)


def match_bgp_not_exists(
    edges: DataFrame,
    patterns: list[tuple[str, str, str]],
    negative: list[tuple[str, str, str]],
    *,
    require_anchor: bool = True,
    allow_product: bool = False,
    filters: list[str] | None = None,
) -> DataFrame:
    """SPARQL ``FILTER NOT EXISTS``: solutions of ``patterns`` for which
    no compatible evaluation of the ``negative`` group exists. Because
    match_bgp solutions bind every variable, this equals SPARQL MINUS
    whenever the two groups share at least one variable — which is
    enforced (a negative group sharing nothing would either remove
    everything or nothing depending on one global existence bit; say
    which one you mean with a ground existence pattern instead).

    One anti-join carries the whole semantics: the negative group is
    evaluated as its own BGP (same planner, same guards; ``filters``
    apply to the REQUIRED group only — they may name variables the
    negative group never binds), projected to the shared variables,
    de-duplicated, and left-anti-joined against the solutions. At scale
    the anti join is a keyed shuffle (or a broadcast once the distinct
    negative projection is small) — never a per-solution subquery.

    >>> match_bgp_not_exists(edges,
    ...     [("?x", "works at", "?y")],
    ...     [("?y", "located in", "?z")])
    DataFrame[x, y]   # employees of employers with NO known location
    """
    served = serving_edges(edges)
    over_snapshot = served is not edges
    out = _match_bgp(
        served,
        patterns,
        over_snapshot=over_snapshot,
        require_anchor=require_anchor,
        allow_product=allow_product,
        filters=filters,
    )
    neg = _match_bgp(
        served,
        negative,
        over_snapshot=over_snapshot,
        require_anchor=require_anchor,
        allow_product=allow_product,
    )
    shared = sorted(set(out.columns) & set(neg.columns))
    if not shared:
        raise ValueError(
            "NOT EXISTS group shares no variable with the required group "
            "— the result would be all-or-nothing on one global existence "
            "bit; use a ground existence pattern in the required group "
            "instead"
        )
    return out.join(neg.select(*shared).distinct(), on=shared, how="left_anti")


def match_bgp_union(
    edges: DataFrame,
    groups: list[list[tuple[str, str, str]]],
    **kw,
) -> DataFrame:
    """SPARQL UNION of pattern groups: the solutions of ANY group,
    aligned on the union of all groups' variables — a variable a group
    does not bind is NULL there (SPARQL's unbound). Each group is matched
    independently under the same guards as match_bgp; cross-group
    duplicate solutions collapse (set semantics, matching match_bgp —
    this one distinct is over the final result, which unlike the removed
    per-query distinct is NOT redundant: two groups can produce the same
    binding).

    >>> match_bgp_union(edges, [
    ...     [("?x", "acquired", "?y")],
    ...     [("?x", "merged with", "?y")],
    ... ])
    DataFrame[x, y]   # consolidation events of either kind
    """
    if not groups:
        raise ValueError("empty UNION")
    served = serving_edges(edges)
    outs = [
        _match_bgp(served, g, over_snapshot=served is not edges, **kw)
        for g in groups
    ]
    all_vars = sorted(set().union(*[set(o.columns) for o in outs]))
    aligned = []
    for o in outs:
        for v in all_vars:
            if v not in o.columns:
                o = o.withColumn(v, F.lit(None).cast("string"))
        aligned.append(o.select(*all_vars))
    if len(aligned) == 1:
        # a single-group UNION is already distinct (match_bgp output is a
        # set) — skip the full-result shuffle the cross-group distinct
        # would pay for nothing
        return aligned[0]
    out = aligned[0]
    for o in aligned[1:]:
        out = out.unionByName(o)
    return out.dropDuplicates()

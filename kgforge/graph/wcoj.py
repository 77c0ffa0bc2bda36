"""Worst-case-optimal evaluation for CYCLIC basic graph patterns.

``match_bgp`` (graph/bgp.py) evaluates every BGP as a left-deep chain of
binary equi-joins. For acyclic patterns that plan is fine, but for the
canonical cyclic shape — the 3-variable triangle

    (?a, p1, ?b), (?b, p2, ?c), (?c, p3, ?a)

binary joins must materialize every open WEDGE (the R1 x R2 partial
bindings) before the closing join can discard the ones that do not
close. On a skewed graph the wedge count is quadratic in hub degree
while the true output obeys the AGM bound O(|E|^{3/2}) (Atserias/Grohe/
Marx, "Size bounds and query plans for relational joins", FOCS 2008) —
the gap is the motivation for worst-case-optimal joins (Ngo/Porat/Re/
Rudra, PODS 2012, and the LogicBlox "leapfrog triejoin" line).

Spark has no built-in WCOJ physical operator, so this module implements
the standard distributed recipe instead of pretending a binary plan is
one:

* **HyperCube / Shares partitioning** (Afrati & Ullman, "Optimizing
  joins in a map-reduce environment", EDBT 2010): lay the three binding
  variables on the axes of an s x s x s cube of cells. Each relation
  binds TWO of the three variables, so each of its rows hashes to a line
  of s cells (fixed coordinates on its two axes, replicated along the
  axis it does not constrain). Every result triple (a, b, c) is then
  assembled in EXACTLY ONE cell — (h(a)%s, h(b)%s, h(c)%s) — so cells
  are embarrassingly parallel and the union of their outputs needs no
  global distinct. Communication is O(s * input) rather than
  O(input + wedges): the replication factor is chosen, the wedge blowup
  is not.

* **Cell-local generic join** (one Arrow batch per cell via
  ``applyInPandas``): inside a cell, a semi-join reduction first drops
  rows that cannot participate in any triangle, then the wedge side is
  closed in BOUNDED CHUNKS against a hash index of the closing relation,
  so cell memory is O(cell input + chunk) instead of O(cell wedges).

The result is exactly ``match_bgp``'s set semantics on the same
patterns (pinned by tests/test_wcoj.py against both the binary plan and
the brute-force oracle); only the physical strategy differs. Use it
when the pattern is a 3-cycle over a skewed graph; use ``match_bgp``
for everything else (its planner rejects nothing this module accepts —
this module is the documented scale path of BACKLOG #15).

Scale notes (100 TB): `shares` trades replication for per-cell load —
s = ceil((2 * cluster parallelism)^(1/3)) keeps every core busy at ~2
cells while paying a small constant replication (s=10 at 2,000 cores
replicates each input row 10x, still dwarfed by the avoided wedge
shuffle on a power-law graph where one hub can own 30% of the edges).
Skew across cells is bounded by design: a hub value is spread over s^2
cells by the OTHER two coordinates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.graph.bgp import _check_patterns, _compile_pattern, _is_var
from kgforge.graph.serving import serving_edges

_CELL = ("__c0", "__c1", "__c2")


def _cycle_layout(
    patterns: list[tuple[str, str, str]],
    require_anchor: bool,
) -> tuple[list[str], list[tuple[int, int]]]:
    """Validate the 3-cycle shape and fix a canonical variable order.

    Returns (vars_sorted, axes) where axes[i] are the two cube axes
    pattern i constrains. Raises ValueError (with a pointer back to
    match_bgp) for anything that is not a 3-pattern cycle over exactly
    three variables, each shared by exactly two patterns.
    """
    if len(patterns) != 3:
        raise ValueError(
            "match_bgp_cycle handles exactly 3 patterns (the 3-variable "
            f"cycle); got {len(patterns)} — use match_bgp"
        )
    # shared guards with match_bgp (reserved ?__* names; all-variable
    # groups scan the full edge table and are refused unless opted out)
    _check_patterns(patterns, require_anchor, per_pattern_anchor=False)
    var_sets = []
    for p in patterns:
        vs = {t[1:] for t in p if _is_var(t)}
        if len(vs) != 2:
            raise ValueError(
                f"pattern {p} binds {len(vs)} distinct variables; a cyclic "
                "pattern binds exactly 2 per pattern — use match_bgp"
            )
        var_sets.append(vs)
    all_vars = sorted(set().union(*var_sets))
    if len(all_vars) != 3 or len({frozenset(v) for v in var_sets}) != 3:
        raise ValueError(
            "patterns do not form a 3-variable cycle (need 3 variables, "
            "each shared by exactly 2 patterns) — use match_bgp"
        )
    axis = {v: i for i, v in enumerate(all_vars)}
    axes = [tuple(sorted(axis[v] for v in vs)) for vs in var_sets]
    return all_vars, axes


def _cell_triangle_closer(vars_sorted: list[str], chunk_rows: int):
    """Build the per-cell pandas function: semi-join reduce, then close
    wedges in bounded chunks. Pure closure over column names so the
    worker imports nothing from this module's Spark-side state."""
    v0, v1, v2 = vars_sorted

    def close_cell(pdf):
        import pandas as pd

        # .dropna(): SQL equi-joins (the match_bgp plan) never match NULL
        # keys, but pandas merge on object dtype CAN pair None with None —
        # drop null bindings up front so both plans agree on edge tables
        # that carry NULL subj/obj values.
        # in-cell dedup (round-6): the compiled patterns arrive WITHOUT
        # the per-pattern distinct projection — three pre-cube exchanges
        # removed at the cost of replicating duplicate rows into their
        # (identical) cells, where one hash dedup per relation restores
        # the set semantics the chunked closer relies on.
        r01 = pdf[pdf["__rel"] == 0][[v0, v1]].dropna().drop_duplicates()
        r12 = pdf[pdf["__rel"] == 1][[v1, v2]].dropna().drop_duplicates()
        r02 = pdf[pdf["__rel"] == 2][[v0, v2]].dropna().drop_duplicates()
        empty = pd.DataFrame({v0: [], v1: [], v2: []}, dtype=object)
        if len(r01) == 0 or len(r12) == 0 or len(r02) == 0:
            return empty
        # semi-join reduction: a row that cannot extend along the cycle
        # cannot appear in any output triangle. One forward pass (r01 ->
        # r12 -> r02) then one row-set re-check of r01 against the shrunk
        # neighbors; cheap (hash probes) and kills hub wedges whose far
        # end never closes.
        r01 = r01[r01[v1].isin(set(r12[v1])) & r01[v0].isin(set(r02[v0]))]
        if len(r01) == 0:
            return empty
        r12 = r12[r12[v1].isin(set(r01[v1])) & r12[v2].isin(set(r02[v2]))]
        if len(r12) == 0:
            return empty
        r02 = r02[r02[v0].isin(set(r01[v0])) & r02[v2].isin(set(r12[v2]))]
        if len(r02) == 0:
            return empty
        # chunked wedge closing: never hold more than one chunk's wedges.
        # Each (v0,v1) is unique in r01 and each (v1,v2) unique in r12
        # (compiled patterns are distinct projections), so merged wedges
        # are unique and the inner merge with the unique (v0,v2) pairs
        # keeps uniqueness — no in-cell dedup needed, and the HyperCube
        # assignment makes cells globally disjoint on output triples.
        out = []
        for lo in range(0, len(r01), chunk_rows):
            chunk = r01.iloc[lo : lo + chunk_rows]
            wedges = chunk.merge(r12, on=v1)
            if len(wedges) == 0:
                continue
            closed = wedges.merge(r02, on=[v0, v2])
            if len(closed):
                out.append(closed[[v0, v1, v2]])
        if not out:
            return empty
        return pd.concat(out, ignore_index=True)

    return close_cell


def match_bgp_cycle(
    edges: DataFrame,
    patterns: list[tuple[str, str, str]],
    *,
    shares: int | None = None,
    chunk_rows: int = 65536,
    require_anchor: bool = True,
) -> DataFrame:
    """Distinct bindings of a 3-variable CYCLIC BGP, evaluated with
    HyperCube partitioning + cell-local generic join (worst-case-optimal
    communication) instead of ``match_bgp``'s binary-join plan.

    Same inputs and same output contract as ``match_bgp`` restricted to
    the triangle shape: ``edges`` needs (subj_id, pred, obj_id), each
    pattern must bind exactly two of three total variables (so each
    pattern carries at least one constant — typically the predicate —
    which also means the scan is always anchored), and the result has
    one string column per variable.

    >>> match_bgp_cycle(edges, [("?a", "supplies", "?b"),
    ...                         ("?b", "supplies", "?c"),
    ...                         ("?c", "supplies", "?a")])
    DataFrame[a: string, b: string, c: string]
    """
    if chunk_rows < 1:
        raise ValueError(f"chunk_rows must be >= 1, got {chunk_rows}")
    vars_sorted, axes = _cycle_layout(patterns, require_anchor)
    edges = serving_edges(edges)
    spark = edges.sparkSession
    if shares is None:
        import math

        par = spark.sparkContext.defaultParallelism
        shares = max(2, math.ceil((2 * max(1, par)) ** (1.0 / 3.0)))
    s = int(shares)
    if s < 1:
        raise ValueError(f"shares must be >= 1, got {shares}")
    # canonical relation ids by the axis PAIR each pattern constrains —
    # the user may write the cycle in any order/orientation, the cell
    # function indexes by pair: 0=(v0,v1), 1=(v1,v2), 2=(v0,v2)
    rel_of_pair = {(0, 1): 0, (1, 2): 1, (0, 2): 2}
    tagged = []
    for pat_ix, (pat, ax) in enumerate(zip(patterns, axes)):
        rel_ix = rel_of_pair[ax]
        # dedup=False: duplicates ride the (one) cube exchange and are
        # dropped cell-locally — see _cell_triangle_closer
        df, _vs = _compile_pattern(edges, pat, pat_ix, dedup=False)
        # fixed coordinates on the two constrained axes, replicated along
        # the free axis (the Shares assignment)
        free_ax = ({0, 1, 2} - set(ax)).pop()
        coords = {}
        for a in ax:
            coords[_CELL[a]] = F.pmod(
                F.xxhash64(F.col(vars_sorted[a])), F.lit(s)
            ).cast("int")
        df = df.select(
            F.lit(rel_ix).alias("__rel"),
            *[coords.get(c, F.lit(None).cast("int")).alias(c) for c in _CELL],
            *[
                (F.col(v) if v in df.columns else F.lit(None).cast("string")).alias(
                    v
                )
                for v in vars_sorted
            ],
        ).withColumn(
            _CELL[free_ax],
            F.explode(F.sequence(F.lit(0), F.lit(s - 1))),
        )
        tagged.append(df)
    cube = tagged[0]
    for df in tagged[1:]:
        cube = cube.unionByName(df)
    # StructType, not a DDL string: variable names only need to be valid
    # DataFrame column names (match_bgp's contract), not SQL identifiers
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField(v, StringType()) for v in vars_sorted])
    return cube.groupBy(*_CELL).applyInPandas(
        _cell_triangle_closer(vars_sorted, chunk_rows), schema=schema
    )

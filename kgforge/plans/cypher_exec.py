"""Cypher-subset executor: compile read queries to DataFrame join plans.

The reference's query path LLM-generates Cypher and ships it to FalkorDB
(ref graphrag_sdk/steps/graph_query_step.py:40-82; the prompt documents the
expected query surface, fixtures/prompts.py:366-406). A reference user
switching engines brings STORED Cypher queries; this module executes the
read subset those prompts actually produce, against the materialized
`nodes(node_id, label, key, props)` / `edges(src_id, label, dst_id, props)`
tables:

    UNWIND ['x', 'y'] AS v                           -- literal batch lookup
    UNWIND range(0, 24) AS i                         -- end-INCLUSIVE, ±step
    WITH a, count(b) AS n UNWIND [1, 2] AS m ...     -- expand per item
    MATCH (a:L1)-[r:R1]->(b:L2)<-[:R2]-(c), (d:L3) ...
    MATCH (a)-[:R1|R2]->(b)                          -- type alternation
    MATCH (a:L1)-[:R1*1..3]->(b:L2)                  -- variable length
    MATCH p = shortestPath((a:L1)-[:R1*..6]->(b:L2)) -- RETURN length(p)
    MATCH p = (a:L1)-[:R1*1..3]->(b:L2)              -- named walk path
    WHERE a.prop = 'x' AND r.role <> 'self' AND c.name CONTAINS 'y'
    WHERE (a.prop IN ['x', 'y'] OR b.rank >= 3) AND c.tag IS NOT NULL
    OPTIONAL MATCH (a)-[:R3]->(e:L4) [WHERE e.prop = 'z']
    CALL algo.SPpaths({sourceNode: a, targetNode: b, relTypes: ['R1'],
                       weightProp: 'w', maxLen: 4}) YIELD pathWeight
    CALL algo.SSpaths({sourceNode: a, weightProp: 'w'}) YIELD pathWeight
    WITH a, count(e) AS n [WHERE n >= 3]             -- aggregate + HAVING
    WITH a, n ORDER BY n DESC, a LIMIT 5             -- top-k boundary
    MATCH (a)-[:R4]->(f:L5)                          -- aggregate-then-expand
    RETURN a, b.prop AS p, n  [DISTINCT]
    ORDER BY n DESC, p SKIP 5 LIMIT 10
    ORDER BY count(b) DESC, a.prop           -- unaliased agg / var.prop
    UNION [ALL] MATCH ... RETURN ...         -- full sub-queries, same cols

Semantics and scope:

- patterns are chains of legs; comma-separated patterns join on shared
  variables (cartesian when disjoint, as in Cypher). An undirected leg
  ``-[:R]-`` (ref prompt: "omit it for either direction") matches the
  relationship in either orientation — compiled as the union of the edge
  relation with its reverse (one binding per fitting orientation, exact
  openCypher semantics); undirected variable-length / shortestPath legs
  expand over the symmetrized edge set. ``allShortestPaths`` collapses
  openCypher's one-row-per-path multiplicity to one row per (pair,
  length), so only multiplicity-blind projections are accepted for it
  (RETURN DISTINCT / count(DISTINCT) / min / max; ADVICE r03) — anything
  else raises rather than silently returning different counts.
- a relationship variable ``-[r:R]->`` binds the edge; ``r.prop`` reads
  its props map in WHERE / RETURN, ``count(r)`` counts matched edges.
  A rel var on a variable-length leg ``-[r:R*m..n]->`` (openCypher: a
  relationship LIST) is an implicit WALK binding (r5): one row per
  (pair, hop count), observable only via ``size(r)`` / ``length(r)``
  (the hop count); touching the list's elements (``r.prop``, ``RETURN
  r``) raises, and multiplicity-sensitive projections are guarded like
  named walk paths.
- ``OPTIONAL MATCH`` compiles to a LEFT OUTER join of the optional
  pattern onto the bound plan (shared variables are the join keys; at
  least one is required). A ``WHERE`` directly following an OPTIONAL
  MATCH filters inside the optional side before the left join — Cypher's
  match-time semantics — while a WHERE after a plain MATCH filters the
  joined plan. Unmatched rows carry NULL keys/props, so ``count(e)``
  over an optional var skips them (Cypher parity).
- ``WITH`` boundaries split the query into a PIPELINE of stages, any
  number of them (``MATCH … WITH … MATCH … WITH … RETURN``). A WHERE
  directly after a WITH is the HAVING idiom, filtering on the
  WITH-produced columns. ``MATCH`` after WITH (the LLM-generated
  "aggregate then expand" shape) joins the new pattern onto the WITH
  output: bare node vars carry their identity through the WITH and
  become the join keys; WITH aggregates stay referable bare (and inside
  aggregates) in every later stage and in RETURN. Only carried vars
  survive a WITH (Cypher scoping); a new label/props constraint on a
  carried var raises. OPTIONAL MATCH works in any stage ("top-k then
  optionally expand": the optional group left-joins onto the carried
  relation). ``ORDER BY … SKIP/LIMIT`` at a WITH boundary truncates the
  intermediate relation (the top-k-then-expand shape); sort keys are
  WITH columns, carried vars (by key), or carried ``var.prop``
  (lexicographic — props are strings). ORDER BY with no SKIP/LIMIT at a
  boundary is a documented no-op (intermediate order is unobservable:
  collect() sorts, RETURN has its own ORDER BY); SKIP/LIMIT without
  ORDER BY raises (nondeterministic row choice).
- variable-length legs ``-[:R*m..n]->`` compile to bounded iterative
  frontier expansion (the bfs_distances shape from plans/graph_query:
  per-level equi-join + dropDuplicates + localCheckpoint, early exit on a
  drained frontier) producing an (src, dst) reachability-pair relation
  that joins into the plan like any other leg. For ``m <= 1`` this is
  exact Cypher semantics; for ``m >= 2`` pairs are matched per WALK length
  (Cypher's per-path relationship-uniqueness is not enforced — exact on
  acyclic graphs, a superset on cyclic ones; documented, like FalkorDB's
  own deviation notes). Unbounded ``*`` is capped at `max_hops`.
- ``p = shortestPath((a)-[:R*..n]->(b))`` binds ``p`` to the min-hop
  distance between each (a, b) pair within n hops; ``length(p)`` returns
  it. Exact (BFS levels ARE min distances). minHops > 1 raises (Neo4j
  itself restricts it; filtering settled minima would DROP pairs whose
  true distance is below the bound, ADVICE r03). A named plain path
  ``p = (a)-[:R*m..n]->(b)`` binds one row per (pair, walk length);
  like allShortestPaths it requires a multiplicity-blind projection.
- ``CALL algo.SPpaths({...}) YIELD path, pathWeight`` / ``algo.SSpaths``
  run the reference prompt's minimal-weight-path procedures (ref
  fixtures/prompts.py:394-398) against the bound MATCH rows: SPpaths
  yields the cheapest walk per (sourceNode, targetNode) binding,
  SSpaths one row per destination reachable from sourceNode. All
  bindings share one origin-keyed Bellman-Ford
  (graph_query.weighted_paths); the yielded columns join the
  plain-column namespace (usable in RETURN, aggregates, WITH, and a
  WHERE directly after the YIELD). ``YIELD path`` (r5) returns the
  textual node-key route ``'k1->k2->…'`` of ONE cheapest walk
  (deviation: FalkorDB returns a structured Path object; key-text is
  this engine's canonical rendering) with a deterministic tie-break.
  ``pathCount: k`` (r5) yields the k cheapest SIMPLE paths per pair —
  k rows per binding, exact bounded enumeration
  (graph_query.weighted_paths_topk; see apply_calls for the full
  parameter contract).
- standalone ``CALL db.labels()`` / ``db.relationshipTypes()`` /
  ``db.propertyKeys()`` (FalkorDB's schema-introspection procedures)
  compile to distributed DISTINCTs over the graph tables; optional
  ``YIELD``/``RETURN [AS]``/``ORDER BY``/``SKIP``/``LIMIT``.
- arithmetic expressions in RETURN (``l.price * (1 - l.discount) AS
  net``, ``sum(l.qty * l.price)``) compile to hidden columns via a
  recursive-descent parser (+ - * / precedence, parens, unary minus;
  atoms = props try_cast double / numeric literals / earlier hidden
  columns). Bare arithmetic requires ``AS alias``; division is FLOAT
  division (string-prop model — documented deviation from openCypher's
  integer/integer division); arithmetic OVER aggregate results
  (``sum(x) * 2``) stays out of subset.
- scalar functions in RETURN compile to hidden columns (nestable,
  usable inside aggregates and ORDER BY): toLower/toUpper, trim/lTrim/
  rTrim, reverse, size(string), substring, left/right, replace,
  toInteger/toFloat/toString/toBoolean, coalesce, abs/ceil/floor/sign/
  round/sqrt (sqrt is IEEE correctly-rounded, so cross-engine exact;
  exp/log/pow stay out), type(r), startNode(r)/endNode(r) (the endpoint
  node's key; directed single-hop legs only), labels(n)/properties(n)/
  keys(n) (canonical sorted JSON), id(n).
- `RETURN var` projects the node's key (the unique-attribute value — node
  identity in this engine and in the reference's MERGE). `var.prop` reads
  the props map. `count(var)` / `count(*)` / `count(DISTINCT var)` and the
  numeric aggregates `sum/avg/min/max(var.prop)` (props try_cast to
  double) aggregate, grouped by the non-aggregate return items (Cypher's
  implicit grouping); the same functions work over WITH columns.
  ``collect(var)`` / ``collect(var.prop)`` / ``collect(DISTINCT …)``
  aggregate into a list, NULLs skipped (openCypher parity); the list is
  SORTED — Cypher leaves collect order unspecified, a deterministic order
  keeps results reproducible and engine-comparable (documented deviation).
- property comparisons against numeric literals compare numerically
  (props store strings; `try_cast` double), string literals compare as
  strings.
- WHERE supports ``AND``/``OR``/``NOT`` with Cypher precedence (NOT over
  AND over OR) and parenthesized boolean groups ``(a OR b) AND c`` at any
  nesting depth, membership
  ``var.prop IN ['a', 'b']`` / ``IN [1, 2]`` (homogeneous literal lists),
  ``var.prop IS [NOT] NULL`` (a missing props key is NULL, so this
  also tests unmatched OPTIONAL rows), ``exists(var.prop)`` (the
  deprecated-but-ubiquitous synonym of IS NOT NULL),
  property-to-property compares ``a.x > b.y`` (numeric when both sides
  parse as numbers, else string), arithmetic comparisons
  ``l.price * l.qty > 100`` (both sides through the shared + - * /
  grammar, r5), case-folded string compares
  ``toLower/toUpper(var.prop) = '...'`` (also CONTAINS / STARTS WITH /
  ENDS WITH), and ``var.prop =~ 'regex'`` (whole-string match, Cypher
  semantics, compiled to an anchored ``rlike``). All compile to one Column
  expression per WHERE — a single Catalyst Filter, no per-conjunct scan —
  EXCEPT pattern predicates ``[NOT] (a)-[:R]->(b)`` (openCypher existence
  predicates; "customers without orders"), which compile to one left
  semi/anti join per conjunct (multiplicity-preserving, as Cypher
  requires). Pattern predicates under a top-level OR raise.

Everything compiles to label-filtered equi-joins + hash aggregation —
Catalyst reorders/broadcasts them like any relational plan; there is no
interpreter in the loop at execution time. Three plan shapes keep serving
reads small:

- edge-resolved node variables: when the edge frame carries the KG
  endpoint columns (``src_label/src_key/dst_label/dst_key``, EDGES_SCHEMA),
  a first-stage node variable whose properties the query never reads
  takes its id, key and label check from the edge row of the leg that
  binds it, with no join against the nodes table (a props-free first
  variable starts the plan from its leg's edge scan). Every writer of the
  KG edge table keeps referential integrity, which makes this exact. A
  property read (``v.prop``, ``properties``/``keys``, inline ``{..}``
  props), a WITH carry, an OPTIONAL MATCH or a variable-length leg keeps
  the join, and so does a frame without those columns. The two-hop
  ``(p)-[]->(m)-[]->(g) WHERE p.name = 'x' RETURN m, g`` joins only
  ``p``; ``RETURN p, count(m)`` over one leg joins no node at all.
- the anchored tail: when the root variable is pinned by an equality
  (``WHERE p.name = 'x'`` or inline props) and the query is one stage, a
  final DISTINCT/ORDER BY with no LIMIT runs over one partition, with no
  hash exchange, range-sampling job or range exchange, so a read runs the
  same number of Spark jobs whether or not it returns rows (an anchor
  absent from the graph still ends after its empty broadcast). Unanchored
  reads keep the parallel tail.
- one-partition plans over local inputs: when both tables are local
  relations (``DataFrame.isLocal()``; a small graph version is read as one,
  graph_table.py ``LOCAL_ROWS``), the optimizer evaluates filters and
  projections over them on the driver, so a point read or an anchor absent
  from the graph runs no Spark job. Each join coalesces both sides to one
  partition and joins them by hash (a ``shuffle_hash`` hint), and the tail
  of every read (DISTINCT, aggregation, ORDER BY) runs in that partition
  too, so a two-hop or a top-k is one job with no broadcast and no
  shuffle. File scans and Iceberg tables never take this shape: their
  split parallelism is worth more than a job's fixed cost.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgforge.session import local_frame

_CLAUSE = re.compile(
    r"\bOPTIONAL\s+MATCH\b|\bMATCH\b|\bWHERE\b|\bWITH\b|\bRETURN\b"
    r"|\bORDER\s+BY\b|\bLIMIT\b|\bSKIP\b|\bCALL\b|\bUNWIND\b",
    re.IGNORECASE,
)
_UNWIND_BODY = re.compile(r"\[(.*)\]\s+AS\s+(\w+)$", re.IGNORECASE | re.DOTALL)
_UNWIND_RANGE = re.compile(
    r"range\s*\(\s*(-?\d+)\s*,\s*(-?\d+)\s*(?:,\s*(-?\d+)\s*)?\)"
    r"\s+AS\s+(\w+)$",
    re.IGNORECASE,
)
# (?<![\w.]): `n.union` is a legal property access, not a set operator —
# a bare \b would match right after the dot and split the query
_UNION_RE = re.compile(r"(?<![\w.])UNION(\s+ALL)?\b", re.IGNORECASE)
# standalone CALL db.labels() / db.relationshipTypes() / db.propertyKeys()
_DB_PROC = re.compile(
    r"CALL\s+db\.(labels|relationshipTypes|propertyKeys)\s*\(\s*\)"
    r"(?:\s+YIELD\s+(\w+))?"
    r"(?:\s+RETURN\s+(\w+)(?:\s+AS\s+(\w+))?)?"
    r"(?:\s+ORDER\s+BY\s+(\w+)(\s+DESC)?(?:\s+ASC)?)?"
    r"(?:\s+SKIP\s+(\d+))?"
    r"(?:\s+LIMIT\s+(\d+))?"
    r"\s*$",
    re.IGNORECASE | re.DOTALL,
)
# CALL algo.SPpaths({...}) YIELD items  /  CALL algo.SSpaths({...}) YIELD …
_CALL_ALGO = re.compile(
    r"^algo\s*\.\s*(SPpaths|SSpaths)\s*\(\s*\{(.*)\}\s*\)\s*"
    r"YIELD\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_NODE = re.compile(r"\(\s*(\w+)?\s*(?::\s*(\w+))?\s*(\{[^}]*\})?\s*\)")
_EDGE = re.compile(
    r"(<-|-)\s*\[\s*(\w+)?\s*(?::\s*(\w+(?:\s*\|\s*:?\w+)*))?\s*"
    r"(\*\s*(\d+)?\s*(?:(\.\.)\s*(\d+)?)?)?\s*\]\s*(->|-)"
)
_SHORTEST = re.compile(
    r"^(\w+)\s*=\s*(all)?shortestPaths?\s*\(\s*(.+)\s*\)$",
    re.IGNORECASE | re.DOTALL,
)
_NAMED_PATH = re.compile(r"^(\w+)\s*=\s*(.+)$", re.DOTALL)
MAX_VAR_HOPS = 8  # bound for unbounded * / shortestPath expansion
_COND = re.compile(
    r"(\w+)\.(\w+)\s*(=|<>|<=|>=|<|>|CONTAINS|STARTS\s+WITH|ENDS\s+WITH)"
    r"\s*('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|-?\d+(?:\.\d+)?)",
    re.IGNORECASE,
)
_NULL_COND = re.compile(r"(\w+)\.(\w+)\s+IS\s+(NOT\s+)?NULL", re.IGNORECASE)
_FUNC_COND = re.compile(
    r"(toLower|toUpper)\s*\(\s*(\w+)\.(\w+)\s*\)\s*"
    r"(=|<>|CONTAINS|STARTS\s+WITH|ENDS\s+WITH)"
    r"\s*('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")",
    re.IGNORECASE,
)


def _unquote(lit: str) -> str:
    """Strip the surrounding quotes and resolve backslash escapes
    (``\\'`` / ``\\"`` / ``\\\\`` pass the escaped character through —
    Cypher string-literal semantics, ADVICE r03)."""
    return re.sub(r"\\(.)", r"\1", lit[1:-1])
_REGEX_COND = re.compile(
    r"(\w+)\.(\w+)\s*=~\s*('(?:[^']*)'|\"(?:[^\"]*)\")"
)
_EXISTS_COND = re.compile(
    r"(?:exists)\s*\(\s*(\w+)\.(\w+)\s*\)", re.IGNORECASE
)
_PROP_PROP = re.compile(
    r"(\w+)\.(\w+)\s*(=|<>|<=|>=|<|>|CONTAINS|STARTS\s+WITH|ENDS\s+WITH)"
    r"\s*(\w+)\.(\w+)",
    re.IGNORECASE,
)


def _label_pred(rel: str) -> Column:
    """Edge-label predicate; `A|B` alternation (openCypher `[:A|B]` /
    legacy `[:A|:B]`) matches any listed type."""
    alts = [r.strip().lstrip(":") for r in rel.split("|")]
    if len(alts) == 1:
        return F.col("label") == alts[0]
    return F.col("label").isin(alts)
_IN_COND = re.compile(
    r"(\w+)\.(\w+)\s+IN\s+\[(.*)\]", re.IGNORECASE | re.DOTALL
)
_RET_ITEM = re.compile(
    r"^(?:(count|sum|avg|min|max|collect|stDev)\s*\(\s*(DISTINCT\s+)?"
    r"(\*|\w+(?:\.\w+)?)\s*\)"
    r"|(percentileDisc|percentileCont)\s*\(\s*(\w+(?:\.\w+)?)\s*,"
    r"\s*([\d.]+)\s*\)"
    r"|(length|size)\s*\(\s*(\w+)\s*\)"
    r"|(\w+)(?:\.(\w+))?)"
    r"(?:\s+AS\s+(\w+))?$",
    re.IGNORECASE,
)
def _stdev_agg(col: Column) -> Column:
    """Neo4j/FalkorDB stDev (sample): sums run in DECIMAL (order-free,
    so the shuffle's reduction order cannot move the result — the
    repo's standing float-sum rule), then one straight-line double
    expression sqrt((s2 - s*s/n)/(n-1)) that an oracle can replay
    verbatim: no a*b+c shape anywhere, so cross-engine FMA contraction
    has nothing to fuse. Values round to 6 decimal places at the cast;
    groups of 0/1 values return 0.0 (Neo4j parity)."""
    d = col.cast("decimal(18,6)")
    n = F.count(d)
    s = F.sum(d).cast("double")
    s2 = F.sum(d * d).cast("double")
    var = (s2 - s * s / n) / (n - 1)
    return F.when(n <= 1, F.lit(0.0)).otherwise(
        F.sqrt(F.greatest(var, F.lit(0.0)))
    )


# numeric aggregates operate on try_cast-double props (props store strings)
_NUM_AGGS = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max,
             "stdev": _stdev_agg}


def _pct_disc(col: Column, p: float) -> Column:
    """Neo4j/FalkorDB percentileDisc: nearest-rank over the group's
    non-NULL values — 1-based index ceil(p * n) into the sorted values
    (p=0 -> min, p=1 -> max). collect_list skips NULLs (openCypher
    parity); an all-NULL group yields NULL via try_element_at. Exact and
    engine-replicable (no interpolation)."""
    lst = F.sort_array(F.collect_list(col))
    idx = F.greatest(
        F.ceil(F.size(lst) * F.lit(float(p))).cast("int"), F.lit(1)
    )
    return F.try_element_at(lst, idx)


def _pct_cont(col: Column, p: float) -> Column:
    """Neo4j/FalkorDB percentileCont: linear interpolation at position
    (n - 1) * p of the sorted non-NULL values. The oracle twin writes
    THE SAME IEEE-double expression (v_lo + frac * (v_hi - v_lo)) rather
    than calling the other engine's quantile function, so equality holds
    by construction, not by hoping two interpolation internals agree.

    An all-NULL group collects an EMPTY list: pos = (0-1)*p is negative,
    so lo+1 could reach 0 and try_element_at raises INVALID_INDEX_OF_ZERO
    (it tolerates out-of-range, NOT index 0 — PySpark 4.1.2). openCypher
    returns NULL for percentileCont over no values, so clamp the index to
    1 and gate the whole expression on a non-empty list (ADVICE r04)."""
    lst = F.sort_array(F.collect_list(col))
    pos = (F.size(lst) - 1).cast("double") * F.lit(float(p))
    lo = F.floor(pos).cast("int")
    frac = pos - lo
    v_lo = F.try_element_at(lst, F.greatest(lo + 1, F.lit(1)))
    v_hi = F.coalesce(F.try_element_at(lst, F.greatest(lo + 2, F.lit(1))), v_lo)
    return F.when(F.size(lst) > 0, v_lo + frac * (v_hi - v_lo))
# scalar functions compiled to hidden columns in RETURN; args carry no
# nested parens, so a search loop resolves nested calls innermost-first
_SCALAR_RE = re.compile(
    r"\b(toLower|toUpper|trim|lTrim|rTrim|reverse|toInteger|toFloat"
    r"|coalesce|substring|type"
    r"|labels|properties|keys|toString|abs|ceil|floor|sign|round|sqrt"
    r"|toBoolean|replace|left|right|id|startNode|endNode)"
    r"\s*\(([^()]*)\)",
    re.IGNORECASE,
)
# size(<prop or string literal>) is the STRING-length scalar; bare-name
# args stay untouched so size(r) (var-length hop count, projection
# grammar) and size((n)-[:R]->()) (degree idiom, nested parens — the
# generic scalar regex can't match it anyway) keep their own compilers.
# __-prefixed names are this compiler's own hidden columns (nested
# calls: size(toUpper(n.x)) sees size(__fnK)); user vars can't start
# with __ (reserved, same contract as operators/asof.py).
_SIZE_SCALAR_RE = re.compile(
    r"\bsize\s*\(\s*(\w+\.\w+|__\w+|'[^']*'|\"[^\"]*\")\s*\)",
    re.IGNORECASE,
)


_ARITH_TOKEN = re.compile(r"\s*(\d+\.\d+|\d+|\w+\.\w+|\w+|[()+\-*/])")


def _arith_column(text: str, resolve_atom) -> tuple[Column, int]:
    """Recursive-descent arithmetic compiler: + - * / with standard
    precedence, parens, unary minus. Atoms are numeric literals or
    whatever `resolve_atom(token) -> Column` accepts (props, hidden
    columns, UNWIND aliases — caller-scoped). Returns (Column, n_ops);
    raises ValueError when the text is not arithmetic in this grammar
    (callers treat that as "leave for the other compilers")."""
    toks: list[str] = []
    pos = 0
    while pos < len(text):
        m = _ARITH_TOKEN.match(text, pos)
        if m is None:
            if text[pos:].strip():
                raise ValueError("bad token")
            break
        toks.append(m.group(1))
        pos = m.end()
    i = 0
    n_ops = 0

    def atom():
        nonlocal i, n_ops
        if i >= len(toks):
            raise ValueError("truncated expression")
        t = toks[i]
        if t == "(":
            i += 1
            c = expr()
            if i >= len(toks) or toks[i] != ")":
                raise ValueError("unbalanced parens")
            i += 1
            return c
        if t == "-":
            i += 1
            n_ops += 1
            return -atom()
        i += 1
        if re.fullmatch(r"\d+\.\d+", t):
            return F.lit(float(t))
        if re.fullmatch(r"\d+", t):
            return F.lit(float(int(t)))
        return resolve_atom(t)

    def term():
        nonlocal i, n_ops
        c = atom()
        while i < len(toks) and toks[i] in "*/":
            op = toks[i]
            i += 1
            n_ops += 1
            rhs = atom()
            c = c * rhs if op == "*" else c / rhs
        return c

    def expr():
        nonlocal i, n_ops
        c = term()
        while i < len(toks) and toks[i] in "+-":
            op = toks[i]
            i += 1
            n_ops += 1
            rhs = term()
            c = c + rhs if op == "+" else c - rhs
        return c

    out = expr()
    if i != len(toks):
        raise ValueError("trailing tokens")
    return out, n_ops


def _mask_quotes(s: str) -> str:
    """Same-length copy with quoted-span CONTENTS replaced by 'x', so
    keyword scans (clause split, AND split) can't match inside string
    literals (ADVICE r02: MATCH ... WHERE m.title = 'The Return' parsed
    RETURN out of the literal). Positions map 1:1 back to the original.
    A backslash inside a quoted span escapes the next character (ADVICE
    r03: 'O\\'Brien' must not close the quote early), so the masked copy
    keeps the whole literal opaque; the condition compilers unescape the
    literal (`_unquote`) when extracting the compared value."""
    out, quote, escape = [], None, False
    for ch in s:
        if quote is not None:
            if escape:
                out.append("x")
                escape = False
            elif ch == "\\":
                out.append("x")
                escape = True
            elif ch == quote:
                quote = None
                out.append(ch)
            else:
                out.append("x")
        elif ch in "'\"":
            quote = ch
            out.append(ch)
        else:
            out.append(ch)
    return "".join(out)


def _split_keyword(s: str, pattern: str) -> list[str]:
    """Split `s` on a keyword regex, ignoring matches inside quotes."""
    masked = _mask_quotes(s)
    parts, last = [], 0
    for m in re.finditer(pattern, masked, flags=re.IGNORECASE):
        parts.append(s[last: m.start()])
        last = m.end()
    parts.append(s[last:])
    return parts


def _split_keyword_toplevel(s: str, pattern: str) -> list[str]:
    """Split `s` on a keyword regex, ignoring matches inside quotes OR
    inside parentheses — the boolean-group split (`(a OR b) AND c` must
    not split on the inner OR; function parens like toLower(x.y) are
    harmless because AND/OR never occur inside them)."""
    masked = _mask_quotes(s)
    depths, depth = [], 0
    for ch in masked:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        depths.append(depth)
    parts, last = [], 0
    for m in re.finditer(pattern, masked, flags=re.IGNORECASE):
        if depths[m.start()] == 0:
            parts.append(s[last: m.start()])
            last = m.end()
    parts.append(s[last:])
    return parts


def _outer_group(s: str) -> str | None:
    """If `s` is one parenthesized group `( ... )` (the opening paren's
    match is the final character), return the inner text, else None."""
    t = s.strip()
    if not t.startswith("("):
        return None
    masked = _mask_quotes(t)
    depth = 0
    for i, ch in enumerate(masked):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return t[1:i] if i == len(t) - 1 else None
    return None


class CypherUnsupported(ValueError):
    """Query uses syntax outside the executed subset."""


def _split_clauses(cypher: str) -> list[tuple[str, str]]:
    """Ordered (KEYWORD, body) list — order matters because a WHERE binds
    to the clause it follows (MATCH vs OPTIONAL MATCH vs WITH)."""
    text = cypher.strip().rstrip(";")
    parts = []
    last = 0
    masked = _mask_quotes(text)
    for m in _CLAUSE.finditer(masked):
        kw = re.sub(r"\s+", "_", m.group(0).upper())
        # the WITH in `STARTS WITH` / `ENDS WITH` is an operator, not a clause
        if kw == "WITH" and re.search(
            r"\b(?:STARTS|ENDS)\s+$", masked[: m.start()], re.IGNORECASE
        ):
            continue
        parts.append((text[last:m.start()], None))
        parts.append((kw, "kw"))
        last = m.end()
    parts.append((text[last:], None))
    segs: list[tuple[str, str]] = []
    for chunk, kind in parts:
        if kind == "kw":
            segs.append((chunk, ""))
        elif segs and chunk.strip():
            kw, body = segs[-1]
            segs[-1] = (kw, (body + " " + chunk.strip()).strip())
    return segs


def _parse_pattern(pattern: str, var_gen, max_hops: int = MAX_VAR_HOPS):
    """One comma-free pattern -> (node specs, leg list).

    node spec: var -> (label|None, inline props dict)
    leg: (src_var, rel_label|None, dst_var, hops, rel_var) — hops is None
    for a plain single-hop leg, else the (min, max) of a `*m..n`
    quantifier; rel_var is the bound relationship variable or None.
    """
    nodes: list[tuple] = []
    legs: list[tuple] = []
    pos = 0
    nm = _NODE.match(pattern, pos)
    if nm is None:
        raise CypherUnsupported(f"expected node pattern at: {pattern[pos:]!r}")

    def node_of(m):
        var = m.group(1) or next(var_gen)
        label = m.group(2)
        props = {}
        if m.group(3):
            for pm in re.finditer(
                r"(\w+)\s*:\s*('(?:[^']*)'|\"[^\"]*\"|-?\d+(?:\.\d+)?)",
                m.group(3),
            ):
                props[pm.group(1)] = pm.group(2).strip("'\"")
        return var, label, props

    prev = node_of(nm)
    nodes.append(prev)
    pos = nm.end()
    while pos < len(pattern):
        em = _EDGE.match(pattern, pos)
        if em is None:
            if pattern[pos:].strip():
                raise CypherUnsupported(
                    f"expected edge at: {pattern[pos:]!r}"
                )
            break
        left, rel_var, rel_label, quant, qmin, qdots, qmax, right = em.groups()
        pos = em.end()
        nm = _NODE.match(pattern, pos)
        if nm is None:
            raise CypherUnsupported(f"expected node at: {pattern[pos:]!r}")
        cur = node_of(nm)
        nodes.append(cur)
        pos = nm.end()
        hops = None
        if quant is not None:
            lo = int(qmin) if qmin else 1
            if qdots:  # *m..n / *..n / *m.. / *..
                hi = int(qmax) if qmax else max_hops
            else:  # * / *m  (bare *m is exactly-m in Cypher)
                hi = int(qmin) if qmin else max_hops
            if lo < 1 or hi < lo:
                raise CypherUnsupported(f"bad quantifier in {pattern!r}")
            hops = (lo, hi)
        if left == "-" and right == "->":
            legs.append((prev[0], rel_label, cur[0], hops, rel_var, False))
        elif left == "<-" and right == "-":
            legs.append((cur[0], rel_label, prev[0], hops, rel_var, False))
        elif left == "-" and right == "-":
            # undirected: matches the relationship in either orientation
            # (ref prompt surface: "omit it for either direction")
            legs.append((prev[0], rel_label, cur[0], hops, rel_var, True))
        else:
            raise CypherUnsupported("<-[...]-> legs are not valid Cypher")
        prev = cur
    return nodes, legs


def _split_top_commas(s: str) -> list[str]:
    """Split on commas outside (), [], {} and quotes."""
    out, depth, last, quote, escape = [], 0, 0, None, False
    for i, ch in enumerate(s):
        if quote:
            if escape:
                escape = False
            elif ch == "\\":
                escape = True
            elif ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[last:i])
            last = i + 1
    out.append(s[last:])
    return [p.strip() for p in out if p.strip()]


_OPS = {
    "=": lambda col, val: col == val,
    "<>": lambda col, val: col != val,
    "<": lambda col, val: col < val,
    "<=": lambda col, val: col <= val,
    ">": lambda col, val: col > val,
    ">=": lambda col, val: col >= val,
    "CONTAINS": lambda col, val: col.contains(val),
    "STARTS WITH": lambda col, val: col.startswith(val),
    "ENDS WITH": lambda col, val: col.endswith(val),
}

_PLAIN_COND = re.compile(
    r"(\w+)\s*(=|<>|<=|>=|<|>)"
    r"\s*('(?:[^']*)'|\"(?:[^\"]*)\"|-?\d+(?:\.\d+)?)"
)


def run_cypher(
    cypher: str,
    nodes: DataFrame,
    edges: DataFrame,
    max_hops: int = MAX_VAR_HOPS,
) -> DataFrame:
    """Execute a read-only Cypher query against the graph tables."""
    # ---- UNION [ALL]: independent sub-queries, combined rows ----------
    # openCypher: each side is a full query (its own MATCH..RETURN and
    # per-side ORDER BY/LIMIT); sides must return the SAME column names;
    # UNION dedups across sides, UNION ALL keeps multiplicity; mixing
    # the two in one query is invalid. Compiled as recursive run_cypher
    # per side + unionByName (+ dropDuplicates for plain UNION).
    text = cypher.strip().rstrip(";")
    union_marks = list(_UNION_RE.finditer(_mask_quotes(text)))
    if union_marks:
        alls = {bool(m.group(1)) for m in union_marks}
        if len(alls) > 1:
            raise CypherUnsupported(
                "mixing UNION and UNION ALL in one query is invalid Cypher"
            )
        parts, last = [], 0
        for m in union_marks:
            parts.append(text[last : m.start()])
            last = m.end()
        parts.append(text[last:])
        out = run_cypher(parts[0], nodes, edges, max_hops)
        for part in parts[1:]:
            nxt = run_cypher(part, nodes, edges, max_hops)
            if set(nxt.columns) != set(out.columns):
                raise CypherUnsupported(
                    "UNION sides must return the same column names"
                )
            out = out.unionByName(nxt)
        return out if alls.pop() else out.dropDuplicates()
    # ---- standalone CALL db.* introspection procedures ----------------
    # FalkorDB's schema-discovery surface (db.labels /
    # db.relationshipTypes / db.propertyKeys — the procedures its GRAPH
    # .QUERY clients call before generating queries). Each compiles to a
    # distributed DISTINCT over the graph tables (propertyKeys explodes
    # the props maps of BOTH tables); optional YIELD must name the
    # procedure's canonical column, optional RETURN may alias it, and
    # ORDER BY / SKIP / LIMIT apply as usual.
    dbm = _DB_PROC.match(text)
    if dbm is not None:
        proc, yld, ret, alias, ob, desc, skip_n, lim_n = dbm.groups()
        proc = {
            "labels": "labels",
            "relationshiptypes": "relationshipTypes",
            "propertykeys": "propertyKeys",
        }[proc.lower()]
        canon = {
            "labels": "label",
            "relationshipTypes": "relationshipType",
            "propertyKeys": "propertyKey",
        }[proc]
        if yld is not None and yld != canon:
            raise CypherUnsupported(
                f"db.{proc}() yields {canon!r}, got {yld!r}"
            )
        if proc == "labels":
            out = nodes.select(F.col("label").alias(canon)).distinct()
        elif proc == "relationshipTypes":
            out = edges.select(F.col("label").alias(canon)).distinct()
        else:
            out = (
                nodes.select(
                    F.explode(F.map_keys(F.col("props"))).alias(canon)
                )
                .unionByName(
                    edges.select(
                        F.explode(F.map_keys(F.col("props"))).alias(canon)
                    )
                )
                .distinct()
            )
        name = canon
        if ret is not None:
            if ret != canon:
                raise CypherUnsupported(
                    f"RETURN after CALL db.{proc}() YIELD must project "
                    f"{canon!r}, got {ret!r}"
                )
            if alias is not None:
                out = out.withColumnRenamed(canon, alias)
                name = alias
        if ob is not None:
            if ob not in (canon, name):
                raise CypherUnsupported(
                    f"ORDER BY after CALL db.{proc}() must use the "
                    f"yielded column, got {ob!r}"
                )
            col = F.col(name)
            out = out.orderBy(col.desc() if desc else col.asc())
        if skip_n is not None:
            out = out.offset(int(skip_n))
        if lim_n is not None:
            out = out.limit(int(lim_n))
        return out
    # ---- ordered clause scan: WHERE binds to the clause it follows ----
    # The query is a PIPELINE of segments separated by WITH boundaries:
    # each segment holds its MATCH/WHERE/OPTIONAL-MATCH clauses and ends
    # at its WITH (the final segment has none and flows into RETURN).
    # `MATCH … WITH … MATCH … WITH … RETURN` is any number of stages
    # (VERDICT r03: "aggregate then expand", chained).
    def _fresh_seg() -> dict:
        return {
            "matches": [], "wheres": [], "optionals": [], "calls": [],
            "with": None, "with_wheres": [],
            "with_order": [], "with_skip": None, "with_limit": None,
        }

    segments: list[dict] = [_fresh_seg()]
    ret_parts: list[str] = []
    order_texts: list[str] = []
    limit_text: str | None = None
    skip_text: str | None = None
    ctx = None
    for kw, body in _split_clauses(cypher):
        seg = segments[-1]
        if ctx == "return" and kw not in ("ORDER_BY", "LIMIT", "SKIP"):
            # only ORDER BY / SKIP / LIMIT may follow RETURN — silently
            # folding a trailing MATCH/WITH into the pipeline would
            # execute a DIFFERENT query than the (malformed) input
            raise CypherUnsupported(
                f"{kw.replace('_', ' ')} after RETURN is not valid Cypher"
            )
        if kw == "MATCH":
            if seg["with"] is not None:
                segments.append(_fresh_seg())
                seg = segments[-1]
            if seg["optionals"]:
                raise CypherUnsupported(
                    "MATCH after OPTIONAL MATCH is out of subset"
                )
            seg["matches"].append(body)
            ctx = "match"
        elif kw == "OPTIONAL_MATCH":
            if seg["with"] is not None:
                # "top-k then optionally expand": the optional group
                # left-joins onto the carried relation of a later stage
                segments.append(_fresh_seg())
                seg = segments[-1]
            seg["optionals"].append((body, []))
            ctx = "optional"
        elif kw == "UNWIND":
            # UNWIND of a LITERAL list ("movies of X and Y" batch
            # lookups): one row per element, the alias becomes a plain
            # column usable in WHERE (n.prop = x), RETURN, aggregates,
            # and WITH. After a WITH boundary it opens the next stage
            # ("top-k then per-item expansion"), cross-joining its
            # values onto the carried relation; like any non-carried
            # column, the alias survives a LATER boundary only if that
            # WITH lists it. UNWIND of an expression is out of subset.
            if seg["with"] is not None:
                segments.append(_fresh_seg())
                seg = segments[-1]
            if seg["optionals"]:
                raise CypherUnsupported(
                    "UNWIND after OPTIONAL MATCH is out of subset"
                )
            um = _UNWIND_BODY.fullmatch(body.strip())
            if um is None:
                rm = _UNWIND_RANGE.fullmatch(body.strip())
                if rm is None:
                    raise CypherUnsupported(
                        "only UNWIND [literal, ...] AS x / "
                        "UNWIND range(a, b[, step]) AS x is executed"
                    )
                # openCypher range(): END-INCLUSIVE, optional step;
                # expanded here to the literal list the shared
                # apply_unwinds path already executes
                lo, hi, step_s, uvar = rm.groups()
                step = int(step_s) if step_s is not None else 1
                if step == 0:
                    raise CypherUnsupported("range() step must not be 0")
                vals = list(range(int(lo), int(hi) + (1 if step > 0 else -1), step))
                seg.setdefault("unwinds", []).append(
                    (", ".join(str(v) for v in vals), uvar)
                )
                ctx = "unwind"
                continue
            seg.setdefault("unwinds", []).append(um.groups())
            ctx = "unwind"
        elif kw == "CALL":
            # CALL algo.SPpaths / algo.SSpaths — the reference prompt's
            # minimal-weight-path procedures (ref fixtures/prompts.py:
            # 394-398). Joins a (source[, target], pathWeight) relation
            # onto the stage's plan, so it composes with WITH pipelines
            # like any other clause.
            if seg["with"] is not None:
                segments.append(_fresh_seg())
                seg = segments[-1]
            if seg["optionals"]:
                # a CALL textually after an OPTIONAL MATCH could name an
                # optional (NULLable) var as sourceNode — the inner join
                # would silently drop the unmatched rows the user asked
                # OPTIONAL to keep
                raise CypherUnsupported(
                    "CALL after OPTIONAL MATCH is out of subset"
                )
            seg["calls"].append((body, []))
            ctx = "call"
        elif kw == "WHERE":
            if ctx == "match":
                seg["wheres"].append(body)
            elif ctx == "optional":
                seg["optionals"][-1][1].append(body)
            elif ctx == "call":
                seg["calls"][-1][1].append(body)
            elif ctx == "with":
                seg["with_wheres"].append(body)
            else:
                raise CypherUnsupported(
                    "WHERE must follow MATCH, OPTIONAL MATCH, CALL or WITH"
                )
        elif kw == "WITH":
            if seg["with"] is not None:
                # chained WITH with no MATCH between: a projection-only
                # segment
                segments.append(_fresh_seg())
                seg = segments[-1]
            seg["with"] = body
            ctx = "with"
        elif kw == "RETURN":
            ret_parts.append(body)
            ctx = "return"
        elif kw == "ORDER_BY":
            # ORDER BY binds to the clause it follows: at a WITH boundary
            # it orders the INTERMEDIATE relation (observable only through
            # SKIP/LIMIT — the top-k-then-expand shape); after RETURN it
            # orders the result. Anywhere else it is invalid Cypher —
            # binding it globally would silently reorder/limit the WRONG
            # relation.
            if ctx == "with":
                seg["with_order"].append(body)
            elif ctx == "return":
                order_texts.append(body)
            else:
                raise CypherUnsupported("ORDER BY must follow WITH or RETURN")
        elif kw == "LIMIT":
            if ctx == "with":
                seg["with_limit"] = body
            elif ctx == "return":
                limit_text = body
            else:
                raise CypherUnsupported("LIMIT must follow WITH or RETURN")
        elif kw == "SKIP":
            if ctx == "with":
                seg["with_skip"] = body
            elif ctx == "return":
                skip_text = body
            else:
                raise CypherUnsupported("SKIP must follow WITH or RETURN")
    if not segments[0]["matches"] or not ret_parts:
        raise CypherUnsupported("only MATCH ... RETURN queries are executed")

    counter = iter(range(10_000))
    var_gen = (f"_anon{i}" for i in counter)

    var_specs: dict[str, tuple] = {}
    rel_vars: set[str] = set()  # bound relationship variables
    path_vars: dict[str, tuple] = {}  # path var -> its bound leg
    # path var -> 'min' (shortestPath: one row per pair, exact) or 'walk'
    # (named plain path: one row per (pair, length) — path multiplicity is
    # collapsed, so projections must be multiplicity-safe, checked below)
    path_modes: dict[str, str] = {}
    # path vars whose openCypher row multiplicity (one row per PATH) is
    # not reproduced: allShortestPaths and named walk paths
    multi_path_vars: set[str] = set()
    # rel vars bound on variable-length legs (implicit walk bindings;
    # observable only via size()/length() = hop count)
    walk_rel_vars: set[str] = set()
    # single-hop rel var -> (src var, dst var, undirected), recorded by
    # leg_df for startNode()/endNode()
    rel_endpoints: dict[str, tuple[str, str, bool]] = {}

    def parse_patterns(text: str, allow_shortest: bool = True):
        """-> (vars per comma-pattern, legs as 6-tuples
        (src, rel_label, dst, hops, rel_var, path_var))."""
        groups: list[list[str]] = []
        legs: list[tuple] = []
        for pat in _split_top_commas(text):
            path_var = None
            mode = None
            sm = _SHORTEST.match(pat)
            if sm is not None:
                if not allow_shortest:
                    raise CypherUnsupported(
                        "shortestPath is only allowed in a plain MATCH "
                        "(not OPTIONAL MATCH / MATCH after WITH)"
                    )
                path_var, pat = sm.group(1), sm.group(3)
                mode = "min"
                if sm.group(2):  # allShortestPaths
                    multi_path_vars.add(path_var)
            else:
                npm = _NAMED_PATH.match(pat.strip())
                if npm is not None:
                    if not allow_shortest:
                        raise CypherUnsupported(
                            "named paths are only allowed in a plain MATCH "
                            "(not OPTIONAL MATCH / MATCH after WITH)"
                        )
                    path_var, pat = npm.group(1), npm.group(2)
                    mode = "walk"
                    multi_path_vars.add(path_var)
            pnodes, plegs = _parse_pattern(pat, var_gen, max_hops)
            if path_var is not None:
                if len(plegs) != 1:
                    raise CypherUnsupported(
                        "a path variable takes exactly one leg"
                    )
                if plegs[0][3] is None:
                    # a named path over a plain single-hop leg is the
                    # *1..1 special case (length(p) is constant 1)
                    s_, r_, d_, _h, rv_, und_ = plegs[0]
                    if rv_ is not None:
                        raise CypherUnsupported(
                            "bind either the path or the relationship, "
                            "not both"
                        )
                    plegs[0] = (s_, r_, d_, (1, 1), None, und_)
                if mode == "min" and plegs[0][3][0] > 1:
                    # Neo4j itself restricts shortestPath minHops to 0/1;
                    # filtering settled minima by lo would silently DROP
                    # pairs whose min distance is < lo (ADVICE r03)
                    raise CypherUnsupported(
                        "shortestPath with minHops > 1 is out of subset"
                    )
                path_vars[path_var] = plegs[0]
                path_modes[path_var] = mode
            group = []
            for var, label, props in pnodes:
                if var in rel_vars:
                    raise CypherUnsupported(
                        f"{var!r} is already bound as a relationship"
                    )
                if var in var_specs:
                    old_label, old_props = var_specs[var]
                    label = label or old_label
                    props = {**old_props, **props}
                var_specs[var] = (label, props)
                group.append(var)
            for src, rel, dst, hops, rel_var, undirected in plegs:
                if rel_var is not None:
                    if hops is not None:
                        # -[r:R*m..n]-> binds a relationship LIST in
                        # openCypher; the executed subset exposes it as
                        # an implicit WALK binding — one row per (pair,
                        # hop count), observable ONLY via size(r) /
                        # length(r) (the hop count). Anything touching
                        # the list's elements (r.prop, type(r), RETURN
                        # r) raises; multiplicity-sensitive projections
                        # are guarded like named walk paths.
                        if path_var is not None:
                            raise CypherUnsupported(
                                "bind either the path or the "
                                "relationship, not both"
                            )
                        if not allow_shortest:
                            raise CypherUnsupported(
                                "a relationship variable on a "
                                "variable-length leg is only allowed in "
                                "a plain MATCH (not OPTIONAL MATCH / "
                                "MATCH after WITH)"
                            )
                        if (
                            rel_var in var_specs
                            or rel_var in rel_vars
                            or rel_var in path_vars
                        ):
                            raise CypherUnsupported(
                                f"duplicate variable {rel_var!r}"
                            )
                        path_vars[rel_var] = (
                            src, rel, dst, hops, None, undirected
                        )
                        path_modes[rel_var] = "walk"
                        multi_path_vars.add(rel_var)
                        walk_rel_vars.add(rel_var)
                        legs.append(
                            (src, rel, dst, hops, None, rel_var, undirected)
                        )
                        continue
                    if rel_var in var_specs or rel_var in rel_vars:
                        raise CypherUnsupported(
                            f"duplicate variable {rel_var!r}"
                        )
                    rel_vars.add(rel_var)
                legs.append((src, rel, dst, hops, rel_var, path_var, undirected))
            groups.append(group)
        return groups, legs

    pattern_groups: list[list[str]] = []
    all_legs: list[tuple] = []
    for match_text in segments[0]["matches"]:
        groups, legs = parse_patterns(match_text)
        pattern_groups.extend(groups)
        all_legs.extend(legs)

    # one-partition plans over local inputs (see the module docstring)
    local = (
        nodes is not None and edges is not None
        and nodes.isLocal() and edges.isLocal()
    )

    def join(left: DataFrame, right: DataFrame, on, how: str = "inner"
             ) -> DataFrame:
        if local:
            left = left.coalesce(1)
            right = right.coalesce(1).hint("shuffle_hash")
        return left.join(right, on=on, how=how)

    def node_df(var: str) -> DataFrame:
        label, props = var_specs[var]
        df = nodes
        if label is not None:
            df = df.filter(F.col("label") == label)
        for k, v in props.items():
            df = df.filter(F.col("props")[k] == v)
        return df.select(
            F.col("node_id").alias(f"{var}__id"),
            F.col("key").alias(f"{var}__key"),
            F.col("props").alias(f"{var}__props"),
        )

    # assemble: start with the first variable, fold in legs whose source or
    # target is already bound, then cross-join disjoint pattern groups
    bound: set[str] = set()
    plan: DataFrame | None = None

    def _rel_edges(rel) -> DataFrame:
        e = edges
        if rel is not None:
            e = e.filter(_label_pred(rel))
        return e.select("src_id", "dst_id")

    def _seeded(e: DataFrame, src: str) -> DataFrame:
        """Prune the expansion's origin set by the src var's node filter
        (label / inline props) — the pushdown that keeps a bounded
        traversal from exploring the whole graph when the query anchors
        it ('from this Customer, 2 hops out')."""
        label, props = var_specs[src]
        if label is None and not props:
            return e
        seed = node_df(src).select(F.col(f"{src}__id").alias("src_id"))
        return e.join(seed, on="src_id", how="left_semi")

    def _var_pairs(leg) -> DataFrame:
        """(src__id, dst__id) pairs connected by a walk of length in
        [lo, hi]; plus <path>__len for path-bound legs — the min hop count
        for shortestPath legs, or one row per (pair, walk length) for
        named plain paths (`p = (a)-[:R*1..3]->(b)`).
        Level-wise frontier joins, deduped + localCheckpoint per level,
        early exit when the frontier drains (graph_query.bfs_distances
        iterative hygiene)."""
        src, rel, dst, (lo, hi), _rel_var, path_var, undirected = leg
        e = _rel_edges(rel)
        if undirected:
            e = e.unionByName(
                e.select(
                    F.col("dst_id").alias("src_id"),
                    F.col("src_id").alias("dst_id"),
                )
            )
        e = e.dropDuplicates()
        track_min = path_var is not None and path_modes[path_var] == "min"
        track_walk = path_var is not None and not track_min
        # origin pruning applies to the FIRST frontier only — later hops
        # pass through nodes of any label
        frontier = _seeded(e, src).select(
            "src_id", "dst_id", F.lit(1).cast("long").alias("_d")
        ).localCheckpoint()
        result = frontier if (track_min or lo <= 1) else None
        for depth in range(2, hi + 1):
            step = (
                frontier.select("src_id", F.col("dst_id").alias("_mid"), "_d")
                .join(
                    e.select(
                        F.col("src_id").alias("_mid"),
                        F.col("dst_id").alias("dst_id"),
                    ),
                    on="_mid",
                )
                .select("src_id", "dst_id", (F.col("_d") + 1).alias("_d"))
                .dropDuplicates(["src_id", "dst_id"])
            )
            if track_min:
                # min-dist BFS: never revisit a settled pair
                step = step.join(
                    result.select("src_id", "dst_id"),
                    on=["src_id", "dst_id"],
                    how="left_anti",
                )
            step = step.localCheckpoint()
            if step.isEmpty():
                break
            frontier = step
            if track_min or depth >= lo:
                result = step if result is None else result.unionByName(step)
        if result is None:
            result = frontier.limit(0)
        if track_min or track_walk:
            out = result.filter(F.col("_d") >= lo).select(
                F.col("src_id").alias(f"{src}__id"),
                F.col("dst_id").alias(f"{dst}__id"),
                F.col("_d").alias(f"{path_var}__len"),
            )
        else:
            out = result.filter(F.col("_d") >= lo).select(
                F.col("src_id").alias(f"{src}__id"),
                F.col("dst_id").alias(f"{dst}__id"),
            ).dropDuplicates()
        return out

    def leg_df(
        leg, resolve: frozenset[str] | set[str] = frozenset()
    ) -> DataFrame:
        """The leg's edge relation as (src__id, dst__id[, rel columns]).
        Each endpoint var in `resolve` also gets its `__key` and label
        check from the edge row's endpoint columns (see `resolvable`)."""
        src, rel, dst, hops, rel_var, path_var, undirected = leg
        if src == dst:
            raise CypherUnsupported("self-loop legs are not supported")
        if hops is not None:
            return _var_pairs(leg)
        e = edges
        if rel is not None:
            e = e.filter(_label_pred(rel))
        if rel_var is not None:
            # endpoint vars per bound rel var, for startNode()/endNode()
            rel_endpoints[rel_var] = (src, dst, undirected)

        def oriented(src_end: str, dst_end: str) -> DataFrame:
            out = e
            cols = [
                F.col(f"{src_end}_id").alias(f"{src}__id"),
                F.col(f"{dst_end}_id").alias(f"{dst}__id"),
            ]
            for v, end in ((src, src_end), (dst, dst_end)):
                if v in resolve:
                    label = var_specs[v][0]
                    if label is not None:
                        out = out.filter(F.col(f"{end}_label") == label)
                    cols.append(F.col(f"{end}_key").alias(f"{v}__key"))
            if rel_var is not None:
                cols.append(F.col("props").alias(f"{rel_var}__props"))
                cols.append(F.col("label").alias(f"{rel_var}__type"))
            return out.select(*cols)

        fwd = oriented("src", "dst")
        if not undirected:
            return fwd
        # Cypher: an undirected leg matches the relationship once per
        # orientation that fits — the union of both orientations, one
        # scan each, no dedup (a stored (a->b) yields both (src=a,dst=b)
        # and (src=b,dst=a) bindings, as in openCypher)
        return fwd.unionByName(oriented("dst", "src"))

    def bind_leg(leg, plan: DataFrame | None, bound: set[str],
                 resolvable: set[str]) -> DataFrame:
        """Join `leg` onto `plan` (None: the leg's edge scan starts the
        plan) on its bound endpoints, then bind its other endpoints:
        from the edge row when resolvable, else by joining node_df."""
        new = [v for v in (leg[0], leg[2]) if v not in bound]
        e = leg_df(leg, {v for v in new if v in resolvable})
        if plan is None:
            plan = e
        else:
            plan = join(
                plan, e,
                on=[f"{v}__id" for v in (leg[0], leg[2]) if v in bound],
            )
        for v in new:
            bound.add(v)
            if v not in resolvable:
                plan = join(plan, node_df(v), on=f"{v}__id")
        return plan

    def assemble(plan: DataFrame, bound: set[str],
                 groups: list[list[str]], legs: list[tuple],
                 resolvable: set[str] = frozenset()) -> DataFrame:
        """Fold legs into the plan: equi-join each leg whose endpoint is
        already bound (binding its newly-bound endpoints, see bind_leg),
        cross-join genuinely disjoint pattern groups (Cypher's cartesian
        semantics), then attach any legs whose endpoints only became
        bound via the cross joins."""
        pending = list(enumerate(legs))
        progress = True
        while pending and progress:
            progress = False
            for item in list(pending):
                idx, leg = item
                src, dst = leg[0], leg[2]
                if src in bound or dst in bound:
                    plan = bind_leg(leg, plan, bound, resolvable)
                    pending.remove(item)
                    progress = True
        # disjoint groups (no shared vars / no connecting leg): cartesian
        for group in groups:
            for var in group:
                if var not in bound:
                    plan = plan.crossJoin(node_df(var))
                    bound.add(var)
        if pending:
            # legs between vars that only became bound via cross join
            for idx, leg in pending:
                src, dst = leg[0], leg[2]
                e = leg_df(leg)
                plan = join(plan, e, on=[f"{src}__id", f"{dst}__id"])
        return plan

    # Node vars resolvable from the edge row. Every writer of the KG edge
    # table keeps referential integrity (build_edges inner-joins both
    # endpoints, add_edges keeps only the edges whose endpoints exist,
    # rematerialize reruns the build), so an edge row's src_label/src_key
    # and dst_label/dst_key are its endpoint nodes' label and key. A var
    # whose properties the query never reads can take its __id, __key
    # and label check from there instead of a join with the nodes table.
    # Any doubt keeps the join: a var named with a property access, in
    # properties()/keys(), with inline props, in a WITH or an OPTIONAL
    # MATCH, or on a variable-length leg; and frames without the
    # endpoint columns.
    resolvable: set[str] = set()
    if edges is not None and {
        "src_label", "src_key", "dst_label", "dst_key"
    } <= set(edges.columns):
        masked_q = _mask_quotes(text)
        scoped = " ".join(
            [seg["with"] or "" for seg in segments]
            + [o for seg in segments for o, _ in seg["optionals"]]
        )
        var_length = {
            v for leg in all_legs if leg[3] is not None
            for v in (leg[0], leg[2])
        }
        for v, (_label, props) in var_specs.items():
            name = re.escape(v)
            if not (
                props
                or v in var_length
                or re.search(rf"(?<![\w.]){name}\s*\.\s*\w", masked_q)
                or re.search(
                    rf"\b(?:properties|keys)\s*\(\s*{name}\s*\)",
                    masked_q, re.IGNORECASE,
                )
                or re.search(rf"\b{name}\b", scoped)
            ):
                resolvable.add(v)

    def anchored(v: str) -> bool:
        """`v` is pinned by an equality: inline props, or a top-level
        `v.prop = literal` conjunct of a first-stage WHERE."""
        if var_specs[v][1]:
            return True
        for wt in segments[0]["wheres"]:
            if len(_split_keyword_toplevel(wt, r"\bOR\b")) > 1:
                continue
            for conj in _split_keyword_toplevel(wt, r"\bAND\b"):
                cm = _COND.fullmatch(conj.strip())
                if cm is not None and cm.group(1) == v and cm.group(3) == "=":
                    return True
        return False

    # seed with the first pattern's first variable; a resolvable one with
    # a single-hop leg starts from that leg's edge scan instead
    first_var = pattern_groups[0][0]
    seed = next(
        (i for i, leg in enumerate(all_legs)
         if leg[3] is None and first_var in (leg[0], leg[2])),
        None,
    ) if first_var in resolvable else None
    legs = list(all_legs)
    if seed is None:
        plan = node_df(first_var)
        bound.add(first_var)
    else:
        plan = bind_leg(legs.pop(seed), None, bound, resolvable)
    plan = assemble(plan, bound, pattern_groups, legs, resolvable)

    # ---- UNWIND literal lists: one row per element ---------------------
    # The values relation is tiny and local; the cross join is the
    # openCypher row semantics, and a following WHERE n.prop = x turns
    # it into an equi-join at optimization time (Catalyst rewrites
    # Filter-over-CrossJoin into a join condition).
    unwind_cols: dict[str, str] = {}  # alias -> 'string' | 'double'

    def apply_unwinds(plan: DataFrame, unwinds: list) -> DataFrame:
        for body_items, uvar in unwinds:
            if uvar in var_specs or uvar in rel_vars or uvar in unwind_cols:
                raise CypherUnsupported(f"duplicate variable {uvar!r}")
            strs, nums = [], []
            for item in _split_keyword(body_items, ","):
                item = item.strip()
                if not item:
                    continue
                if item[0] in "'\"" and item[-1:] == item[0]:
                    strs.append(_unquote(item))
                elif re.fullmatch(r"-?\d+(?:\.\d+)?", item):
                    nums.append(float(item))
                else:
                    raise CypherUnsupported(f"bad UNWIND list item {item!r}")
            if strs and nums:
                raise CypherUnsupported("mixed-type UNWIND list")
            vals = strs or nums
            if not vals:
                # UNWIND [] produces zero rows (openCypher)
                plan = plan.limit(0)
                unwind_cols[uvar] = "string"
                plan = plan.withColumn(uvar, F.lit(None).cast("string"))
                continue
            kind = "string" if strs else "double"
            vdf = local_frame(
                nodes.sparkSession, [(v,) for v in vals], f"{uvar} {kind}"
            )
            plan = plan.crossJoin(F.broadcast(vdf))
            unwind_cols[uvar] = kind
        return plan

    plan = apply_unwinds(plan, segments[0].get("unwinds", []))

    # ---- WHERE (var.prop namespace) -----------------------------------
    def prop_col(var: str, prop: str) -> Column:
        if var not in var_specs and var not in rel_vars:
            raise CypherUnsupported(f"unknown variable {var!r}")
        return F.col(f"{var}__props")[prop]

    def bound_prop_col(var: str, prop: str, known: set[str]) -> Column:
        if var not in known:
            raise CypherUnsupported(
                f"variable {var!r} is not bound in this clause"
            )
        return prop_col(var, prop)

    def compile_cond(cond_text: str, known: set[str]) -> Column:
        nm = _NULL_COND.fullmatch(cond_text)
        if nm is not None:
            var, prop, neg = nm.groups()
            col = bound_prop_col(var, prop, known)
            return col.isNotNull() if neg else col.isNull()
        im = _IN_COND.fullmatch(cond_text)
        if im is not None:
            var, prop, body = im.groups()
            col = bound_prop_col(var, prop, known)
            strs, nums = [], []
            for item in _split_keyword(body, ","):
                item = item.strip()
                if not item:
                    continue
                if item[0] in "'\"" and item[-1:] == item[0]:
                    strs.append(_unquote(item))
                elif re.fullmatch(r"-?\d+(?:\.\d+)?", item):
                    nums.append(float(item))
                else:
                    raise CypherUnsupported(f"bad IN list item {item!r}")
            if strs and nums:
                raise CypherUnsupported("mixed-type IN list")
            if nums:
                return col.try_cast("double").isin(nums)
            if strs:
                return col.isin(strs)
            return F.lit(False)  # IN [] matches nothing (Cypher parity)
        rm = _REGEX_COND.fullmatch(cond_text)
        if rm is not None:
            var, prop, lit = rm.groups()
            col = bound_prop_col(var, prop, known)
            # Cypher =~ matches the WHOLE string (unlike rlike's search)
            return col.rlike(f"^(?:{lit[1:-1]})$")
        xm = _EXISTS_COND.fullmatch(cond_text)
        if xm is not None:
            # exists(n.prop) — deprecated openCypher but still ubiquitous
            # in generated queries; a missing props key is NULL
            var, prop = xm.groups()
            return bound_prop_col(var, prop, known).isNotNull()
        pp = _PROP_PROP.fullmatch(cond_text)
        if pp is not None:
            # property-to-property compare (a.x > b.y). Props store
            # strings: when BOTH sides parse as numbers the compare is
            # numeric, else string (mirrors the literal-compare rule
            # above; a NULL side yields NULL -> filtered, Cypher parity).
            v1, p1, op, v2, p2 = pp.groups()
            c1 = bound_prop_col(v1, p1, known)
            c2 = bound_prop_col(v2, p2, known)
            opf = _OPS[re.sub(r"\s+", " ", op.upper())]
            if op.upper() not in ("=", "<>", "<=", ">=", "<", ">"):
                return opf(c1, c2)  # CONTAINS / STARTS / ENDS: string-only
            n1, n2 = c1.try_cast("double"), c2.try_cast("double")
            return F.when(
                n1.isNotNull() & n2.isNotNull(), opf(n1, n2)
            ).otherwise(opf(c1, c2))
        pv = re.fullmatch(
            r"(\w+)\.(\w+)\s*(=|<>|<=|>=|<|>|CONTAINS|STARTS\s+WITH"
            r"|ENDS\s+WITH)\s*(\w+)",
            cond_text,
            re.IGNORECASE,
        )
        if pv is not None and pv.group(4) in unwind_cols:
            # property vs UNWIND alias: the compare that turns the
            # unwind cross join into an equi-join (batch lookup)
            var, prop, op, name = pv.groups()
            col = bound_prop_col(var, prop, known)
            if unwind_cols[name] == "double":
                col = col.try_cast("double")
            return _OPS[re.sub(r"\s+", " ", op.upper())](col, F.col(name))
        fm = _FUNC_COND.fullmatch(cond_text)
        if fm is not None:
            fn, var, prop, op, lit = fm.groups()
            col = bound_prop_col(var, prop, known)
            col = F.lower(col) if fn.lower() == "tolower" else F.upper(col)
            return _OPS[re.sub(r"\s+", " ", op.upper())](col, _unquote(lit))
        cm = _COND.fullmatch(cond_text)
        if cm is None:
            # ---- arithmetic comparison fallback (r5) ------------------
            # `l.price * l.qty > 100`, `a.x + 1 <= b.y / 2`: both sides
            # compile through the shared arithmetic grammar (atoms =
            # props try_cast double, UNWIND aliases, numeric literals);
            # at least one side must actually contain an operator, so
            # the simpler compilers above keep their exact error
            # messages. NULL operands compare NULL -> filtered.
            om = re.search(r"(<=|>=|<>|=|<|>)", cond_text)
            if om is not None:

                def _where_atom(t: str) -> Column:
                    if "." in t:
                        v, _, p = t.partition(".")
                        return bound_prop_col(v, p, known).try_cast(
                            "double"
                        )
                    if t in unwind_cols:
                        return F.col(t).try_cast("double")
                    raise ValueError(f"unknown atom {t!r}")

                try:
                    lc, lo = _arith_column(
                        cond_text[:om.start()], _where_atom
                    )
                    rc, ro = _arith_column(
                        cond_text[om.end():], _where_atom
                    )
                except ValueError:
                    pass
                else:
                    if lo + ro > 0:
                        return _OPS[om.group(1)](lc, rc)
            raise CypherUnsupported(f"unsupported condition {cond_text!r}")
        var, prop, op, lit = cm.groups()
        col = bound_prop_col(var, prop, known)
        if lit[0] in "'\"":
            val: Column | str = _unquote(lit)
        else:
            col = col.try_cast("double")
            val = F.lit(float(lit))
        return _OPS[re.sub(r"\s+", " ", op.upper())](col, val)

    def compile_bool(text: str, known: set[str]) -> Column | None:
        """Recursive-descent boolean grammar: OR of ANDs of primaries,
        where a primary is a condition or a parenthesized group
        `( ... )` (VERDICT r03 #2 — the reference's generated-Cypher
        surface places no nesting restriction). Cypher precedence: AND
        binds tighter than OR; parens override."""
        or_parts = _split_keyword_toplevel(text, r"\bOR\b")
        disjuncts: list[Column] = []
        for or_part in or_parts:
            conjs: list[Column] = []
            for c in _split_keyword_toplevel(or_part, r"\bAND\b"):
                c = c.strip()
                if not c:
                    if len(or_parts) > 1:
                        raise CypherUnsupported("dangling OR in WHERE")
                    continue
                # NOT binds tighter than AND (Cypher precedence); negation
                # of NULL stays NULL in both engines
                neg = False
                while re.match(r"NOT\b", c, re.IGNORECASE):
                    neg = not neg
                    c = c[3:].strip()
                inner = _outer_group(c)
                if inner is not None:
                    sub = compile_bool(inner, known)
                    if sub is None:
                        raise CypherUnsupported("empty boolean group ()")
                else:
                    sub = compile_cond(c, known)
                conjs.append(~sub if neg else sub)
            if not conjs:
                if len(or_parts) > 1:
                    raise CypherUnsupported("dangling OR in WHERE")
                continue
            expr = conjs[0]
            for c in conjs[1:]:
                expr = expr & c
            disjuncts.append(expr)
        if not disjuncts:
            return None
        expr = disjuncts[0]
        for d in disjuncts[1:]:
            expr = expr | d
        return expr

    def apply_conds(df: DataFrame, where_texts: list[str],
                    known: set[str]) -> DataFrame:
        # each WHERE becomes ONE Column expression / Catalyst Filter
        for where_text in where_texts:
            expr = compile_bool(where_text, known)
            if expr is not None:
                df = df.filter(expr)
        return df

    _PAT_GLYPH = re.compile(r"\)\s*(?:<-|-)\s*\[")

    def _apply_pattern_pred(
        df: DataFrame, pattern_text: str, neg: bool, known: set[str]
    ) -> DataFrame:
        """One `[NOT] (a)-[:R]->(b)` WHERE conjunct — openCypher's
        pattern predicate ("customers WITHOUT orders" is the canonical
        generated shape). Compiles to a left SEMI (existence) or ANTI
        (NOT) join of the bound plan against the pattern's edge
        relation: row multiplicity is preserved exactly as Cypher
        requires (a predicate never duplicates rows). Unbound endpoints
        may carry a label / inline props (`NOT (c)-[:PLACED]->
        (:Order {status: 'P'})`) — they filter the existence side, one
        semi join each. Single-hop legs only (a var-length pattern
        predicate would hide a traversal inside a WHERE)."""
        pnodes, plegs = _parse_pattern(pattern_text, var_gen, max_hops)
        if len(plegs) != 1:
            raise CypherUnsupported(
                "a WHERE pattern predicate takes exactly one "
                f"relationship: {pattern_text!r}"
            )
        src, rel, dst, hops, rel_var, undirected = plegs[0]
        if hops is not None:
            raise CypherUnsupported(
                "variable-length pattern predicates are out of subset"
            )
        if rel_var is not None:
            raise CypherUnsupported(
                "a pattern predicate cannot bind a relationship variable"
            )
        bound_eps = [v for v, _l, _p in pnodes if v in known]
        if not bound_eps:
            raise CypherUnsupported(
                "a pattern predicate must use at least one bound "
                f"variable: {pattern_text!r}"
            )
        sub = leg_df((src, rel, dst, None, None, None, undirected))
        for var, label, props in pnodes:
            if var in known or (label is None and not props):
                continue
            nd = nodes
            if label is not None:
                nd = nd.filter(F.col("label") == label)
            for k, v in props.items():
                nd = nd.filter(F.col("props")[k] == v)
            sub = join(
                sub, nd.select(F.col("node_id").alias(f"{var}__id")),
                on=f"{var}__id", how="left_semi",
            )
        keys = [f"{v}__id" for v in dict.fromkeys(bound_eps)]
        return join(
            df, sub.select(*keys), on=keys,
            how="left_anti" if neg else "left_semi",
        )

    def apply_where(df: DataFrame, where_texts: list[str],
                    known: set[str]) -> DataFrame:
        """Segment-level WHERE: pattern-predicate conjuncts become
        semi/anti joins, everything else stays ONE Column / Catalyst
        Filter per WHERE (compile_bool). Pattern predicates under a
        top-level OR would need an existence COLUMN rather than a join
        — out of subset, refused rather than mis-scoped."""
        for wt in where_texts:
            masked = _mask_quotes(wt)
            if not _PAT_GLYPH.search(masked):
                df = apply_conds(df, [wt], known)
                continue
            if len(_split_keyword_toplevel(wt, r"\bOR\b")) > 1:
                raise CypherUnsupported(
                    "pattern predicates inside OR are out of subset"
                )
            residual: list[str] = []
            for conj in _split_keyword_toplevel(wt, r"\bAND\b"):
                c = conj.strip()
                if not c:
                    continue
                nm = re.match(r"NOT\s+", c, re.IGNORECASE)
                probe = c[nm.end():].strip() if nm else c
                if probe.startswith("(") and _PAT_GLYPH.search(
                    _mask_quotes(probe)
                ):
                    df = _apply_pattern_pred(
                        df, probe, nm is not None, known
                    )
                else:
                    residual.append(c)
            if residual:
                df = apply_conds(df, [" AND ".join(residual)], known)
        return df

    bound_rels = {leg[4] for leg in all_legs if leg[4] is not None}
    plan = apply_where(plan, segments[0]["wheres"], bound | bound_rels)

    # ---- OPTIONAL MATCH: left-join each optional group ----------------
    def apply_optionals(
        plan: DataFrame, known_vars: set[str], optionals
    ) -> DataFrame:
        """Left-join each optional pattern group onto the bound plan.
        Shared variables (which may be WITH-carried vars in later stages)
        are the join keys; a WHERE directly after the OPTIONAL MATCH
        filters the optional side BEFORE the left join (Cypher match-time
        semantics). Mutates `known_vars` with the optional vars."""
        for opt_text, opt_wheres in optionals:
            known_before = set(known_vars)
            groups, legs = parse_patterns(opt_text, allow_shortest=False)
            if any(leg[3] is not None for leg in legs):
                raise CypherUnsupported(
                    "variable-length legs inside OPTIONAL MATCH are out "
                    "of subset"
                )
            opt_vars = {v for g in groups for v in g}
            opt_rels = {leg[4] for leg in legs if leg[4] is not None}
            shared = opt_vars & known_before
            if not shared:
                raise CypherUnsupported(
                    "OPTIONAL MATCH must share a variable with the bound "
                    "pattern"
                )
            sub_bound: set[str] = set()
            seed_var = sorted(shared)[0]
            sub = node_df(seed_var)
            sub_bound.add(seed_var)
            pend = list(enumerate(legs))
            progress = True
            while pend and progress:
                progress = False
                for item in list(pend):
                    _idx, leg = item
                    src, dst = leg[0], leg[2]
                    if src in sub_bound or dst in sub_bound:
                        e = leg_df(leg)
                        join_keys = [
                            f"{v}__id" for v in dict.fromkeys((src, dst))
                            if v in sub_bound
                        ]
                        sub = join(sub, e, on=join_keys)
                        for v in (src, dst):
                            if v not in sub_bound:
                                sub_bound.add(v)
                                sub = join(sub, node_df(v), on=f"{v}__id")
                        pend.remove(item)
                        progress = True
            if pend or sub_bound != opt_vars:
                raise CypherUnsupported(
                    "OPTIONAL MATCH pattern must be connected"
                )
            sub = apply_conds(sub, opt_wheres, opt_vars | opt_rels)
            sub = sub.drop(
                *[c for v in shared for c in (f"{v}__key", f"{v}__props")]
            )
            plan = join(
                plan, sub, on=[f"{v}__id" for v in sorted(shared)],
                how="left",
            )
            known_vars |= opt_vars
        return plan

    plan = apply_optionals(plan, bound, segments[0]["optionals"])

    # ---- projection compiler (shared by WITH and RETURN) --------------
    def compile_projection(
        df: DataFrame, text: str, columns_ns: set[str] | None,
        extra: frozenset[str] | set[str] = frozenset(),
    ) -> DataFrame:
        """`extra` names plain carried columns (WITH aggregates surviving
        a MATCH-after-WITH) usable bare or inside aggregates alongside
        node variables."""
        distinct = False
        if re.match(r"DISTINCT\b", text, re.IGNORECASE):
            distinct = True
            text = text[len("DISTINCT"):].strip()
        keys: list[tuple[str, Column]] = []
        aggs: list[tuple[str, Column]] = []
        # aggregates whose value depends on row MULTIPLICITY (count without
        # DISTINCT, sum, avg) — disallowed over multiplicity-collapsed
        # path rows (allShortestPaths / named walk paths), see below
        unsafe_aggs: list[str] = []
        def _proj_atom(t: str) -> Column:
            if "." in t:
                v, _, p = t.partition(".")
                return prop_col(v, p).try_cast("double")
            if t in extra:
                return F.col(t).try_cast("double")
            raise ValueError(f"unknown atom {t!r}")

        def _arith_item(item: str) -> bool:
            """`<arith> AS alias` / `aggfn(<arith>) AS alias` items at a
            WITH boundary (r5; RETURN's own prepass rewrites these to
            hidden columns before this loop ever sees them, so this
            fallback is live only for WITH texts). Compiled INLINE:
            bare arithmetic joins the grouping keys, agg-of-arith the
            aggregate list."""
            if columns_ns is not None:
                return False
            am = re.fullmatch(
                r"(.+?)\s+AS\s+(\w+)\s*", item, re.IGNORECASE | re.DOTALL
            )
            if am is None:
                return False
            body, alias = am.group(1).strip(), am.group(2)
            gm = re.fullmatch(
                r"(count|sum|avg|min|max|stDev)\s*\(([^()]*)\)",
                body,
                re.IGNORECASE,
            )
            if gm is not None and gm.group(1).lower() != "count":
                try:
                    col, n_ops = _arith_column(gm.group(2), _proj_atom)
                except ValueError:
                    return False
                if n_ops == 0:
                    return False
                fnl = gm.group(1).lower()
                if fnl == "stdev":
                    return False  # decimal-exact path needs a raw prop
                aggs.append((alias, _NUM_AGGS[fnl](col)))
                if fnl in ("sum", "avg"):
                    unsafe_aggs.append(item.strip())
                return True
            try:
                col, n_ops = _arith_column(body, _proj_atom)
            except ValueError:
                return False
            if n_ops == 0:
                return False
            keys.append((alias, col))
            return True

        for item in _split_top_commas(text):
            m = _RET_ITEM.fullmatch(item.strip())
            if m is None:
                if _arith_item(item):
                    continue
                raise CypherUnsupported(f"unsupported return item {item!r}")
            (cnt, cnt_distinct, cnt_arg, pct, pct_arg, pct_p, length_fn,
             length_arg, var, prop, alias) = m.groups()
            if pct:
                if not 0.0 <= float(pct_p) <= 1.0:
                    raise CypherUnsupported(
                        f"{pct} percentile must be in [0, 1], got {pct_p}"
                    )
                unsafe_aggs.append(item.strip())
                name = alias or f"{pct}_{pct_arg.replace('.', '_')}"
                v, _, p = pct_arg.partition(".")
                if columns_ns is not None:
                    if p or v not in columns_ns:
                        raise CypherUnsupported(
                            f"unknown column {pct_arg!r} after WITH"
                        )
                    target = F.col(v)
                elif p:
                    target = prop_col(v, p)
                elif v in extra:
                    target = F.col(v)
                else:
                    raise CypherUnsupported(
                        "percentileDisc() takes a property (var.prop), "
                        f"got {pct_arg!r}"
                    )
                pct_fn = (
                    _pct_cont if pct.lower() == "percentilecont"
                    else _pct_disc
                )
                aggs.append(
                    (name, pct_fn(target.try_cast("double"), float(pct_p)))
                )
                continue
            if columns_ns is not None:
                # post-WITH namespace: bare column names + count()
                if length_fn:
                    raise CypherUnsupported("length() after WITH")
                if cnt:
                    fnl = cnt.lower()
                    arg = cnt_arg.strip()
                    name = alias or (
                        f"{fnl}_{arg.replace('.', '_').replace('*', 'all')}"
                    )
                    if fnl == "count":
                        if arg == "*":
                            c = F.count("*")
                        elif arg in columns_ns:
                            c = (
                                F.countDistinct(arg) if cnt_distinct
                                else F.count(arg)
                            )
                        else:
                            raise CypherUnsupported(
                                f"unknown column {arg!r} after WITH"
                            )
                        aggs.append((name, c.cast("long")))
                    elif fnl == "collect":
                        if arg == "*" or arg not in columns_ns:
                            raise CypherUnsupported(
                                f"unknown column {arg!r} after WITH"
                            )
                        c = (
                            F.collect_set(arg) if cnt_distinct
                            else F.collect_list(arg)
                        )
                        aggs.append((name, F.sort_array(c)))
                    else:
                        if cnt_distinct:
                            raise CypherUnsupported(
                                "DISTINCT is only supported with count() "
                                "and collect()"
                            )
                        if arg == "*" or arg not in columns_ns:
                            raise CypherUnsupported(
                                f"unknown column {arg!r} after WITH"
                            )
                        aggs.append(
                            (name, _NUM_AGGS[fnl](F.col(arg).try_cast("double")))
                        )
                elif prop or var not in columns_ns:
                    raise CypherUnsupported(
                        f"RETURN after WITH must use WITH column names, "
                        f"got {item!r}"
                    )
                else:
                    keys.append((alias or var, F.col(var)))
            elif length_fn:
                if length_arg not in path_vars:
                    raise CypherUnsupported(
                        f"{length_fn}() takes a path variable or a "
                        "variable-length relationship variable, got "
                        f"{length_arg!r}"
                    )
                if (
                    length_fn.lower() == "size"
                    and length_arg not in walk_rel_vars
                ):
                    raise CypherUnsupported(
                        "size() counts a variable-length relationship "
                        f"list; {length_arg!r} is a path — use length()"
                    )
                name = alias or f"{length_fn.lower()}_{length_arg}"
                keys.append((name, F.col(f"{length_arg}__len")))
            elif cnt:
                fnl = cnt.lower()
                arg = cnt_arg.strip()
                if (
                    fnl in ("count", "collect") and not cnt_distinct
                ) or fnl in ("sum", "avg", "stdev"):
                    unsafe_aggs.append(item.strip())
                name = alias or (
                    f"{fnl}_{arg.replace('.', '_').replace('*', 'all')}"
                )
                if fnl == "collect":
                    # openCypher collect(x) -> list; rows with NULL x are
                    # skipped (collect_list/collect_set parity). The list
                    # is SORTED — Cypher leaves the order unspecified, a
                    # deterministic order makes results reproducible and
                    # engine-comparable (documented deviation).
                    if arg == "*":
                        raise CypherUnsupported("collect(*) is not Cypher")
                    v, _, p = arg.partition(".")
                    if p:
                        target = prop_col(v, p)
                    elif v in extra:
                        target = F.col(v)
                    elif v in rel_vars:
                        raise CypherUnsupported(
                            "collect a relationship property "
                            f"({v}.prop), not the bare relationship"
                        )
                    else:
                        if v not in var_specs:
                            raise CypherUnsupported(
                                f"unknown variable {v!r}"
                            )
                        target = F.col(f"{v}__key")
                    c = (
                        F.collect_set(target) if cnt_distinct
                        else F.collect_list(target)
                    )
                    aggs.append((name, F.sort_array(c)))
                elif fnl == "count":
                    if arg == "*":
                        c = F.count("*")
                    else:
                        v, _, p = arg.partition(".")
                        if p:
                            target = prop_col(v, p)
                        elif v in rel_vars:
                            target = F.col(f"{v}__props")
                        elif v in extra:
                            target = F.col(v)
                        else:
                            if v not in var_specs:
                                raise CypherUnsupported(
                                    f"unknown variable {v!r}"
                                )
                            target = F.col(f"{v}__key")
                        c = (
                            F.countDistinct(target)
                            if cnt_distinct
                            else F.count(target)
                        )
                    aggs.append((name, c.cast("long")))
                else:
                    if cnt_distinct:
                        raise CypherUnsupported(
                            "DISTINCT is only supported with count() "
                            "and collect()"
                        )
                    v, _, p = arg.partition(".")
                    if not p:
                        if v in extra:
                            aggs.append(
                                (name,
                                 _NUM_AGGS[fnl](F.col(v).try_cast("double")))
                            )
                            continue
                        raise CypherUnsupported(
                            f"{fnl}() takes a property (var.prop), got {arg!r}"
                        )
                    aggs.append(
                        (name, _NUM_AGGS[fnl](prop_col(v, p).try_cast("double")))
                    )
            else:
                if not prop and var in rel_vars:
                    raise CypherUnsupported(
                        f"RETURN a relationship property ({var}.prop), "
                        f"not the bare relationship {var!r}"
                    )
                name = alias or (f"{var}_{prop}" if prop else var)
                if not prop and var in extra:
                    keys.append((name, F.col(var)))
                    continue
                col = prop_col(var, prop) if prop else F.col(f"{var}__key")
                if not prop and var not in var_specs:
                    raise CypherUnsupported(f"unknown variable {var!r}")
                keys.append((name, col))

        if columns_ns is None and multi_path_vars:
            # allShortestPaths / named walk paths collapse openCypher's
            # one-row-per-PATH multiplicity to one row per (pair[, length])
            # (ADVICE r03). Projections that cannot observe multiplicity
            # (DISTINCT rows; count(DISTINCT)/min/max) are exact; anything
            # else would silently return different counts than Cypher.
            if aggs and unsafe_aggs:
                raise CypherUnsupported(
                    "allShortestPaths / named paths collapse per-path row "
                    "multiplicity; multiplicity-sensitive aggregates "
                    f"{unsafe_aggs!r} are out of subset (use "
                    "count(DISTINCT ...) / min / max)"
                )
            if not aggs and not distinct:
                raise CypherUnsupported(
                    "allShortestPaths / named paths collapse per-path row "
                    "multiplicity; project with RETURN DISTINCT (or "
                    "count(DISTINCT ...) / min / max)"
                )
        if aggs:
            grouped = df.groupBy(
                *[c.alias(n) for n, c in keys]
            ) if keys else df.groupBy()
            out = grouped.agg(*[c.alias(n) for n, c in aggs])
        else:
            out = df.select(*[c.alias(n) for n, c in keys])
            if distinct:
                out = out.dropDuplicates()
        return out

    # ---- WITH (aggregate / project, then HAVING-style WHERE) ----------
    def apply_having(
        df: DataFrame, where_texts: list[str], having_ns: set[str]
    ) -> DataFrame:
        """A WHERE directly after WITH filters on the WITH-produced
        columns (the HAVING idiom)."""
        for wt in where_texts:
            for cond_text in _split_keyword(wt, r"\bAND\b"):
                cond_text = cond_text.strip()
                if not cond_text:
                    continue
                cm = _PLAIN_COND.fullmatch(cond_text)
                if cm is None or cm.group(1) not in having_ns:
                    raise CypherUnsupported(
                        f"WHERE after WITH must compare a WITH column to a "
                        f"literal: {cond_text!r}"
                    )
                name, op, lit = cm.groups()
                col = F.col(name)
                if lit[0] in "'\"":
                    val: Column | str = _unquote(lit)
                else:
                    col = col.try_cast("double")
                    val = F.lit(float(lit))
                df = df.filter(_OPS[op](col, val))
        return df

    def apply_calls(
        plan: DataFrame, known_vars: set[str], calls,
        extra_out: set[str],
    ) -> DataFrame:
        """``CALL algo.SPpaths({sourceNode: a, targetNode: b, relTypes:
        ['R'], weightProp: 'w', maxLen: 4}) YIELD pathWeight`` — the
        executed subset of the reference prompt's minimal-weight-path
        procedures (ref fixtures/prompts.py:394-398):

        - SPpaths needs sourceNode + targetNode (bound node vars; a
          src = dst self-pair yields pathWeight 0, the empty walk);
          SSpaths takes sourceNode only and yields one row per REACHABLE
          destination (the source itself excluded). pathCount (default
          1) asks for the k cheapest SIMPLE paths per pair/destination:
          k = 1 runs the shared origin-keyed Bellman-Ford min
          (weighted_paths); k > 1 runs the exact bounded simple-path
          enumeration (weighted_paths_topk) and yields k rows per
          (binding, destination), ranked by (weight, lex id-sequence).
        - relTypes filters edge labels (omitted = any); weightProp reads
          the edge props map (try_cast double — edges with a missing or
          non-numeric weight are not traversable); omitted = hop count
          (weight 1 per edge). relDirection: 'outgoing' (default) /
          'incoming' / 'both'. maxLen bounds the walk length (default
          `max_hops`); pathWeight is the min total weight over walks of
          <= maxLen edges.
        - ``YIELD`` takes ``pathWeight`` and/or ``path`` (any order,
          each optionally aliased). ``path`` is the textual node-key
          route of ONE cheapest walk — reconstructed from the
          Bellman-Ford's per-node argmin state, converted id->key with
          a single posexplode + join + re-collect (no per-hop joins).
          Among equal-weight walks the struct(d, path) min keeps the
          lexicographically-smallest id sequence seen, so the choice
          is deterministic for a given graph and maxLen. Unreachable
          pairs yield no row (CALL row semantics). A WHERE directly
          after the YIELD filters on the yielded columns. The yielded
          columns join the plain-column namespace, so they ride WITH
          boundaries and aggregates like any WITH output.

        All MATCH bindings share ONE origin-keyed Bellman-Ford
        (graph_query.weighted_paths): K distinct sources cost one
        equi-join + min-aggregate per relaxation round, not K plans.
        """
        from kgforge.plans.graph_query import weighted_paths

        for body, call_wheres in calls:
            m = _CALL_ALGO.match(body.strip())
            if m is None:
                raise CypherUnsupported(
                    "only CALL algo.SPpaths({...}) / algo.SSpaths({...}) "
                    "YIELD ... is executed"
                )
            proc, map_body, yield_text = m.groups()
            proc = proc.lower()
            params: dict[str, str] = {}
            for entry in _split_top_commas(map_body):
                pm = re.match(r"(\w+)\s*:\s*(.+)$", entry.strip(), re.DOTALL)
                if pm is None:
                    raise CypherUnsupported(f"bad CALL map entry {entry!r}")
                params[pm.group(1)] = pm.group(2).strip()
            allowed = {
                "sourceNode", "targetNode", "relTypes", "weightProp",
                "maxLen", "pathCount", "relDirection",
            }
            unknown = set(params) - allowed
            if unknown:
                raise CypherUnsupported(
                    f"unsupported {proc} params {sorted(unknown)!r}"
                )
            src_var = params.get("sourceNode")
            if src_var is None or not re.fullmatch(r"\w+", src_var):
                raise CypherUnsupported(
                    "sourceNode must be a bound node variable"
                )
            dst_var = params.get("targetNode")
            if proc == "sppaths":
                if dst_var is None or not re.fullmatch(r"\w+", dst_var):
                    raise CypherUnsupported(
                        "SPpaths needs targetNode (a bound node variable)"
                    )
                if dst_var == src_var:
                    raise CypherUnsupported(
                        "sourceNode and targetNode must be distinct "
                        "variables (bind the node twice to ask for a "
                        "self-pair)"
                    )
            elif dst_var is not None:
                raise CypherUnsupported("SSpaths takes no targetNode")
            for v in (src_var, dst_var):
                if v is None:
                    continue
                if v not in known_vars or v in rel_vars:
                    raise CypherUnsupported(
                        f"{v!r} is not a bound node variable"
                    )
            pc_text = params.get("pathCount", "1").strip()
            if not re.fullmatch(r"[1-9]\d*", pc_text):
                raise CypherUnsupported(
                    "pathCount must be a positive integer literal, got "
                    f"{pc_text!r}"
                )
            path_count = int(pc_text)
            rel = None
            if "relTypes" in params:
                lv = params["relTypes"].strip()
                if not (lv.startswith("[") and lv.endswith("]")):
                    raise CypherUnsupported(
                        "relTypes must be a list of quoted labels"
                    )
                labels = []
                for item in _split_top_commas(lv[1:-1]):
                    item = item.strip()
                    if item[:1] not in "'\"" or item[-1:] != item[0]:
                        raise CypherUnsupported(
                            f"bad relTypes item {item!r}"
                        )
                    labels.append(_unquote(item))
                if labels:
                    rel = "|".join(labels)
            e = edges
            if rel is not None:
                e = e.filter(_label_pred(rel))
            wp = params.get("weightProp")
            if wp is not None:
                if wp[:1] not in "'\"" or wp[-1:] != wp[0]:
                    raise CypherUnsupported(
                        "weightProp must be a quoted property name"
                    )
                w = F.col("props")[_unquote(wp)].try_cast("double")
            else:
                w = F.lit(1.0)
            e = e.select(
                F.col("src_id").alias("src"),
                F.col("dst_id").alias("dst"),
                w.alias("w"),
            ).filter(F.col("w").isNotNull())
            direction = "outgoing"
            if "relDirection" in params:
                dv = params["relDirection"].strip()
                if dv[:1] not in "'\"" or dv[-1:] != dv[0]:
                    raise CypherUnsupported(
                        "relDirection must be a quoted string"
                    )
                direction = _unquote(dv).lower()
            if direction == "incoming":
                e = e.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
                )
            elif direction == "both":
                e = e.unionByName(
                    e.select(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                        "w",
                    )
                )
            elif direction != "outgoing":
                raise CypherUnsupported(f"bad relDirection {direction!r}")
            max_len = max_hops
            if "maxLen" in params:
                if not re.fullmatch(r"\d+", params["maxLen"].strip()):
                    raise CypherUnsupported(
                        "maxLen must be an integer literal"
                    )
                max_len = int(params["maxLen"])
                if max_len < 1:
                    raise CypherUnsupported("maxLen must be >= 1")
            # YIELD list: pathWeight and/or path, each optionally
            # aliased, any order (FalkorDB: YIELD path, pathWeight).
            # `path` yields the TEXTUAL node-key route 'k1->k2->…' of
            # ONE cheapest walk (documented deviation: FalkorDB returns
            # a structured Path object; node-key text is this engine's
            # canonical rendering, like properties(n) -> JSON).
            yields: dict[str, str] = {}
            for item in _split_top_commas(yield_text.strip()):
                ym = re.fullmatch(
                    r"(pathWeight|path)(?:\s+AS\s+(\w+))?",
                    item.strip(),
                    re.IGNORECASE,
                )
                if ym is None:
                    raise CypherUnsupported(
                        "only YIELD path / pathWeight [AS alias] is "
                        f"executed, not {item.strip()!r}"
                    )
                obs = (
                    "path" if ym.group(1).lower() == "path" else
                    "pathWeight"
                )
                if obs in yields:
                    raise CypherUnsupported(f"duplicate YIELD {obs}")
                yields[obs] = ym.group(2) or obs
            for name in yields.values():
                if name in plan.columns or name in extra_out:
                    raise CypherUnsupported(f"duplicate column {name!r}")
            want_path = "path" in yields
            origins = plan.select(
                F.col(f"{src_var}__id").alias("origin")
            ).dropDuplicates()
            if path_count == 1:
                dist = weighted_paths(
                    e, origins, max_hops=max_len, with_path=want_path
                )
            else:
                # pathCount k > 1: k-cheapest SIMPLE paths per pair —
                # k rows per (binding, destination), ranked by
                # (weight, lex id-sequence). Exact bounded enumeration
                # (see weighted_paths_topk: mid-loop top-k pruning is
                # wrong for simple paths, so state is the full
                # simple-walk set within maxLen).
                from kgforge.plans.graph_query import weighted_paths_topk

                dist = weighted_paths_topk(
                    e, origins, k=path_count, max_hops=max_len
                )
                if not want_path:
                    dist = dist.drop("path")
            route_keys = (
                ["origin", "id", "rank"] if path_count > 1
                else ["origin", "id"]
            )
            if want_path:
                # id array -> '->'-joined key route: ONE posexplode +
                # key join + re-collect, all vectorized (no per-hop
                # joins; path length is bounded by maxLen)
                id2key = nodes.select(
                    F.col("node_id").alias("__pid"),
                    F.col("key").alias("__pkey"),
                )
                routes = (
                    dist.select(
                        *route_keys,
                        F.posexplode("path").alias("__pos", "__pid"),
                    )
                    .join(id2key, on="__pid")
                    .groupBy(*route_keys)
                    .agg(
                        F.array_sort(
                            F.collect_list(F.struct("__pos", "__pkey"))
                        ).alias("__ps")
                    )
                    .select(
                        *route_keys,
                        F.concat_ws(
                            "->",
                            F.transform("__ps", lambda s: s["__pkey"]),
                        ).alias("__route"),
                    )
                )
                dist = dist.drop("path").join(routes, on=route_keys)
            out_cols = []
            if "pathWeight" in yields:
                out_cols.append(F.col("d").alias(yields["pathWeight"]))
            if want_path:
                out_cols.append(F.col("__route").alias(yields["path"]))
            if proc == "sppaths":
                rel_df = dist.select(
                    F.col("origin").alias(f"{src_var}__id"),
                    F.col("id").alias(f"{dst_var}__id"),
                    *out_cols,
                )
                plan = plan.join(
                    rel_df, on=[f"{src_var}__id", f"{dst_var}__id"]
                )
            else:
                rel_df = dist.filter(
                    F.col("id") != F.col("origin")
                ).select(
                    F.col("origin").alias(f"{src_var}__id"),
                    *out_cols,
                )
                plan = plan.join(rel_df, on=f"{src_var}__id")
            extra_out.update(yields.values())
            plan = apply_having(plan, call_wheres, set(yields.values()))
        return plan

    def apply_with_order(
        df: DataFrame, seg: dict,
        carried: set[str], cols: set[str],
    ) -> DataFrame:
        """``WITH … ORDER BY … [SKIP s] [LIMIT k]`` — the boundary form of
        top-k-then-expand. Sort keys may be WITH columns (aggregates /
        plain projections), carried node vars (ordered by their key), or
        carried ``var.prop`` (string props — lexicographic). An ORDER BY
        with no SKIP/LIMIT is dropped: intermediate row order is not
        observable downstream (collect() sorts, RETURN has its own ORDER
        BY), and materializing it would be a pointless global sort at
        scale. SKIP/LIMIT without ORDER BY is refused — openCypher allows
        it but the row choice is engine-nondeterministic, which a
        cross-engine gate (and any sane user) cannot want."""
        skip, limit = seg["with_skip"], seg["with_limit"]
        if not seg["with_order"]:
            if skip is not None or limit is not None:
                raise CypherUnsupported(
                    "SKIP/LIMIT at a WITH boundary requires ORDER BY "
                    "(row choice is nondeterministic without it)"
                )
            return df
        if skip is None and limit is None:
            return df  # unobservable intermediate order
        order_cols = []
        for text in seg["with_order"]:
            for part in _split_top_commas(text):
                om = re.fullmatch(
                    r"(\w+)(?:\.(\w+))?(?:\s+(ASC|DESC))?",
                    part.strip(), re.IGNORECASE,
                )
                if om is None:
                    raise CypherUnsupported(f"bad ORDER BY item {part!r}")
                var, prop, direction = om.groups()
                if prop:
                    if var not in carried:
                        raise CypherUnsupported(
                            f"ORDER BY {var}.{prop}: {var!r} is not a "
                            "carried variable at this WITH boundary"
                        )
                    col = F.col(f"{var}__props").getItem(prop)
                elif var in cols:
                    col = F.col(var)
                elif var in carried:
                    col = F.col(f"{var}__key")
                else:
                    raise CypherUnsupported(
                        "ORDER BY at a WITH boundary must use a WITH "
                        f"column or carried variable: {part!r}"
                    )
                order_cols.append(
                    col.desc() if (direction or "").upper() == "DESC"
                    else col.asc()
                )
        out = df.orderBy(*order_cols)
        if skip is not None:
            out = out.offset(int(skip.strip()))
        if limit is not None:
            out = out.limit(int(limit.strip()))
        return out

    def compile_with_carry(
        df: DataFrame, text: str,
        extra: frozenset[str] | set[str] = frozenset(),
    ):
        """WITH that pipelines into a further stage (VERDICT r03 #3,
        the 'aggregate then expand' shape, chained): bare node vars are
        carried WITH IDENTITY (__id/__key/__props columns, renamed by AS)
        so the next MATCH's legs equi-join on them; aggregates and
        property projections become plain columns. `extra` names plain
        columns produced by an EARLIER WITH boundary — referable bare or
        inside aggregates, and passed through when projected. Cypher
        grouping: one row per distinct combination of the non-aggregate
        items — node vars group by identity; their props ride along via
        first() (maps are not orderable, so they cannot be group keys).
        Returns (df, carried-var set, plain-column set)."""
        if path_vars:
            raise CypherUnsupported(
                "path variables before MATCH-after-WITH are out of subset"
            )
        distinct = False
        if re.match(r"DISTINCT\b", text, re.IGNORECASE):
            distinct = True
            text = text[len("DISTINCT"):].strip()
        carried: dict[str, str] = {}  # new var name -> pre-WITH var name
        plain: list[tuple[str, Column]] = []
        aggs: list[tuple[str, Column]] = []
        def _carry_atom(t: str) -> Column:
            if "." in t:
                v, _, p = t.partition(".")
                return prop_col(v, p).try_cast("double")
            if t in extra:
                return F.col(t).try_cast("double")
            raise ValueError(f"unknown atom {t!r}")

        def _carry_arith(item: str) -> bool:
            """Arithmetic at a carried WITH boundary (r5): bare
            `<arith> AS alias` joins the plain (grouping) columns;
            `aggfn(<arith>) AS alias` joins the aggregates."""
            am = re.fullmatch(
                r"(.+?)\s+AS\s+(\w+)\s*", item, re.IGNORECASE | re.DOTALL
            )
            if am is None:
                return False
            body, al = am.group(1).strip(), am.group(2)
            gm = re.fullmatch(
                r"(sum|avg|min|max)\s*\(([^()]*)\)", body, re.IGNORECASE
            )
            if gm is not None:
                try:
                    col, n_ops = _arith_column(gm.group(2), _carry_atom)
                except ValueError:
                    return False
                if n_ops == 0:
                    return False
                aggs.append((al, _NUM_AGGS[gm.group(1).lower()](col)))
                return True
            try:
                col, n_ops = _arith_column(body, _carry_atom)
            except ValueError:
                return False
            if n_ops == 0:
                return False
            plain.append((al, col))
            return True

        for item in _split_top_commas(text):
            m = _RET_ITEM.fullmatch(item.strip())
            if m is None:
                if _carry_arith(item):
                    continue
                raise CypherUnsupported(f"unsupported WITH item {item!r}")
            (cnt, cnt_distinct, cnt_arg, pct, _pct_arg, _pct_p, length_fn,
             _length_arg, var, prop, alias) = m.groups()
            if length_fn:
                raise CypherUnsupported("length() before MATCH-after-WITH")
            if pct:
                raise CypherUnsupported(
                    "percentileDisc at a WITH boundary before a later "
                    "MATCH is out of subset (use it in RETURN)"
                )
            if cnt:
                fnl = cnt.lower()
                arg = cnt_arg.strip()
                name = alias or (
                    f"{fnl}_{arg.replace('.', '_').replace('*', 'all')}"
                )
                if fnl == "count":
                    if arg == "*":
                        c = F.count("*")
                    else:
                        v, _, p = arg.partition(".")
                        if p:
                            target = prop_col(v, p)
                        elif v in rel_vars:
                            target = F.col(f"{v}__props")
                        elif v in extra:
                            target = F.col(v)
                        else:
                            if v not in var_specs:
                                raise CypherUnsupported(
                                    f"unknown variable {v!r}"
                                )
                            target = F.col(f"{v}__key")
                        c = (
                            F.countDistinct(target) if cnt_distinct
                            else F.count(target)
                        )
                    aggs.append((name, c.cast("long")))
                elif fnl == "collect":
                    v, _, p = arg.partition(".")
                    if arg == "*" or (
                        not p and v not in var_specs and v not in extra
                    ):
                        raise CypherUnsupported(
                            f"collect() takes a variable or property, "
                            f"got {arg!r}"
                        )
                    if p:
                        target = prop_col(v, p)
                    elif v in extra:
                        target = F.col(v)
                    else:
                        target = F.col(f"{v}__key")
                    c = (
                        F.collect_set(target) if cnt_distinct
                        else F.collect_list(target)
                    )
                    aggs.append((name, F.sort_array(c)))
                else:
                    if cnt_distinct:
                        raise CypherUnsupported(
                            "DISTINCT is only supported with count() "
                            "and collect()"
                        )
                    v, _, p = arg.partition(".")
                    if not p:
                        if v in extra:
                            aggs.append(
                                (name,
                                 _NUM_AGGS[fnl](F.col(v).try_cast("double")))
                            )
                            continue
                        raise CypherUnsupported(
                            f"{fnl}() takes a property (var.prop), got {arg!r}"
                        )
                    aggs.append(
                        (name,
                         _NUM_AGGS[fnl](prop_col(v, p).try_cast("double")))
                    )
            elif prop:
                plain.append((alias or f"{var}_{prop}", prop_col(var, prop)))
            else:
                if var in rel_vars:
                    raise CypherUnsupported(
                        "relationship variables do not survive WITH"
                    )
                if var in extra:
                    # a plain column from an earlier WITH passes through
                    plain.append((alias or var, F.col(var)))
                elif var not in var_specs:
                    raise CypherUnsupported(f"unknown variable {var!r}")
                else:
                    carried[alias or var] = var
        group_cols = []
        for newv, oldv in carried.items():
            group_cols.append(F.col(f"{oldv}__id").alias(f"{newv}__id"))
            group_cols.append(F.col(f"{oldv}__key").alias(f"{newv}__key"))
        group_cols.extend(c.alias(n) for n, c in plain)
        if aggs:
            out = df.groupBy(*group_cols).agg(
                *[F.first(F.col(f"{oldv}__props")).alias(f"{newv}__props")
                  for newv, oldv in carried.items()],
                *[c.alias(n) for n, c in aggs],
            )
        else:
            out = df.select(
                *group_cols,
                *[F.col(f"{oldv}__props").alias(f"{newv}__props")
                  for newv, oldv in carried.items()],
            )
            if distinct:
                out = out.dropDuplicates(
                    [f"{v}__id" for v in carried] + [n for n, _ in plain]
                )
        # rebind the variable namespace: ONLY carried vars survive a WITH
        # (a reused old name after WITH is a fresh variable in Cypher)
        new_specs = {newv: var_specs[oldv] for newv, oldv in carried.items()}
        var_specs.clear()
        var_specs.update(new_specs)
        rel_vars.clear()
        return out, set(carried), {n for n, _ in plain} | {n for n, _ in aggs}

    # ---- the WITH-separated stage pipeline -----------------------------
    # segment 0's plan is already built above; each later segment is
    # entered through its predecessor's WITH boundary: CARRY mode when
    # more matching follows (node vars keep identity), plain-columns mode
    # when the last WITH feeds RETURN directly.
    ns: set[str] | None = None
    extra_cols: set[str] = set(unwind_cols)
    carried_vars: set[str] = set()
    for i, seg in enumerate(segments):
        seg_bound = bound
        if i > 0:
            # join this segment's patterns onto the carried relation
            snapshot = {v: var_specs[v] for v in carried_vars}
            seg_groups: list[list[str]] = []
            seg_legs: list[tuple] = []
            for match_text in seg["matches"]:
                groups, legs = parse_patterns(
                    match_text, allow_shortest=False
                )
                seg_groups.extend(groups)
                seg_legs.extend(legs)
            for v in carried_vars:
                if var_specs[v] != snapshot[v]:
                    # node_df would not re-run for an already-bound var,
                    # so a new label / inline-prop constraint would be
                    # silently dropped — refuse instead
                    raise CypherUnsupported(
                        f"new label/props on carried variable {v!r} "
                        "after WITH"
                    )
            seg_bound = set(carried_vars)
            if seg_groups and not seg_bound:
                first = seg_groups[0][0]
                plan = plan.crossJoin(node_df(first))
                seg_bound.add(first)
            if seg_legs or seg_groups:
                plan = assemble(plan, seg_bound, seg_groups, seg_legs)
            # stage-local UNWIND: values cross-join the carried relation
            # BEFORE the stage's WHERE (which may reference the alias)
            plan = apply_unwinds(plan, seg.get("unwinds", []))
            extra_cols |= set(unwind_cols)
            seg_rels = {leg[4] for leg in seg_legs if leg[4] is not None}
            plan = apply_where(plan, seg["wheres"], seg_bound | seg_rels)
            plan = apply_optionals(plan, seg_bound, seg["optionals"])
        if seg["calls"]:
            plan = apply_calls(plan, seg_bound, seg["calls"], extra_cols)
        wt = seg["with"]
        if wt is None:
            continue  # final segment flows into RETURN
        if i < len(segments) - 1:
            plan, carried_vars, extra_cols = compile_with_carry(
                plan, wt, extra_cols
            )
            # openCypher WITH grammar order: ORDER BY / SKIP / LIMIT
            # apply before the trailing WHERE
            plan = apply_with_order(plan, seg, carried_vars, extra_cols)
            plan = apply_having(plan, seg["with_wheres"], extra_cols)
        else:
            # last WITH feeds RETURN directly: plain-columns namespace
            plan = compile_projection(plan, wt, None, extra_cols)
            ns = set(plan.columns)
            plan = apply_with_order(plan, seg, set(), ns)
            plan = apply_having(plan, seg["with_wheres"], ns)

    # ---- RETURN -------------------------------------------------------
    # Final ORDER BY items may be returned column names, UNALIASED
    # aggregate expressions repeating a projected aggregate
    # (`ORDER BY count(f) DESC` — resolved to the aggregate's default
    # column name), or `var.prop` of a returned node var — the shapes
    # generated queries actually emit. A var.prop sort key that is not
    # itself returned rides as a HIDDEN projection column (appended to
    # the RETURN text, dropped after the sort); openCypher forbids
    # hidden sort keys after RETURN DISTINCT / aggregation (they are
    # not in scope), and so does this executor.
    ret_text = " ".join(ret_parts)

    # ---- size((v)-[:R]->(...)) degree expressions ----------------------
    # The per-row degree idiom generated queries use instead of a
    # grouping count ("RETURN n, size((n)-[:KNOWS]->()) AS deg"). Each
    # distinct pattern compiles ONCE to a pre-aggregated (id, degree)
    # relation left-joined onto the plan (missing -> 0); the expression
    # is then a plain column, usable bare or inside aggregates. Same
    # single-leg subset as WHERE pattern predicates.
    _SIZE_ITEM = re.compile(
        r"size\s*\(\s*(\([^)]*\)\s*(?:<-|-)\s*\[[^\]]*\]\s*(?:->|-)"
        r"\s*\([^)]*\))\s*\)",
        re.IGNORECASE,
    )
    size_seq = iter(range(1000))
    case_seq = iter(range(1000))
    fn_seq = iter(range(1000))
    if ns is None:
        # ---- CASE WHEN ... THEN ... [ELSE ...] END banding ------------
        # The bucketing shape generated aggregations use ("RETURN CASE
        # WHEN c.bal >= 5000 THEN 'high' ELSE 'low' END AS band,
        # count(*)"). Conditions reuse the full WHERE grammar
        # (compile_bool: AND/OR/NOT/parens/IN/exists/prop-prop);
        # branch values are literals. The CASE compiles to ONE hidden
        # column; with no ELSE, unmatched rows get NULL (openCypher).
        def _compile_case(m: re.Match) -> str:
            nonlocal plan
            body = m.group(1)
            parts = _split_keyword(body, r"\bWHEN\b")
            if parts[0].strip():
                raise CypherUnsupported(
                    "only searched CASE (CASE WHEN <cond> ...) is "
                    "executed"
                )
            default = None

            def _lit(text: str):
                text = text.strip()
                if text[:1] in "'\"" and text[-1:] == text[:1]:
                    return F.lit(_unquote(text))
                if re.fullmatch(r"-?\d+(?:\.\d+)?", text):
                    return F.lit(float(text))
                raise CypherUnsupported(
                    f"CASE branch values must be literals, got {text!r}"
                )

            branches = []
            for i, part in enumerate(parts[1:]):
                chunks = _split_keyword(part, r"\bTHEN\b")
                if len(chunks) != 2:
                    raise CypherUnsupported(
                        f"bad CASE branch {part.strip()!r}"
                    )
                cond_text, value = chunks
                if i == len(parts) - 2:
                    tail = _split_keyword(value, r"\bELSE\b")
                    if len(tail) == 2:
                        value, default_text = tail
                        default = _lit(default_text)
                    elif len(tail) != 1:
                        raise CypherUnsupported("multiple ELSE in CASE")
                cond = compile_bool(cond_text.strip(), seg_bound | rel_vars)
                if cond is None:
                    raise CypherUnsupported("empty CASE condition")
                branches.append((cond, _lit(value)))
            expr = F.when(*branches[0])
            for cond, val in branches[1:]:
                expr = expr.when(cond, val)
            if default is not None:
                expr = expr.otherwise(default)
            name = f"__case{next(case_seq)}"
            plan = plan.withColumn(name, expr)
            extra_cols.add(name)
            return name

        masked_ret = _mask_quotes(ret_text)
        out_parts, last = [], 0
        for cm_ in re.finditer(
            r"\bCASE\b(.*?)\bEND\b", masked_ret, re.IGNORECASE | re.DOTALL
        ):
            out_parts.append(ret_text[last:cm_.start()])
            out_parts.append(
                _compile_case(
                    re.match(
                        r"CASE(.*)END",
                        ret_text[cm_.start():cm_.end()],
                        re.IGNORECASE | re.DOTALL,
                    )
                )
            )
            last = cm_.end()
        out_parts.append(ret_text[last:])
        ret_text = "".join(out_parts)
    if ns is None:
        def _compile_size(m: re.Match) -> str:
            nonlocal plan
            pnodes, plegs = _parse_pattern(
                m.group(1), var_gen, max_hops
            )
            if len(plegs) != 1 or plegs[0][3] is not None:
                raise CypherUnsupported(
                    "size() takes one single-hop relationship pattern"
                )
            if plegs[0][4] is not None:
                raise CypherUnsupported(
                    "size() patterns cannot bind a relationship variable"
                )
            src, rel, dst, _h, _rv, undirected = plegs[0]
            # the final stage's bound vars: carried vars + this stage's
            # pattern vars (seg_bound survives the pipeline loop)
            anchors = [v for v, _l, _p in pnodes if v in seg_bound]
            if len(anchors) != 1:
                raise CypherUnsupported(
                    "size() takes exactly one bound endpoint (the "
                    f"anchor): {m.group(1)!r}"
                )
            anchor = anchors[0]
            sub = leg_df((src, rel, dst, None, None, None, undirected))
            for v, label, props in pnodes:
                if v == anchor or (label is None and not props):
                    continue
                nd = nodes
                if label is not None:
                    nd = nd.filter(F.col("label") == label)
                for pk, pv_ in props.items():
                    nd = nd.filter(F.col("props")[pk] == pv_)
                sub = join(
                    sub, nd.select(F.col("node_id").alias(f"{v}__id")),
                    on=f"{v}__id", how="left_semi",
                )
            name = f"__size{next(size_seq)}"
            deg = sub.groupBy(f"{anchor}__id").agg(
                F.count("*").cast("long").alias(name)
            )
            plan = join(plan, deg, on=f"{anchor}__id", how="left").fillna(
                {name: 0}
            )
            extra_cols.add(name)
            return name

        ret_text = _SIZE_ITEM.sub(_compile_size, ret_text)

    if ns is None:
        # ---- scalar functions in RETURN --------------------------------
        # The string/cast scalars generated queries wrap projections in
        # (`RETURN toLower(n.name) AS name`, `coalesce(n.nick, n.name)`,
        # `type(r)`). Each call compiles to ONE hidden column (same
        # mechanism as CASE/size above) so the result is usable bare,
        # inside aggregates, and under ORDER BY via its alias. The scan
        # loop re-masks after every substitution, so NESTED calls resolve
        # innermost-first (`toLower(coalesce(a.x, 'y'))`). Arguments are
        # properties, earlier hidden columns, or literals. substring()
        # follows openCypher's 0-based indexing (Spark's substring is
        # 1-based). type() reads the relationship label captured by
        # leg_df for bound single-hop relationship variables.
        def _scalar_arg(text: str) -> Column:
            text = text.strip()
            if text[:1] in "'\"" and text[-1:] == text[:1] and len(text) >= 2:
                return F.lit(_unquote(text))
            if re.fullmatch(r"-?\d+", text):
                return F.lit(int(text))
            if re.fullmatch(r"-?\d+\.\d+", text):
                return F.lit(float(text))
            v, _, p = text.partition(".")
            if p:
                # STRICT prop-name check: a malformed arg like
                # 'f.wins + 9' must raise, not silently read the map
                # key "wins + 9" (NULL) — arithmetic belongs OUTSIDE
                # the scalar call (sqrt(f.wins) * 2), compiled by the
                # arithmetic pass over the scalar's hidden column
                if not (re.fullmatch(r"\w+", v) and re.fullmatch(r"\w+", p)):
                    raise CypherUnsupported(
                        "scalar-function arguments are properties or "
                        f"literals, got {text!r}"
                    )
                return prop_col(v, p)
            if v in extra_cols:
                return F.col(v)
            raise CypherUnsupported(
                "scalar-function arguments are properties or literals, "
                f"got {text!r}"
            )

        def _int_lit(text: str, what: str) -> int:
            if not re.fullmatch(r"\d+", text.strip()):
                raise CypherUnsupported(
                    f"{what} must be a non-negative integer "
                    f"literal, got {text.strip()!r}"
                )
            return int(text)

        def _compile_scalar(fn: str, raw_args: str, masked_args: str) -> str:
            nonlocal plan
            fnl = fn.lower()
            args, last = [], 0
            for j, ch in enumerate(masked_args):
                if ch == ",":
                    args.append(raw_args[last:j])
                    last = j + 1
            args.append(raw_args[last:])
            if raw_args.strip() == "":
                args = []
            n_args = {
                "tolower": (1, 1), "toupper": (1, 1), "trim": (1, 1),
                "ltrim": (1, 1), "rtrim": (1, 1), "reverse": (1, 1),
                "tointeger": (1, 1), "tofloat": (1, 1), "type": (1, 1),
                "coalesce": (2, 99), "substring": (2, 3),
                "labels": (1, 1), "properties": (1, 1), "keys": (1, 1),
                "tostring": (1, 1), "abs": (1, 1), "ceil": (1, 1),
                "floor": (1, 1), "sign": (1, 1), "round": (1, 1),
                "sqrt": (1, 1), "size": (1, 1),
                "toboolean": (1, 1), "replace": (3, 3),
                "left": (2, 2), "right": (2, 2), "id": (1, 1),
                "startnode": (1, 1), "endnode": (1, 1),
            }[fnl]
            if not (n_args[0] <= len(args) <= n_args[1]):
                raise CypherUnsupported(
                    f"{fn}() takes {n_args[0]}"
                    + (f"..{n_args[1]}" if n_args[1] != n_args[0] else "")
                    + f" arguments, got {len(args)}"
                )
            if fnl == "type":
                a = args[0].strip()
                if a not in rel_vars or f"{a}__type" not in plan.columns:
                    raise CypherUnsupported(
                        "type() takes a bound single-hop relationship "
                        f"variable, got {a!r}"
                    )
                expr = F.col(f"{a}__type")
            elif fnl in ("startnode", "endnode"):
                # the endpoint node's KEY — consistent with how
                # ``RETURN n`` renders a node in this engine (FalkorDB
                # returns the node entity). Directed legs only: an
                # undirected leg matches once per orientation and the
                # stored direction is not tracked per row.
                a = args[0].strip()
                if a not in rel_vars or a not in rel_endpoints:
                    raise CypherUnsupported(
                        f"{fn}() takes a bound single-hop relationship "
                        f"variable, got {a!r}"
                    )
                src_v, dst_v, undirected = rel_endpoints[a]
                if undirected:
                    raise CypherUnsupported(
                        f"{fn}() on an undirected leg is out of subset "
                        "(the stored direction is not tracked per row)"
                    )
                v = src_v if fnl == "startnode" else dst_v
                if f"{v}__key" not in plan.columns:
                    raise CypherUnsupported(
                        f"{fn}({a}): endpoint {v!r} is not projectable "
                        "in this stage"
                    )
                expr = F.col(f"{v}__key")
            elif fnl == "labels":
                # single-label data model (like the reference's MERGE
                # surface): labels(n) is the pattern's label STRING, a
                # compile-time constant — openCypher's list collapses to
                # its only element (documented deviation). An unlabeled
                # var has no static label and raises.
                a = args[0].strip()
                if a not in var_specs:
                    raise CypherUnsupported(
                        f"labels() takes a bound node variable, got {a!r}"
                    )
                if var_specs[a][0] is None:
                    raise CypherUnsupported(
                        "labels() needs a LABELED variable in this subset"
                    )
                expr = F.lit(var_specs[a][0])
            elif fnl == "properties":
                # the full props map as CANONICAL JSON (keys sorted) —
                # deterministic, engine-comparable, and feeds the
                # reference's "return all attributes" QA contract
                a = args[0].strip()
                if a not in var_specs:
                    raise CypherUnsupported(
                        f"properties() takes a bound node variable, got "
                        f"{a!r}"
                    )
                expr = F.to_json(
                    F.map_from_entries(
                        F.array_sort(F.map_entries(F.col(f"{a}__props")))
                    )
                )
            elif fnl == "keys":
                # property-key list as CANONICAL JSON (sorted array) —
                # same determinism contract as properties()
                a = args[0].strip()
                if a not in var_specs:
                    raise CypherUnsupported(
                        f"keys() takes a bound node variable, got {a!r}"
                    )
                expr = F.to_json(
                    F.array_sort(F.map_keys(F.col(f"{a}__props")))
                )
            elif fnl == "id":
                # the node's internal graph id (BIGINT) — stable within
                # one graph build, like FalkorDB's internal entity id
                a = args[0].strip()
                if a not in var_specs:
                    raise CypherUnsupported(
                        f"id() takes a bound node variable, got {a!r}"
                    )
                expr = F.col(f"{a}__id")
            elif fnl == "toboolean":
                # openCypher: 'true'/'false' (case-insensitive, trimmed)
                # -> boolean, anything else -> NULL
                low = F.lower(F.trim(_scalar_arg(args[0]).cast("string")))
                expr = F.when(low == "true", F.lit(True)).when(
                    low == "false", F.lit(False)
                )
            elif fnl == "replace":
                # literal (non-regex) replacement, Cypher parity
                expr = F.replace(
                    _scalar_arg(args[0]).cast("string"),
                    _scalar_arg(args[1]).cast("string"),
                    _scalar_arg(args[2]).cast("string"),
                )
            elif fnl in ("left", "right"):
                n_lit = _int_lit(args[1], f"{fnl}() length")
                s = _scalar_arg(args[0]).cast("string")
                expr = (
                    F.left(s, F.lit(n_lit)) if fnl == "left"
                    else F.right(s, F.lit(n_lit))
                )
            elif fnl == "coalesce":
                expr = F.coalesce(*[_scalar_arg(a) for a in args])
            elif fnl == "substring":
                start = _int_lit(args[1], "substring start")
                if len(args) == 3:
                    expr = F.substring(
                        _scalar_arg(args[0]), start + 1,
                        _int_lit(args[2], "substring length"),
                    )
                else:
                    expr = F.substring(
                        _scalar_arg(args[0]), start + 1, 2 ** 31 - 1
                    )
            elif fnl == "tolower":
                expr = F.lower(_scalar_arg(args[0]))
            elif fnl == "toupper":
                expr = F.upper(_scalar_arg(args[0]))
            elif fnl == "trim":
                expr = F.trim(_scalar_arg(args[0]))
            elif fnl == "ltrim":
                expr = F.ltrim(_scalar_arg(args[0]).cast("string"))
            elif fnl == "rtrim":
                expr = F.rtrim(_scalar_arg(args[0]).cast("string"))
            elif fnl == "reverse":
                expr = F.reverse(_scalar_arg(args[0]).cast("string"))
            elif fnl == "size":
                # size(string) -> character count (BIGINT); list/pattern
                # forms have their own compilers upstream
                expr = F.length(
                    _scalar_arg(args[0]).cast("string")
                ).cast("long")
            elif fnl == "sqrt":
                # IEEE-754 sqrt is correctly rounded on every platform,
                # so the result is bit-identical cross-engine (unlike
                # exp/log/pow, which stay out of subset)
                expr = F.sqrt(_scalar_arg(args[0]).try_cast("double"))
            elif fnl == "tointeger":
                expr = _scalar_arg(args[0]).try_cast("long")
            elif fnl == "tostring":
                expr = _scalar_arg(args[0]).cast("string")
            elif fnl in ("abs", "ceil", "floor", "sign", "round"):
                # math scalars over try_cast-double props; ceil/floor
                # return BIGINT (Cypher parity), abs keeps the input's
                # numeric shape, sign is -1/0/1. round() is the
                # SINGLE-ARG form only (FalkorDB's round(x) -> nearest
                # integer, half away from zero): at integer scale a
                # double whose shortest repr is "n.5" IS exactly the
                # dyadic n.5, so Spark's repr-based HALF_UP and DuckDB's
                # binary std::round agree even at ties (probed on both
                # engines this round). Multi-digit round(x, d) stays
                # out: there the repr-vs-binary tie classifications
                # diverge (2.675 is the classic), a silent trap.
                arg = _scalar_arg(args[0]).try_cast("double")
                if fnl == "abs":
                    expr = F.abs(arg)
                elif fnl == "ceil":
                    expr = F.ceil(arg).cast("long")
                elif fnl == "floor":
                    expr = F.floor(arg).cast("long")
                elif fnl == "round":
                    expr = F.round(arg).cast("double")
                else:
                    expr = F.signum(arg).cast("long")
            else:  # tofloat
                expr = _scalar_arg(args[0]).try_cast("double")
            name = f"__fn{next(fn_seq)}"
            plan = plan.withColumn(name, expr)
            extra_cols.add(name)
            return name

        while True:
            masked_ret = _mask_quotes(ret_text)
            # size(<prop|string literal>) first: its own regex, so the
            # projection-grammar size(r) / degree size((n)-[:R]->())
            # forms are never consumed here
            sm = _SIZE_SCALAR_RE.search(masked_ret)
            if sm is not None:
                fn, arg_span = "size", 1
            else:
                sm = _SCALAR_RE.search(masked_ret)
                if sm is None:
                    break
                fn, arg_span = sm.group(1), 2
            name = _compile_scalar(
                fn,
                ret_text[sm.start(arg_span):sm.end(arg_span)],
                sm.group(arg_span),
            )
            ret_text = ret_text[:sm.start()] + name + ret_text[sm.end():]

        # ---- arithmetic expressions in RETURN --------------------------
        # The projection math generated queries wrap values in
        # ("RETURN l.price * (1 - l.discount) AS net",
        #  "RETURN sum(l.qty * l.price) AS rev"): a small recursive-
        # descent parser (+ - * / with standard precedence, parens,
        # unary minus; atoms are props — try_cast double — numeric
        # literals, and earlier hidden columns) compiles each
        # expression to ONE hidden column, usable bare (AS alias
        # required) or as an aggregate argument. Division is FLOAT
        # division (props are strings cast to double; openCypher's
        # integer/integer -> integer division does not apply to this
        # engine's string-prop model — documented deviation).
        # Aggregates-of-arithmetic rewrite to agg(__arith); arithmetic
        # OVER aggregate results (sum(x) * 2) stays out of subset.
        def _ret_atom(t: str) -> Column:
            if "." in t:
                v, _, p = t.partition(".")
                return prop_col(v, p).try_cast("double")
            if t in extra_cols:
                return F.col(t).try_cast("double")
            raise ValueError(f"unknown atom {t!r}")

        def _parse_arith(text: str):
            return _arith_column(text, _ret_atom)

        def _arith_hidden(expr_text: str) -> str | None:
            nonlocal plan
            try:
                col, n_ops = _parse_arith(expr_text)
            except ValueError:
                return None
            if n_ops == 0:
                return None  # plain term: existing grammar handles it
            name = f"__arith{next(fn_seq)}"
            plan = plan.withColumn(name, col)
            extra_cols.add(name)
            return name

        # aggregate arguments first: agg( <arith> ) -> agg(__arithK)
        def _rewrite_agg_args(text: str) -> str:
            out, last = [], 0
            for m in re.finditer(
                r"\b(count|sum|avg|min|max|stDev)\s*\(([^()]*)\)",
                text,
                re.IGNORECASE,
            ):
                inner = m.group(2)
                if re.match(r"\s*DISTINCT\b", inner, re.IGNORECASE):
                    continue
                name = _arith_hidden(inner)
                if name is None:
                    continue
                out.append(text[last:m.start(2)])
                out.append(name)
                last = m.end(2)
            out.append(text[last:])
            return "".join(out)

        ret_text = _rewrite_agg_args(ret_text)
        items_out = []
        for item in _split_top_commas(ret_text):
            am = re.fullmatch(
                r"(.+?)\s+AS\s+(\w+)\s*", item, re.IGNORECASE | re.DOTALL
            )
            if am is not None and _RET_ITEM.fullmatch(item.strip()) is None:
                name = _arith_hidden(am.group(1))
                if name is not None:
                    items_out.append(f"{name} AS {am.group(2)}")
                    continue
            items_out.append(item)
        ret_text = ", ".join(i.strip() for i in items_out)

    ret_is_distinct = bool(re.match(r"DISTINCT\b", ret_text, re.IGNORECASE))
    ret_has_aggs = any(
        (m := _RET_ITEM.fullmatch(item.strip())) is not None
        and (m.group(1) or m.group(4))  # count/sum/... or percentileDisc
        for item in _split_top_commas(
            re.sub(r"^DISTINCT\b", "", ret_text, flags=re.IGNORECASE)
        )
    )
    order_items: list[tuple[str, bool]] = []  # (column name, desc?)
    hidden: list[str] = []
    for order_text in order_texts:
        for part in _split_top_commas(order_text):
            part = part.strip()
            pm = re.fullmatch(
                r"(\w+)\.(\w+)(?:\s+(ASC|DESC))?", part, re.IGNORECASE
            )
            am = re.fullmatch(
                r"(count|sum|avg|min|max)\s*\(\s*(?:DISTINCT\s+)?"
                r"(\*|\w+(?:\.\w+)?)\s*\)(?:\s+(ASC|DESC))?",
                part,
                re.IGNORECASE,
            )
            cm = re.fullmatch(r"(\w+)(?:\s+(ASC|DESC))?", part, re.IGNORECASE)
            if pm is not None and ns is None:
                var, prop, direction = pm.groups()
                if ret_is_distinct or ret_has_aggs:
                    raise CypherUnsupported(
                        f"ORDER BY {var}.{prop} after RETURN DISTINCT / "
                        "aggregation: the property is out of scope — "
                        "return it under an alias and order by that"
                    )
                name = f"__ord{len(hidden)}"
                hidden.append(name)
                ret_text = f"{ret_text}, {var}.{prop} AS {name}"
                order_items.append(
                    (name, (direction or "").upper() == "DESC", True)
                )
                continue
            elif am is not None:
                fnl, arg, direction = am.groups()
                # the projection's default aggregate column name
                name = (
                    f"{fnl.lower()}_"
                    f"{arg.replace('.', '_').replace('*', 'all')}"
                )
            elif cm is not None:
                name, direction = cm.groups()
            else:
                raise CypherUnsupported(f"bad ORDER BY item {part!r}")
            order_items.append(
                (name, (direction or "").upper() == "DESC", False)
            )

    if (
        (ret_is_distinct or order_items or (local and ret_has_aggs))
        and (local or (
            len(segments) == 1 and limit_text is None
            and anchored(first_var)
        ))
    ):
        # the tail over one partition: DISTINCT, aggregation and ORDER BY
        # there need no hash exchange, no range-sampling job and no range
        # exchange. Over local inputs every read's tail runs there (the
        # read is one task anyway); otherwise an anchored read's, which
        # ends in a few rows (adaptive execution skips some of those
        # stages after an empty side, so their job count varied with the
        # parameter)
        plan = plan.coalesce(1)
    out = compile_projection(plan, ret_text, ns, extra_cols)

    # ---- ORDER BY / SKIP / LIMIT --------------------------------------
    if order_items:
        order_cols = []
        for name, desc, is_prop in order_items:
            if name not in out.columns:
                raise CypherUnsupported(
                    f"ORDER BY must use a returned column name or a "
                    f"projected aggregate/property: {name!r}"
                )
            col = F.col(name)
            if is_prop:
                # props store strings; openCypher orders by VALUE with
                # numbers before strings. Numeric-parseable values sort
                # numerically, the raw string breaks ties / orders the
                # non-numeric rest.
                num = col.try_cast("double")
                if desc:
                    order_cols.extend([num.desc_nulls_first(), col.desc()])
                else:
                    order_cols.extend([num.asc_nulls_last(), col.asc()])
            else:
                order_cols.append(col.desc() if desc else col.asc())
        out = out.orderBy(*order_cols)
    if skip_text is not None:
        out = out.offset(int(skip_text.strip()))
    if limit_text is not None:
        out = out.limit(int(limit_text.strip()))
    if hidden:
        out = out.drop(*hidden)
    return out

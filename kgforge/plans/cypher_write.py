"""Write-Cypher: the reference SDK's emitted MERGE surface, replayed
through the batch upserts.

The reference materializes every extracted entity/relation by EMITTING
Cypher at FalkorDB (ref graphrag_sdk/steps/extract_data_step.py:218-266,
kg.py:202,236, entity.py:148). A user switching engines therefore holds a
stream of exactly these query strings — this module accepts them
verbatim. Supported shapes (the ONLY ones the reference generates):

  MERGE (n:Label {k: "v", ...}) [SET n += {k2: "v2", ...}] [RETURN n]
  MATCH (s:L1 {..}) MATCH (t:L2 {..})
      MERGE (s)-[r:REL [{..}]]->(t) [SET r += {..}] [RETURN r]

`execute_writes` parses a batch and replays it through
KnowledgeGraph.add_nodes / add_edges — identical MERGE / `SET +=`
semantics (key = the ontology's unique attributes, matched-edge props
overlay), but N queries collapse into ONE table rewrite per table per
segment instead of N round-trips: at reference scale each LLM call emits
dozens of MERGEs and a web-scale corpus emits billions, so per-query
writes are the non-distributed anti-pattern. Sequential visibility is
preserved exactly: queries are grouped into segments in which every node
MERGE precedes every edge MERGE (a node MERGE arriving after edge
MERGEs flushes the segment first), so an edge whose endpoint is only
created by a LATER query drops — FalkorDB's MATCH semantics for the
same sequence.

Documented deviation: the reference's edge MERGE re-matches endpoints by
whatever attributes the query carries; this replay keys endpoints by the
ontology's unique attributes (extract_data_step.py only ever emits
unique attributes in endpoint MATCHes, so the two agree on every query
the reference produces).

Value literals follow the reference's own serializer
(helpers.py:map_dict_to_cypher_properties): double-quoted strings with
backslash-escaped quotes, bare numerals, python-str booleans.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

from kgforge.plans.cypher_exec import CypherUnsupported, _mask_quotes

if TYPE_CHECKING:  # pragma: no cover
    from kgforge.kg import KnowledgeGraph

_WS = re.compile(r"\s+")


def _unescape(lit: str) -> str:
    body = lit[1:-1]
    return body.replace("\\" + lit[0], lit[0]).replace("\\\\", "\\")


def _parse_value(text: str):
    text = text.strip()
    if len(text) >= 2 and text[0] in "'\"" and text[-1] == text[0]:
        return _unescape(text)
    if re.fullmatch(r"-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?", text):
        # The reference serializer emits non-strings via str(value); Python
        # renders small/large floats exponent-only without a decimal point
        # (str(1e-05) == '1e-05'), so '.' OR an exponent marks a float
        # (ADVICE r04).
        if "." in text or "e" in text or "E" in text:
            return float(text)
        return int(text)
    if text in ("true", "false", "True", "False"):
        return text.lower() == "true"
    raise CypherUnsupported(f"unsupported property literal {text!r}")


def _parse_props(raw: str, masked: str, pos: int) -> tuple[dict, int]:
    """Parse one `{k: v, ...}` block starting at masked[pos] == '{'.
    Returns (props, index just past the closing brace).

    Nested maps are rejected with a specific error rather than mis-parsed
    at the first '}' (ADVICE r04): the reference serializer renders
    list-valued attributes as a nested map literal ('{0: v1, 1: v2}'),
    which is outside the replay subset — raise loudly so the batch abort
    names the actual cause."""
    end = masked.find("}", pos)
    if end < 0:
        raise CypherUnsupported("unterminated property map")
    nested = masked.find("{", pos + 1)
    if 0 <= nested < end:
        raise CypherUnsupported(
            "nested property map (list-valued attribute?) is outside the "
            f"write-replay subset: {raw[pos:end + 1]!r}"
        )
    inner_raw, inner_masked = raw[pos + 1:end], masked[pos + 1:end]
    props: dict = {}
    if inner_masked.strip():
        last = 0
        spans = []
        for j, ch in enumerate(inner_masked):
            if ch == ",":
                spans.append((last, j))
                last = j + 1
        spans.append((last, len(inner_masked)))
        for a, b in spans:
            entry_masked = inner_masked[a:b]
            k = entry_masked.find(":")
            if k < 0:
                raise CypherUnsupported(
                    f"bad property entry {inner_raw[a:b].strip()!r}"
                )
            key = inner_raw[a:a + k].strip()
            if not re.fullmatch(r"\w+", key):
                raise CypherUnsupported(f"bad property key {key!r}")
            props[key] = _parse_value(inner_raw[a + k + 1:b])
    return props, end + 1


class _Cursor:
    def __init__(self, raw: str):
        self.raw = raw
        self.masked = _mask_quotes(raw)
        self.pos = 0

    def take(self, pattern: str, required: bool = True):
        m = re.compile(pattern, re.IGNORECASE).match(
            self.masked, self.pos
        )
        if m is None:
            if required:
                raise CypherUnsupported(
                    f"expected /{pattern}/ at: {self.raw[self.pos:]!r}"
                )
            return None
        self.pos = m.end()
        return m

    def props(self) -> dict:
        m = self.take(r"\s*\{", required=False)
        if m is None:
            return {}
        out, self.pos = _parse_props(self.raw, self.masked, m.end() - 1)
        return out

    def done(self) -> bool:
        return not self.masked[self.pos:].strip()


def parse_write(query: str) -> tuple:
    """One reference-emitted write query ->
    ("node", label, props) or
    ("edge", rel, src_label, dst_label, src_props, dst_props, props).
    MERGE props and `SET var +=` props are merged (SET wins), exactly
    the reference's create-then-overlay sequence."""
    c = _Cursor(query.strip())
    if c.take(r"\s*MERGE\b", required=False):
        m = c.take(r"\s*\(\s*(\w+)\s*:\s*(\w+)")
        var, label = m.group(1), m.group(2)
        props = c.props()
        c.take(r"\s*\)")
        props.update(_tail(c, var))
        return ("node", label, props)
    if c.take(r"\s*MATCH\b", required=False):
        m = c.take(r"\s*\(\s*(\w+)\s*:\s*(\w+)")
        s_var, s_label = m.group(1), m.group(2)
        s_props = c.props()
        m = c.take(r"\s*\)\s*MATCH\s*\(\s*(\w+)\s*:\s*(\w+)")
        t_var, t_label = m.group(1), m.group(2)
        t_props = c.props()
        m = c.take(
            r"\s*\)\s*MERGE\s*\(\s*(\w+)\s*\)\s*-\s*\[\s*(\w+)\s*:\s*(\w+)"
        )
        left_var, rel_var, rel = m.group(1), m.group(2), m.group(3)
        rel_props = c.props()
        m = c.take(r"\s*\]\s*->\s*\(\s*(\w+)\s*\)")
        right_var = m.group(1)
        if (left_var, right_var) != (s_var, t_var):
            raise CypherUnsupported(
                f"MERGE endpoints ({left_var})-...->({right_var}) must be "
                f"the MATCHed variables ({s_var}), ({t_var}) in order"
            )
        rel_props.update(_tail(c, rel_var))
        return ("edge", rel, s_label, t_label, s_props, t_props, rel_props)
    raise CypherUnsupported(
        "write queries start with MERGE (node) or MATCH ... MERGE (edge)"
    )


def _tail(c: _Cursor, var: str) -> dict:
    """[SET var += {..}] [RETURN var] end-of-query tail."""
    set_props: dict = {}
    m = c.take(r"\s*SET\s+(\w+)\s*\+=\s*", required=False)
    if m is not None:
        if m.group(1) != var:
            raise CypherUnsupported(
                f"SET targets unknown variable {m.group(1)!r}"
            )
        mm = c.take(r"\{")
        set_props, c.pos = _parse_props(c.raw, c.masked, mm.end() - 1)
    c.take(r"\s*RETURN\s+\w+\s*", required=False)
    if not c.done():
        raise CypherUnsupported(
            f"trailing content: {c.raw[c.pos:].strip()!r}"
        )
    return set_props


def execute_writes(kg: "KnowledgeGraph", queries: list[str]) -> dict:
    """Replay a batch of reference-emitted write queries.

    Parses EVERY query before touching storage (a syntax or ontology
    error anywhere aborts the whole batch with nothing written — the
    all-parse-first contract callers get nowhere else); then flushes
    node batches through kg.add_nodes and edge batches through
    kg.add_edges, segmenting so sequential MATCH-visibility is exact
    (see module docstring). Returns counters:
    {"nodes": parsed node queries, "edges": parsed edge queries,
     "segments": flush segments, "edges_written": sum of add_edges
     counts}.
    """
    parsed = [parse_write(q) for q in queries]
    # ontology validation before any IO, same all-or-nothing contract
    for p in parsed:
        if p[0] == "node":
            kg._validate(p[1], p[2])
        else:
            kg._validate(p[1], p[6], is_relation=True)
            kg._validate(p[2], p[4])
            kg._validate(p[3], p[5])
    node_buf: list[tuple] = []
    edge_buf: list[tuple] = []
    stats = {"nodes": 0, "edges": 0, "segments": 0, "edges_written": 0}

    def flush():
        if not node_buf and not edge_buf:
            return
        stats["segments"] += 1
        if node_buf:
            kg.add_nodes(node_buf)
            node_buf.clear()
        if edge_buf:
            stats["edges_written"] += kg.add_edges(edge_buf)
            edge_buf.clear()

    for p in parsed:
        if p[0] == "node":
            if edge_buf:
                flush()  # a node after edges starts a new segment
            node_buf.append((p[1], p[2]))
            stats["nodes"] += 1
        else:
            edge_buf.append((p[1], p[2], p[3], p[4], p[5], p[6]))
            stats["edges"] += 1
    flush()
    return stats

"""Deterministic, ontology-driven triple extraction (the reference's L3 stage).

The reference delegates per-document entity/relation extraction to an LLM
(/root/reference/graphrag_sdk/steps/extract_data_step.py:119-176, prompt schema
fixtures/prompts.py:248-334) and constrains the result to the ontology
(extract_data_step.py:197-200,229-231). Here the same contract — per document,
emit `entities: [{label, attributes}]` and `relations: [{label, source,
target, attributes}]`, ontology-constrained — is met by a *deterministic*
rule engine compiled from the ontology itself:

- relation surface forms derive from the relation label
  (``ACTED_IN -> "acted in"``), matched in active ("X acted in Y"), passive
  ("Y was directed by X") and attributed ("X acted in Y as Z") voice;
- mention spans are capitalized phrases (with of/the/and/in/a connectors);
- entity labels come from the matched relation's (source, target) signature,
  from copula typing sentences ("X is a Person"), and from attribute
  sentences ("The release year of X is 1999") whose attribute name maps
  uniquely to an ontology entity;
- output is restricted to ontology labels by construction (P6/P7) — there is
  nothing to drop afterwards, but `normalize.py` still applies the filter as
  a safety net, mirroring the reference.

No LLM, no network, byte-reproducible. Runs as `mapInPandas` over Arrow
batches — zero per-row Python at the Spark level; regex work is per-document
inside the batch exactly like the reference's per-document parse, but
partition-parallel instead of driver-bound.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.ontology import Ontology

# mention = capitalized token, optionally extended by (connector* capitalized)+
# (single-line: mentions never cross newlines, hence [ \t] not \s)
_CAP = r"[A-Z0-9][\w'&.\-]*"
_CONN = r"(?:of|the|and|in|a)"
MENTION = rf"{_CAP}(?:[ \t]+(?:{_CONN}[ \t]+)*{_CAP})*"
# split after ./!/? + whitespace, but not after an initial like "J." ; also
# every newline is a sentence boundary
_SENT_SPLIT = re.compile(r"(?<=[.!?])(?<![A-Z]\.)\s+|\n+")


def _split_series(seg: str) -> list[str]:
    """Comma-series object segment -> mentions ("Y, Z, and W" -> 3)."""
    out = []
    for part in seg.split(","):
        part = part.strip()
        if part[:4].lower() == "and ":
            part = part[4:]
        if part:
            out.append(part)
    return out


def _clean_key(key: str) -> str:
    """Trim whitespace and a sentence-final period (kept on initials:
    'J.'). Loops until stable: dropping the period can expose interior
    trailing whitespace ('0\\r.' -> '0\\r' -> '0'), which a single pass
    would leave behind — idempotence is property-tested."""
    while True:
        prev = key
        key = key.strip()
        if key.endswith("."):
            last = key.rsplit(" ", 1)[-1]
            if len(last) > 2:
                key = key[:-1]
        if key == prev:
            return key


def _abbrev_compatible(short: str, full: str) -> bool:
    """True iff `short` is an abbreviation of `full` (token-aligned equality
    or initial-expansion, with >=1 non-initial anchor token) — the
    document-local coreference rule (prompts.py:19-20 'most complete
    identifier', resolved per document because abbreviations are globally
    ambiguous)."""
    ta = [t.rstrip(".") for t in short.lower().split()]
    tb = [t.rstrip(".") for t in full.lower().split()]
    if len(ta) != len(tb) or not ta:
        return False
    anchor = False
    for x, y in zip(ta, tb):
        if x == y:
            if len(x) > 1:
                anchor = True
            continue
        if (len(x) == 1 or len(y) == 1) and x[:1] == y[:1]:
            continue
        return False
    return anchor


def _shingle_jaccard(a: str, b: str, k: int = 3) -> float:
    """Char-k-shingle Jaccard on case-folded names (similarity tiebreak)."""
    a, b = a.lower(), b.lower()
    sa = {a[i : i + k] for i in range(max(1, len(a) - k + 1))}
    sb = {b[i : i + k] for i in range(max(1, len(b) - k + 1))}
    return len(sa & sb) / max(1, len(sa | sb))


def _resolve_local_aliases(ents: dict, rels: dict) -> tuple[dict, dict]:
    """Rewrite abbreviated keys to their best same-document expansion.

    Best = the MOST SIMILAR compatible longer key (char-shingle Jaccard),
    ties broken by length then lexicographically. Similarity, not length:
    when a page mentions both "Rosa Xu" and "Rosa Xu-Abbott", the
    abbreviation "Rosa X." must resolve to "Rosa Xu" — longest-wins would
    silently merge two different people. Runs here (not as a Spark stage)
    because the document's names are already in hand — zero extra stages.
    """
    keys_by_label: dict[str, list] = {}
    for (label, key) in ents:
        keys_by_label.setdefault(label, []).append(key)
    mapping: dict[tuple, str] = {}
    for label, keys in keys_by_label.items():
        for k in keys:
            cands = [
                c for c in keys
                if len(c) > len(k) and _abbrev_compatible(k, c)
            ]
            if cands:
                cands.sort(
                    key=lambda c: (-_shingle_jaccard(k, c), -len(c), c)
                )
                mapping[(label, k)] = cands[0]
    if not mapping:
        return ents, rels
    new_ents: dict[tuple, dict] = {}
    # expansions first so the full form's attributes win the merge
    for (label, key), attrs in sorted(
        ents.items(), key=lambda kv: kv[0] not in mapping
    ):
        tgt = (label, mapping.get((label, key), key))
        cur = new_ents.setdefault(tgt, {})
        cur.update(attrs)
        # the unique-key attribute must carry the canonical surface form
        cur.update({k: tgt[1] for k, v in attrs.items() if v == key})
    new_rels: dict[tuple, dict] = {}
    for (label, sl, sk, dl, dk), attrs in rels.items():
        sk = mapping.get((sl, sk), sk)
        dk = mapping.get((dl, dk), dk)
        cur = new_rels.setdefault((label, sl, sk, dl, dk), {})
        cur.update(attrs)
    return new_ents, new_rels

IR_ENTITY_TYPE = (
    "array<struct<label:string,key:string,attributes:map<string,string>>>"
)
IR_RELATION_TYPE = (
    "array<struct<label:string,src_label:string,src_key:string,"
    "dst_label:string,dst_key:string,attributes:map<string,string>>>"
)


def compile_rules(onto: Ontology) -> dict:
    """Ontology -> picklable rule set for the extraction UDF closure."""
    entities = {}
    key_attrs = onto.key_attrs()
    for e in onto.entities:
        entities[e.label] = {
            "key_attr": key_attrs.get(e.label, ""),
            "attrs": {a.name: a.type for a in e.attributes},
        }
    relations = []
    for r in onto.relations:
        relations.append(
            {
                "label": r.label,
                "verb": " ".join(r.label.lower().split("_")),
                "src": r.source,
                "dst": r.target,
                "attrs": {a.name: a.type for a in r.attributes},
            }
        )
    # attribute-name -> owning entity label, only when unambiguous
    attr_owner: dict[str, list] = {}
    for e in onto.entities:
        for a in e.attributes:
            if not a.unique:
                attr_owner.setdefault(a.name, []).append((e.label, a.type))
    attr_rules = {
        name: owners[0] for name, owners in attr_owner.items() if len(owners) == 1
    }
    return {"entities": entities, "relations": relations, "attr_rules": attr_rules}


class _CompiledRules:
    """Regex-compiled form, built once per executor (cached by rules identity)."""

    def __init__(self, rules: dict):
        self.rules = rules
        # object side may be a comma series: "X directed Y, Z, and W".
        # ONLY commas split (the mention grammar itself never contains
        # one), so comma-free behavior is byte-identical to round 1;
        # "Z and W" without a comma stays a single mention (ambiguous:
        # could be one title), exactly as before. A series element that is
        # itself followed by a relation verb (or "was") is the SUBJECT of
        # a coordinate clause, not a list member — "X directed Y, and Z
        # produced W" must not emit DIRECTED(X -> Z) (ADVICE r02). Verbs
        # are lowercase-matched, so capitalized title words never
        # terminate a series.
        verb_alt = "|".join(
            sorted(
                {r"was"}
                | {r["verb"].replace(" ", r"\s+") for r in rules["relations"]}
            )
        )
        _LIST = (
            rf"{MENTION}(?:,[ \t]+(?:and[ \t]+)?"
            rf"(?!{MENTION}[ \t]+(?:{verb_alt})\b){MENTION})*"
        )
        self.rel_patterns = []
        for r in rules["relations"]:
            verb = r["verb"].replace(" ", r"\s+")
            active = re.compile(
                rf"\b({MENTION})\s+{verb}\s+({_LIST})", re.UNICODE
            )
            passive = re.compile(
                rf"\b({MENTION})\s+was\s+{verb}\s+by\s+({_LIST})", re.UNICODE
            )
            attributed = None
            attr_name = next(iter(r["attrs"]), None)
            if attr_name is not None:
                attributed = re.compile(
                    rf"\b({MENTION})\s+{verb}\s+({MENTION})\s+as\s+({MENTION})",
                    re.UNICODE,
                )
            self.rel_patterns.append((r, active, passive, attributed, attr_name))
        self.typing_patterns = [
            (
                label,
                # copula ("X is a Person") and appositive ("X, a Person,")
                re.compile(
                    rf"\b({MENTION})(?:\s+is\s+an?|,\s+an?)\s+{label}\b"
                ),
            )
            for label in rules["entities"]
        ]
        self.rel_by_sig = {
            (r["label"], r["src"], r["dst"]): r for r in rules["relations"]
        }
        self.attr_patterns = []
        for attr_name, (owner_label, attr_type) in rules["attr_rules"].items():
            attr_words = re.escape(attr_name.replace("_", " "))
            # "The release year of X is 1999."
            self.attr_patterns.append((
                attr_name, owner_label, attr_type,
                re.compile(
                    rf"\bthe\s+{attr_words}\s+of\s+"
                    rf"({MENTION})\s+is\s+([^.!?]+?)\s*[.!?]",
                    re.IGNORECASE,
                ),
            ))
            # possessive: "X's release year is 1999." (the mention
            # quantifier backs off the trailing 's, so X stays clean)
            self.attr_patterns.append((
                attr_name, owner_label, attr_type,
                re.compile(
                    rf"\b({MENTION})'s\s+{attr_words}\s+"
                    rf"(?:is|was)\s+([^.!?]+?)\s*[.!?]",
                ),
            ))

    # ------------------------------------------------------------------
    def extract_document(self, text: str, html: str | None = None,
                         wrappers=()):
        """One document -> (entities, relations) lists (reference IR shape).

        `wrappers` are layout-template extractors (operators/wrappers.py)
        run before the sentence grammar; an `exclusive` wrapper that
        matches suppresses the sentence pass for this document (pure
        template pages where free-text rules only add noise). Wrapper
        output flows through the same note_entity/note_relation funnel, so
        key-attribute assignment, key cleaning and the ontology-label
        constraint apply identically.
        """
        rules = self.rules
        ents: dict[tuple, dict] = {}  # (label, key) -> attributes dict
        rels: dict[tuple, dict] = {}

        def note_entity(label: str, key: str, extra: dict | None = None):
            key = _clean_key(key)
            if not key or label not in rules["entities"]:
                return
            key_attr = rules["entities"][label]["key_attr"]
            cur = ents.setdefault((label, key), {})
            if key_attr:
                cur.setdefault(key_attr, key)
            if extra:
                cur.update(extra)

        def note_relation(rel, src_key, dst_key, attrs=None):
            src_key, dst_key = _clean_key(src_key), _clean_key(dst_key)
            if not src_key or not dst_key:
                return
            k = (rel["label"], rel["src"], src_key, rel["dst"], dst_key)
            cur = rels.setdefault(k, {})
            if attrs:
                cur.update(attrs)
            note_entity(rel["src"], src_key)
            note_entity(rel["dst"], dst_key)

        skip_sentences = False
        for w in wrappers:
            content = html if w.needs == "html" else text
            if not content or not w.matches(content):
                continue
            w_ents, w_rels = w.extract(content)
            for label, key, attrs in w_ents:
                note_entity(label, key, attrs)
            rel_by_sig = self.rel_by_sig
            for label, sl, sk, dl, dk, attrs in w_rels:
                rel = rel_by_sig.get((label, sl, dl))
                if rel is not None:  # ontology constraint (P6/P7)
                    note_relation(rel, sk, dk, attrs)
            skip_sentences = skip_sentences or w.exclusive

        for sentence in () if skip_sentences else _SENT_SPLIT.split(text):
            if not sentence or len(sentence) > 2000:
                continue
            for attr_name, owner_label, attr_type, pat in self.attr_patterns:
                for m in pat.finditer(sentence):
                    note_entity(
                        owner_label, m.group(1), {attr_name: m.group(2).strip()}
                    )
            for label, pat in self.typing_patterns:
                for m in pat.finditer(sentence):
                    note_entity(label, m.group(1))
            for rel, active, passive, attributed, attr_name in self.rel_patterns:
                matched_attr = False
                if attributed is not None:
                    for m in attributed.finditer(sentence):
                        note_relation(
                            rel,
                            m.group(1),
                            m.group(2),
                            {attr_name: _clean_key(m.group(3))},
                        )
                        matched_attr = True
                if not matched_attr:
                    for m in active.finditer(sentence):
                        for obj in _split_series(m.group(2)):
                            note_relation(rel, m.group(1), obj)
                for m in passive.finditer(sentence):
                    for agent in _split_series(m.group(2)):
                        note_relation(rel, agent, m.group(1))

        ents, rels = _resolve_local_aliases(ents, rels)
        entities_out = [
            {"label": label, "key": key, "attributes": attrs}
            for (label, key), attrs in sorted(ents.items())
        ]
        relations_out = [
            {
                "label": k[0],
                "src_label": k[1],
                "src_key": k[2],
                "dst_label": k[3],
                "dst_key": k[4],
                "attributes": attrs,
            }
            for k, attrs in sorted(rels.items())
        ]
        return entities_out, relations_out


_COMPILED_CACHE: dict[str, _CompiledRules] = {}


def _get_compiled(rules: dict) -> _CompiledRules:
    import json

    key = json.dumps(rules, sort_keys=True, default=str)
    if key not in _COMPILED_CACHE:
        _COMPILED_CACHE[key] = _CompiledRules(rules)
    return _COMPILED_CACHE[key]


def extract_ir(
    df: DataFrame,
    rules: dict,
    text_col: str = "text",
    max_chars: int = 500_000,
    keep_cols: list[str] | None = None,
    wrappers: list | None = None,
    html_col: str | None = None,
) -> DataFrame:
    """pages -> keep_cols + nested `entities`/`relations` IR columns.

    Reproduces the reference's input cap: content[:max_input_tokens] slices
    *characters* despite the name, default 500,000
    (extract_data_step.py:44,119) — P2 in SURVEY §2.2.

    `keep_cols` limits the passthrough columns (default: all). The pipeline
    passes ["url", "warc_ts"]: shipping the full text back across the Arrow
    boundary roughly doubles the per-row serialization cost for data no
    downstream stage reads (column pruning can't reach inside mapInPandas).

    `wrappers` (picklable specs resolved by wrappers.resolve_wrappers) adds
    layout-template extraction ahead of the sentence grammar; a wrapper
    with needs="html" reads `html_col` (binary or string), so pass it for
    corpora whose facts live in DOM structure (stat tables, credit lists).
    """
    passthrough = list(df.columns) if keep_cols is None else list(keep_cols)
    by_name = {f.name: f for f in df.schema.fields}
    schema = (
        ", ".join(
            f"{by_name[c].name} {by_name[c].dataType.simpleString()}"
            for c in passthrough
        )
        + f", entities {IR_ENTITY_TYPE}, relations {IR_RELATION_TYPE}"
    )
    wrapper_specs = list(wrappers or ())
    use_html = html_col is not None and wrapper_specs

    def run(iterator):
        from kgforge.operators.wrappers import resolve_wrappers

        compiled = _get_compiled(rules)
        wrapper_objs = resolve_wrappers(wrapper_specs)
        for pdf in iterator:
            htmls = pdf[html_col] if use_html else None
            ents_col, rels_col = [], []
            for i, text in enumerate(pdf[text_col]):
                if text is None or len(text) == 0:
                    ents_col.append([])
                    rels_col.append([])
                    continue
                html = None
                if htmls is not None:
                    html = htmls.iloc[i]
                    if isinstance(html, (bytes, bytearray)):
                        html = bytes(html).decode("utf-8", errors="replace")
                e, r = compiled.extract_document(
                    text[:max_chars], html=html, wrappers=wrapper_objs
                )
                ents_col.append(e)
                rels_col.append(r)
            out = pdf[passthrough].copy()
            out["entities"] = ents_col
            out["relations"] = rels_col
            yield out

    # P1: empty-document filter (extract_data_step.py:67-74)
    filtered = df.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
    in_cols = passthrough + [
        c
        for c in ([text_col] + ([html_col] if use_html else []))
        if c not in passthrough
    ]
    return filtered.select(*in_cols).mapInPandas(run, schema=schema)


def explode_ir(ir_df: DataFrame):
    """Nested IR -> flat (mentions, raw_edges) DataFrames.

    mentions(url, warc_ts, label, key, attributes)
    raw_edges(url, warc_ts, label, src_label, src_key, dst_label, dst_key,
              attributes)
    """
    base_cols = [c for c in ("url", "warc_ts") if c in ir_df.columns]
    mentions = (
        ir_df.select(*base_cols, F.explode("entities").alias("e"))
        .select(
            *base_cols,
            F.col("e.label").alias("label"),
            F.col("e.key").alias("key"),
            F.col("e.attributes").alias("attributes"),
        )
    )
    raw_edges = (
        ir_df.select(*base_cols, F.explode("relations").alias("r"))
        .select(
            *base_cols,
            F.col("r.label").alias("label"),
            F.col("r.src_label").alias("src_label"),
            F.col("r.src_key").alias("src_key"),
            F.col("r.dst_label").alias("dst_label"),
            F.col("r.dst_key").alias("dst_key"),
            F.col("r.attributes").alias("attributes"),
        )
    )
    return mentions, raw_edges

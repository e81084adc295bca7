"""Ontology schema objects — JSON-format-compatible with the reference SDK.

Behavioral parity targets (all paths relative to /root/reference/):
- label sanitization: strip ``[^a-zA-Z0-9_]``            (graphrag_sdk/entity.py:39)
- relation label: UPPERCASE then strip non-alnum          (graphrag_sdk/relation.py:125)
- attribute name: non-alnum -> "_"                        (graphrag_sdk/attribute.py:68)
- attribute types: exactly {string, number, boolean}      (graphrag_sdk/attribute.py:14-16)
- codec "name:type!*" (!=unique, *=required)              (graphrag_sdk/attribute.py:94-127)
- JSON shape of entities/relations/attributes             (graphrag_sdk/ontology.py:60-132,
  entity.py:67-100, relation.py:155-218)
- merge semantics: union by label, attribute-union on
  collision                                               (graphrag_sdk/ontology.py:134-166)
- discard orphan entities / dangling relations            (graphrag_sdk/ontology.py:168-227)
- validate: every entity needs >=1 unique attribute       (graphrag_sdk/ontology.py:229-253)

The ontology is tiny (driver-side); at scale it is broadcast to executors
(`compile()` -> plain dict for pandas UDF closures) and/or materialized as two
small DataFrames for join-based validation (`to_dataframes`).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

_SANITIZE_STRIP = re.compile(r"[^a-zA-Z0-9_]")

STRING = "string"
NUMBER = "number"
BOOLEAN = "boolean"
_VALID_TYPES = (STRING, NUMBER, BOOLEAN)


def sanitize_label(label: str) -> str:
    """Entity-label rule: drop every char outside [a-zA-Z0-9_] (entity.py:39)."""
    return _SANITIZE_STRIP.sub("", label)


def sanitize_relation_label(label: str) -> str:
    """Relation-label rule: uppercase, then drop non-alnum (relation.py:125)."""
    return _SANITIZE_STRIP.sub("", label.upper())


def sanitize_attr_name(name: str) -> str:
    """Attribute-name rule: non-alnum chars become '_' (attribute.py:68)."""
    return _SANITIZE_STRIP.sub("_", name)


def attr_type_from_string(txt: str) -> str:
    t = txt.lower()
    if t not in _VALID_TYPES:
        raise ValueError(f"Invalid attribute type: {txt}")
    return t


@dataclass
class Attribute:
    name: str
    type: str
    unique: bool = False
    required: bool = False

    def __post_init__(self):
        self.name = sanitize_attr_name(self.name)
        self.type = attr_type_from_string(self.type)

    @staticmethod
    def from_json(txt: dict | str) -> "Attribute":
        d = txt if isinstance(txt, dict) else json.loads(txt)
        return Attribute(
            d["name"], d["type"], d.get("unique", False), d.get("required", False)
        )

    @staticmethod
    def from_string(txt: str) -> "Attribute":
        """Parse the reference's "name:type!*" codec (attribute.py:94-127)."""
        name = txt.split(":")[0].strip()
        attr_type = txt.split(":")[1].split("!")[0].split("*")[0].strip()
        return Attribute(name, attr_type, "!" in txt, "*" in txt)

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "type": self.type,
            "unique": self.unique,
            "required": self.required,
        }

    def __str__(self) -> str:
        return (
            f'{self.name}: "{self.type}'
            f'{"!" if self.unique else ""}{"*" if self.required else ""}"'
        )


@dataclass
class Entity:
    label: str
    attributes: list[Attribute] = field(default_factory=list)
    description: str = ""

    def __post_init__(self):
        self.label = sanitize_label(self.label)

    @staticmethod
    def from_json(txt: dict | str) -> "Entity":
        d = txt if isinstance(txt, dict) else json.loads(txt)
        return Entity(
            d["label"],
            [Attribute.from_json(a) for a in d.get("attributes", [])],
            d.get("description", ""),
        )

    def to_json(self) -> dict:
        return {
            "label": self.label,
            "attributes": [a.to_json() for a in self.attributes],
            "description": self.description,
        }

    def merge(self, other: "Entity") -> "Entity":
        """Union attribute lists by name (entity.py:102-122)."""
        if self.label != other.label:
            raise ValueError("Entities must have the same label to be combined")
        mine = {a.name for a in self.attributes}
        for a in other.attributes:
            if a.name not in mine:
                self.attributes.append(a)
        return self

    def unique_attributes(self) -> list[Attribute]:
        return [a for a in self.attributes if a.unique]

    def required_attributes(self) -> list[Attribute]:
        return [a for a in self.attributes if a.required]


@dataclass
class Relation:
    label: str
    source: str
    target: str
    attributes: list[Attribute] = field(default_factory=list)

    def __post_init__(self):
        self.label = sanitize_relation_label(self.label)
        # source/target labels follow the entity rule (relation.py:34)
        self.source = sanitize_label(
            self.source if isinstance(self.source, str) else self.source["label"]
        )
        self.target = sanitize_label(
            self.target if isinstance(self.target, str) else self.target["label"]
        )

    @staticmethod
    def from_json(txt: dict | str) -> "Relation":
        d = txt if isinstance(txt, dict) else json.loads(txt)
        src = d["source"]
        dst = d["target"]
        return Relation(
            d["label"],
            src["label"] if isinstance(src, dict) else src,
            dst["label"] if isinstance(dst, dict) else dst,
            [Attribute.from_json(a) for a in d.get("attributes", [])],
        )

    def to_json(self) -> dict:
        return {
            "label": self.label,
            "source": {"label": self.source},
            "target": {"label": self.target},
            "attributes": [a.to_json() for a in self.attributes],
        }

    def combine(self, other: "Relation") -> "Relation":
        if self.label != other.label:
            raise ValueError("Relations must have the same label to be combined")
        mine = {a.name for a in self.attributes}
        for a in other.attributes:
            if a.name not in mine:
                self.attributes.append(a)
        return self


@dataclass
class Ontology:
    entities: list[Entity] = field(default_factory=list)
    relations: list[Relation] = field(default_factory=list)

    # ---------------- JSON round trip (ontology.py:60-132) ----------------
    @staticmethod
    def from_json(txt: dict | str) -> "Ontology":
        d = txt if isinstance(txt, dict) else json.loads(txt)
        return Ontology(
            [Entity.from_json(e) for e in d["entities"]],
            [Relation.from_json(r) for r in d["relations"]],
        )

    @staticmethod
    def load(path: str) -> "Ontology":
        with open(path) as f:
            return Ontology.from_json(json.load(f))

    def to_json(self) -> dict:
        return {
            "entities": [e.to_json() for e in self.entities],
            "relations": [r.to_json() for r in self.relations],
        }

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.to_json(), f, indent=2)

    # ---------------- lookups ----------------
    def get_entity(self, label: str) -> Entity | None:
        return next((e for e in self.entities if e.label == label), None)

    def get_relations(self, label: str) -> list[Relation]:
        return [r for r in self.relations if r.label == label]

    def has_entity(self, label: str) -> bool:
        return any(e.label == label for e in self.entities)

    def has_relation(self, label: str) -> bool:
        return any(r.label == label for r in self.relations)

    # ---------------- merge / prune / validate ----------------
    def merge_with(self, other: "Ontology") -> "Ontology":
        """Union by label; attribute-union on collision (ontology.py:134-166)."""
        for e in other.entities:
            existing = self.get_entity(e.label)
            if existing is None:
                self.entities.append(e)
            else:
                existing.merge(e)
        for r in other.relations:
            existing_rels = self.get_relations(r.label)
            if not existing_rels:
                self.relations.append(r)
            else:
                existing_rels[0].combine(r)
        return self

    def discard_entities_without_relations(self) -> "Ontology":
        """Drop entity labels referenced by no relation (ontology.py:168-202)."""
        referenced = {r.source for r in self.relations} | {
            r.target for r in self.relations
        }
        discarded = {e.label for e in self.entities if e.label not in referenced}
        self.entities = [e for e in self.entities if e.label not in discarded]
        self.relations = [
            r
            for r in self.relations
            if r.source not in discarded and r.target not in discarded
        ]
        return self

    def discard_relations_without_entities(self) -> "Ontology":
        """Drop relations with missing endpoint labels (ontology.py:204-227)."""
        known = {e.label for e in self.entities}
        bad_labels = {
            r.label
            for r in self.relations
            if r.source not in known or r.target not in known
        }
        self.relations = [r for r in self.relations if r.label not in bad_labels]
        return self

    def key_attrs(self) -> dict[str, str]:
        """label -> the attribute a node's key fills (its first unique one);
        labels without a unique attribute are left out."""
        return {
            e.label: e.unique_attributes()[0].name
            for e in self.entities
            if e.unique_attributes()
        }

    def validate_entities(self) -> bool:
        """True iff every entity has >=1 unique attribute (ontology.py:229-253)."""
        return all(len(e.unique_attributes()) > 0 for e in self.entities)

    # ---------------- Spark compile targets ----------------
    def compile(self) -> dict:
        """Plain-dict form for broadcasting into pandas-UDF closures.

        Shape: {
          "entities": {label: {"unique": [names...], "required": [...],
                                "attrs": {name: type}}},
          "relations": {label: [(src_label, dst_label, {attr: type}), ...]},
        }
        """
        ents = {}
        for e in self.entities:
            ents[e.label] = {
                "unique": [a.name for a in e.unique_attributes()],
                "required": [a.name for a in e.required_attributes()],
                "attrs": {a.name: a.type for a in e.attributes},
            }
        rels: dict[str, list] = {}
        for r in self.relations:
            rels.setdefault(r.label, []).append(
                (r.source, r.target, {a.name: a.type for a in r.attributes})
            )
        return {"entities": ents, "relations": rels}

    def to_dataframes(self, spark):
        """Two small DataFrames for join-based validation (broadcast side),
        as local relations."""
        from pyspark.sql import types as T

        from kgforge.session import local_frame

        attr_t = T.ArrayType(
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField("type", T.StringType()),
                    T.StructField("unique", T.BooleanType()),
                    T.StructField("required", T.BooleanType()),
                ]
            )
        )
        ent_schema = T.StructType(
            [
                T.StructField("label", T.StringType()),
                T.StructField("attributes", attr_t),
            ]
        )
        rel_schema = T.StructType(
            [
                T.StructField("label", T.StringType()),
                T.StructField("src_label", T.StringType()),
                T.StructField("dst_label", T.StringType()),
                T.StructField("attributes", attr_t),
            ]
        )
        ent_rows = [
            (
                e.label,
                [(a.name, a.type, a.unique, a.required) for a in e.attributes],
            )
            for e in self.entities
        ]
        rel_rows = [
            (
                r.label,
                r.source,
                r.target,
                [(a.name, a.type, a.unique, a.required) for a in r.attributes],
            )
            for r in self.relations
        ]
        return (
            local_frame(spark, ent_rows, ent_schema),
            local_frame(spark, rel_rows, rel_schema),
        )


def ontology_from_graph(nodes, edges) -> "Ontology":
    """Reverse-engineer an Ontology from materialized graph tables.

    Parity with the reference's `Ontology.from_kg_graph`
    (/root/reference/graphrag_sdk/ontology.py:80-102), which replays
    `MATCH (n) RETURN n` / `MATCH ()-[r]->() RETURN r` and folds what it
    sees. Here the same fold is two small aggregations:

    - entities: per node label, the union of observed property names, typed
      by value shape (all-numeric -> number, true/false -> boolean, else
      string); the pipeline's key attribute convention (key == unique attr
      value) cannot be recovered from data alone, so the first observed
      attribute whose value always equals the node key is marked unique.
    - relations: per (edge label, src node label, dst node label) triple,
      with edge property unions.

    Driver-side collect of *aggregated* metadata only (labels x attr names),
    never of rows.
    """
    from pyspark.sql import functions as F

    num_re = r"^-?[0-9]+(\.[0-9]+)?$"
    props = nodes.select(
        "label", "key", F.explode_outer("props").alias("attr", "value")
    )
    attr_stats = (
        props.filter(F.col("attr").isNotNull())
        .groupBy("label", "attr")
        .agg(
            F.min(F.col("value").rlike(num_re).cast("int")).alias("all_num"),
            F.min(F.lower("value").isin("true", "false").cast("int")).alias(
                "all_bool"
            ),
            F.min((F.col("value") == F.col("key")).cast("int")).alias("is_key"),
        )
        .collect()
    )
    ents: dict[str, list] = {}
    for r in sorted(attr_stats, key=lambda r: (r.label, r.attr)):
        typ = "number" if r.all_num else ("boolean" if r.all_bool else "string")
        # only the FIRST key-matching attribute per label becomes the
        # unique key: a second unique attr would make the pipeline's
        # pipe-joined node key match NO single attribute value on the next
        # round-trip, leaving the recovered entity keyless (ADVICE r01)
        already_keyed = any(a.unique for a in ents.get(r.label, []))
        is_key = bool(r.is_key) and not already_keyed
        ents.setdefault(r.label, []).append(
            Attribute(r.attr, typ, unique=is_key, required=is_key)
        )
    for row in nodes.select("label").distinct().collect():
        ents.setdefault(row.label, [])
    # labels where no attribute mirrors the key (composite keys, keyless
    # IR): synthesize a fallback key the way fix_ontology does, so the
    # recovered ontology always passes validate_entities
    for label, attrs in ents.items():
        if not any(a.unique for a in attrs):
            target = next((a for a in attrs if a.type == "string"), None)
            if target is not None:
                target.unique = True
                target.required = True
            else:
                attrs.append(Attribute("name", "string", True, True))

    rel_rows = (
        edges.select("label", "src_label", "dst_label")
        .distinct()
        .collect()
    )
    rels = [
        Relation(r.label, r.src_label, r.dst_label, [])
        for r in sorted(rel_rows, key=lambda r: (r.label, r.src_label, r.dst_label))
    ]
    return Ontology(
        entities=[Entity(l, attrs) for l, attrs in sorted(ents.items())],
        relations=rels,
    )

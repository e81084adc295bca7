"""Entity linking: MinHash-LSH candidate blocking + scored disambiguation.

The reference achieves alias merging only through LLM prompt instructions
("Coreference Resolution: ... always use the most complete identifier",
/root/reference/graphrag_sdk/fixtures/prompts.py:19-20,239). The engine makes
that deterministic and distributed (SURVEY §2.3 J8):

1. distinct (label, name) pairs -> char-3-shingle MinHash signatures
   (vectorized numpy inside a pandas UDF; seeded permutation params, so
   byte-reproducible);
2. one keyed blocking table: the signature's bands plus the token-initials
   skeleton as one more channel (``band_idx = N_BANDS``), each row keyed
   (label, band_idx, band_hash). One size-capped self equi-join on that key
   gives the candidate pairs — an equi-join realization of a similarity
   join, so Catalyst shuffles on the band key and never builds the O(n^2)
   cross product;
3. candidate pairs are verified with exact name-compatibility scoring
   (same last token + compatible first token, or exact case-fold match) plus
   exact shingle-Jaccard — LSH may overshoot, verification never does; each
   distinct pair is scored once;
4. each non-canonical surface form links to its best candidate only:
   ``row_number() over (partition by mention order by score desc, freq desc,
   candidate)`` == 1 (SURVEY §2.5 disambiguation window);
5. the surviving pairs feed connected-components canonicalization (canon.py),
   and the cluster representative is the *most complete identifier* (longest
   name, tie-broken lexicographically) — the reference's coreference rule.
   Both directions of every pair come from one reference to the scored
   pairs, and CC symmetrizes its edges the same way, so one link map
   evaluates the candidate plan (blocking, join, scoring UDF) once.
"""

from __future__ import annotations

import re
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType

N_HASHES = 32
N_BANDS = 16  # 16 bands x 2 rows: P(miss | jaccard=0.6) ~ (1-0.36)^16 ~ 0.1%
_MERSENNE = (1 << 61) - 1
_SEED = 20240416  # fixed engine seed: signatures are byte-reproducible

_rng = np.random.RandomState(_SEED)
_A = _rng.randint(1, _MERSENNE, size=N_HASHES, dtype=np.int64)
_B = _rng.randint(0, _MERSENNE, size=N_HASHES, dtype=np.int64)

_norm_re = re.compile(r"\s+")


def normalize_name(name: str) -> str:
    return _norm_re.sub(" ", name.lower().strip())


def _shingles(name: str, k: int = 3) -> np.ndarray:
    s = normalize_name(name)
    if len(s) < k:
        toks = [s]
    else:
        toks = [s[i : i + k] for i in range(len(s) - k + 1)]
    return np.unique(
        np.fromiter(
            (zlib.crc32(t.encode("utf-8")) for t in toks),
            dtype=np.int64,
            count=len(toks),
        )
    )


def _minhash_sig(name: str) -> list[int]:
    sh = _shingles(name)
    # (a*x + b) mod p for all hashes x all shingles, min over shingles
    vals = (sh[None, :] * _A[:, None] + _B[:, None]) % _MERSENNE
    return vals.min(axis=1).tolist()


@pandas_udf(ArrayType(LongType()))
def minhash_udf(names: pd.Series) -> pd.Series:
    return names.map(_minhash_sig)


def name_match_score(a: str, b: str) -> float:
    """Deterministic verification score in [0,1]; 0 = not the same entity.

    Exact case-fold match -> 1.0. Otherwise the names must align token by
    token (same count), every pair equal or an initial-expansion
    ("J." <-> "Jonas"), with at least one non-initial token equal as an
    anchor. Survivors score their exact shingle Jaccard in (0,1). This kills
    the "The Iron Tide" ~ "The Broken Tide" false merge (shared first/last
    token) while keeping "J. Dufresne" ~ "Jonas Dufresne".
    """
    na, nb = normalize_name(a), normalize_name(b)
    if na == nb:
        return 1.0
    ta, tb = na.split(), nb.split()
    if not ta or len(ta) != len(tb):
        return 0.0
    anchor = False
    for x, y in zip(ta, tb):
        x, y = x.rstrip("."), y.rstrip(".")
        if x == y:
            if len(x) > 1:
                anchor = True
            continue
        # x[:1], not x[0]: a dot-only token ("Ann . Lee") strips to ""
        if (len(x) == 1 or len(y) == 1) and x[:1] == y[:1]:
            continue
        return 0.0
    if not anchor:
        return 0.0
    sa, sb = set(_shingles(a).tolist()), set(_shingles(b).tolist())
    inter = len(sa & sb)
    return inter / max(1, len(sa | sb))


@pandas_udf(DoubleType())
def _match_score(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [name_match_score(x, y) for x, y in zip(a, b)], dtype="float64"
    )


# Declared nondeterministic so the optimizer keeps it where it is written:
# as a deterministic UDF, the `score > 0` filter is pushed below the pair
# dedup and every pre-dedup duplicate (one per shared band) is scored too.
match_score_udf = _match_score.asNondeterministic()


def _pairs_on(bands: DataFrame, keys: list, max_bucket: int) -> DataFrame:
    """Self equi-join on the blocking keys; buckets larger than max_bucket
    are dropped first. A huge bucket means the key is non-discriminative
    (every "A. D." at crawl scale) — joining it is O(bucket^2) for pairs the
    verifier would reject anyway, so capping bounds worst-case cost without
    touching the discriminative buckets that carry real aliases."""
    from kgforge.functions.dedup import _cap_buckets

    bands = _cap_buckets(bands, keys, max_bucket)
    left = bands.alias("l")
    right = bands.alias("r")
    cond = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys] + [
        F.col("l.name") < F.col("r.name")
    ]
    return left.join(right, on=cond).select(
        F.col("l.label").alias("label"),
        F.col("l.name").alias("a"),
        F.col("r.name").alias("b"),
    )


def candidate_pairs(names: DataFrame, max_bucket: int = 10_000) -> DataFrame:
    """names(label, name, ...) -> verified candidate pairs (label, a, b, score).

    One keyed blocking table (label, name, band_idx, band_hash): rows
    0..N_BANDS-1 are the MinHash-LSH bands over char-3-shingles (catch
    high-Jaccard variants); row N_BANDS hashes the token-initials skeleton
    ("Mona I."/"Mona Ivanova" -> "mi|2"), which catches abbreviation variants
    whose shingle Jaccard is too low for LSH. One size-capped self equi-join
    on its key gives the pairs, never a cross product. Pairs are emitted once
    (a < b lexicographically) and each distinct pair is scored once, exactly,
    so blocking can only lose pairs, never fabricate them; a skeleton hash
    collision only adds a candidate for verification to reject.

    The table is not persisted: both join sides read the one shuffle that
    caps its buckets (Spark reuses the identical exchange), so the signature
    UDF runs once per name without a cache to release.
    """
    rows_per_band = N_HASHES // N_BANDS
    toks = F.split(F.lower(F.trim(F.col("name"))), r"\s+")
    skel = F.concat_ws(
        "|",
        F.concat_ws("", F.transform(toks, lambda t: F.substring(t, 1, 1))),
        F.size(toks).cast("string"),
    )
    lsh = F.transform(
        F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
        lambda i: F.xxhash64(
            F.slice("sig", i * rows_per_band + 1, rows_per_band).cast("string")
        ),
    )
    blocks = names.select(
        "label", "name", minhash_udf(F.col("name")).alias("sig"), skel.alias("skel")
    ).select(
        "label",
        "name",
        F.posexplode(F.concat(lsh, F.array(F.xxhash64("skel")))).alias(
            "band_idx", "band_hash"
        ),
    )
    pairs = _pairs_on(
        blocks, ["label", "band_idx", "band_hash"], max_bucket
    ).dropDuplicates(["label", "a", "b"])
    return pairs.withColumn("score", match_score_udf("a", "b")).filter(
        F.col("score") > 0.0
    )


def endpoint_names(mentions: DataFrame, raw_edges: DataFrame) -> DataFrame:
    """(label, key) of every mention and of both ends of every edge: the
    name set `link_map` links, so an edge endpoint never seen as a mention
    still gets a canonical key."""
    return mentions.select("label", "key").unionByName(
        raw_edges.select(F.col("src_label").alias("label"), F.col("src_key").alias("key"))
    ).unionByName(
        raw_edges.select(F.col("dst_label").alias("label"), F.col("dst_key").alias("key"))
    )


def link_map(mentions: DataFrame, key_col: str = "key") -> DataFrame:
    """mentions(label, key, ...) -> (label, key, canon_key) for EVERY distinct
    surface form (identity rows included, so downstream joins are total).

    Disambiguation: a surface form keeps only its best-scoring partner;
    clusters are closed transitively by connected components; the
    representative is the longest (then lexicographically greatest) member —
    "most complete identifier".
    """
    from kgforge.operators.canon import connected_components

    # the name set feeds the candidate plan, CC's vertices and the output
    # join; checkpointed so it is aggregated once, not once per consumer
    names = mentions.groupBy("label", F.col(key_col).alias("name")).agg(
        F.count("*").alias("freq")
    ).localCheckpoint()
    pairs = candidate_pairs(names)

    # scored disambiguation: each name keeps its single best partner, and
    # edges only point from the LESS complete to the more complete form
    # (equal lengths — case folds — link both ways). Without the length
    # gate, one context-free abbreviation ("Rosa X.") becomes a hub that
    # links every compatible full name ("Rosa Xu", "Rosa Xu-Abbott", ...)
    # into a single wrong cluster via CC transitivity.
    freq = names.select("label", F.col("name"), "freq")
    # both directions from one reference to `pairs`, so the candidate plan
    # is evaluated once
    directed = (
        pairs.select(
            "label",
            "score",
            F.inline(
                F.array(
                    F.struct(F.col("a").alias("m"), F.col("b").alias("cand")),
                    F.struct(F.col("b").alias("m"), F.col("a").alias("cand")),
                )
            ),
        )
        .filter(F.length("cand") >= F.length("m"))
        .join(
            freq.select(
                "label", F.col("name").alias("cand"), F.col("freq").alias("cand_freq")
            ),
            on=["label", "cand"],
        )
    )
    w = Window.partitionBy("label", "m").orderBy(
        F.desc("score"), F.desc("cand_freq"), F.asc("cand")
    )
    best = directed.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )

    # undirected edges for CC over ids
    vid = lambda l, n: F.xxhash64(l, n)  # noqa: E731
    edges = best.select(
        vid(F.col("label"), F.col("m")).alias("src"),
        vid(F.col("label"), F.col("cand")).alias("dst"),
    )
    vertices = names.select(
        vid(F.col("label"), F.col("name")).alias("id"), "label", "name"
    )
    comp = connected_components(vertices.select("id"), edges)

    # representative: the longest, then lexicographically greatest, member
    rep = F.max(F.struct(F.length("name"), F.col("name").alias("rep"))).over(
        Window.partitionBy("component")
    )
    return vertices.join(comp, on="id").select(
        "label", F.col("name").alias(key_col), rep["rep"].alias("canon_key")
    )

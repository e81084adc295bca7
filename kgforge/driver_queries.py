"""Driver-contract query inventory: Spark impl + DuckDB oracle per operator.

Each entry exercises one operator family from SURVEY.md §2 (or an engine-new
corpus-curation operator) against the driver's deterministic parquet tables
(`region nation customer supplier part orders lineitem events documents
embeddings`). The DuckDB oracle in ORACLES is the ANSI-SQL ground truth the
driver runs side-by-side at sf=0.01.

Cross-engine determinism rules applied throughout (the driver hash-compares
values after sorting columns by name):

- every aggregate/computed column is aliased identically in both dialects;
- money/metric aggregates are computed in DECIMAL (exact, order-independent)
  and cast to DOUBLE only at the end — double sums would differ by summation
  order between engines;
- threshold tests on ratios are integer cross-multiplications
  (`den*inter >= num*uni`), never float compares;
- integer outputs are cast to BIGINT on both sides (Spark `size()` is int32,
  DuckDB `len()` is int64);
- DuckDB `regexp_replace` needs the 'g' flag to match Spark's replace-all;
- DuckDB `/` on integers returns DOUBLE and `::BIGINT` ROUNDS half-even —
  integer-division oracles must write `floor(a / b)::BIGINT` (or `//`) to
  match Spark's `floor()`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgforge.functions import dedup as D
from kgforge.functions import sharding as SH
from kgforge.functions import similarity as S
from kgforge.functions import textstats as TS

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_STOPLIST_SQL = "[" + ", ".join(f"'{w}'" for w in TS.EN_STOPWORDS) + "]"

from kgforge.functions.geo import geohash_sql as _geohash_sql  # noqa: E402

_GH7_SQL = _geohash_sql("lat", "lon", 7)


# =====================================================================
# §2.2 projections / filters / predicates
# =====================================================================


@_q(
    "p1_filter_nonempty",
    """
    SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars
    FROM documents WHERE text IS NOT NULL AND length(text) > 0
    GROUP BY lang
    """,
)
def p1_filter_nonempty(spark, sf_dir):
    """P1 empty-document filter (extract_data_step.py:67-74) + count."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@_q(
    "p2_truncate",
    """
    SELECT doc_id, substr(text, 1, 100) AS snippet,
           length(substr(text, 1, 100))::BIGINT AS snip_len
    FROM documents
    """,
)
def p2_truncate(spark, sf_dir):
    """P2 content truncation — char slice (extract_data_step.py:119)."""
    snip = F.substring("text", 1, 100)
    return _t(spark, sf_dir, "documents").select(
        "doc_id", snip.alias("snippet"), F.length(snip).cast("long").alias("snip_len")
    )


@_q(
    "p3p5_sanitize",
    """
    SELECT DISTINCT
      source, lang,
      regexp_replace(source || '-' || lang, '[^a-zA-Z0-9_]', '', 'g') AS label_sane,
      regexp_replace(source || '-' || lang, '[^a-zA-Z0-9_]', '_', 'g') AS attr_sane,
      upper(regexp_replace(source || '-' || lang, '[^a-zA-Z0-9_]', '', 'g')) AS pred_norm
    FROM documents
    """,
)
def p3p5_sanitize(spark, sf_dir):
    """P3/P4/P5 sanitization (entity.py:39, attribute.py:68, relation.py:125)."""
    raw = F.concat_ws("-", "source", "lang")
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "source",
            "lang",
            F.regexp_replace(raw, "[^a-zA-Z0-9_]", "").alias("label_sane"),
            F.regexp_replace(raw, "[^a-zA-Z0-9_]", "_").alias("attr_sane"),
            F.upper(F.regexp_replace(raw, "[^a-zA-Z0-9_]", "")).alias("pred_norm"),
        )
        .dropDuplicates()
    )


# =====================================================================
# §2.1 S5/S6 row chunking (floor-drop semantics)
# =====================================================================


@_q(
    "s5_chunk_docs",
    """
    WITH numbered AS (
      SELECT text, row_number() OVER (ORDER BY doc_id) AS rn FROM documents
    ), chunks AS (
      SELECT (rn - 1) // 64 AS chunk_id,
             count(*)::BIGINT AS n_rows,
             md5(string_agg(text, chr(10) ORDER BY rn)) AS chunk_md5
      FROM numbered GROUP BY 1
    )
    SELECT chunk_id, n_rows, chunk_md5 FROM chunks WHERE n_rows = 64
    """,
)
def s5_chunk_docs(spark, sf_dir):
    """S5/S6 chunker: k rows -> 1 document, floor division drops the tail
    (document_loaders/csv.py:20, jsonl.py:18). Routed through the
    PRODUCTION operator (chunk.chunk_rows — the same function the CSV/JSONL
    loaders call), so the oracle hash gates the real code path; surviving
    chunks have exactly k rows by the operator's floor-drop contract."""
    from kgforge.sources.chunk import chunk_rows

    k = 64
    chunks = chunk_rows(
        _t(spark, sf_dir, "documents"),
        text_col="text",
        order_col="doc_id",
        rows_per_document=k,
    )
    return chunks.select(
        "chunk_id",
        F.lit(k).cast("long").alias("n_rows"),
        F.md5(F.encode("content", "UTF-8")).alias("chunk_md5"),
    )


# =====================================================================
# §2.3 joins
# =====================================================================


@_q(
    "j1_resolve_3way",
    """
    SELECT c.c_mktsegment AS segment,
           count(*)::BIGINT AS n_items,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def j1_resolve_3way(spark, sf_dir):
    """J1 endpoint-resolution shape: two hash equi-joins, inner = drop-if-
    missing (extract_data_step.py:266)."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


@_q(
    "j4_anti_customers_no_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j4_anti_customers_no_orders(spark, sf_dir):
    """J4 discard-without-reference as left_anti (ontology.py:168-202)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@_q(
    "j5_semi_parts_in_lineitem",
    """
    SELECT p_brand, count(*)::BIGINT AS n_parts
    FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    GROUP BY 1
    """,
)
def j5_semi_parts_in_lineitem(spark, sf_dir):
    """J5 keep-if-referenced as left_semi (ontology.py:204-227)."""
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem")
    return (
        p.join(l, p.p_partkey == l.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


# =====================================================================
# §2.4 aggregations
# =====================================================================


@_q(
    "a1_last_event_per_user",
    """
    SELECT user_id, event_type AS last_type, value AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def a1_last_event_per_user(spark, sf_dir):
    """A1 last-write-wins, routed through the PRODUCTION operator
    (materialize._lww_props — the same per-attribute max_by the node
    builder uses), so the oracle hash gates the real code path. Events
    become rows with an attributes map; the LWW order is (ts, event_id);
    the winning values are cast back to their source types for
    hash-compare parity with the window-function oracle."""
    from kgforge.operators.materialize import _lww_props

    events = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("warc_ts"),
        F.col("event_id").alias("url"),  # _lww_props order tiebreak column
        F.create_map(
            F.lit("last_type"), F.col("event_type"),
            F.lit("last_value"), F.col("value").cast("string"),
        ).alias("attributes"),
    )
    lww = _lww_props(events, ["user_id"], ["warc_ts", "url"])
    return lww.select(
        "user_id",
        F.col("props")["last_type"].alias("last_type"),
        F.col("props")["last_value"].cast("double").alias("last_value"),
    )


@_q(
    "a2_distinct_user_event",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def a2_distinct_user_event(spark, sf_dir):
    """A2 idempotent dedup (MERGE-per-key semantics), routed through the
    PRODUCTION edge-dedup operator (materialize._lww_props with the key as
    the group — exactly how build_edges collapses duplicate edges)."""
    from kgforge.operators.materialize import _lww_props

    events = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").alias("warc_ts"),
        F.col("event_id").alias("url"),
        F.create_map().cast("map<string,string>").alias("attributes"),
    )
    return _lww_props(
        events, ["user_id", "event_type"], ["warc_ts", "url"]
    ).select("user_id", "event_type")


@_q(
    "a3_langs_per_source",
    """
    SELECT source, string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
           count(DISTINCT lang)::BIGINT AS n_langs
    FROM documents GROUP BY source
    """,
)
def a3_langs_per_source(spark, sf_dir):
    """A3 attribute-union per label (entity.py:117-121) as sorted set-agg."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("lang"))).alias("langs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
    )


# =====================================================================
# §2.5 windows / §2.6 top-k
# =====================================================================


@_q(
    "w1_top3_orders_per_segment",
    """
    SELECT segment, o_orderkey, o_totalprice, rk FROM (
      SELECT c.c_mktsegment AS segment, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey) ::BIGINT AS rk
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rk <= 3
    """,
)
def w1_top3_orders_per_segment(spark, sf_dir):
    """Window top-k per group (SURVEY §2.5 disambiguation shape)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("segment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(F.col("c_mktsegment").alias("segment"), "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
    )


@_q(
    "w2_sessionize_events",
    """
    SELECT user_id, event_id,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
    FROM (
      SELECT user_id, event_id, ts,
             CASE WHEN date_diff('microsecond',
                                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                                 ts) > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new
      FROM events
    )
    """,
)
def w2_sessionize_events(spark, sf_dir):
    """Gap-based sessionization (stateful-streaming analogue in batch)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond precision: exact at timestamp resolution, so both engines
    # agree (SECOND-granularity diffs count boundaries differently)
    gap = F.expr("timestampdiff(MICROSECOND, _prev_ts, ts)")
    is_new = F.when(
        gap.isNull() | (gap > 1_800_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        _t(spark, sf_dir, "events")
        .withColumn("_prev_ts", F.lag("ts").over(w))
        .withColumn("is_new", is_new)
        .withColumn(
            "session_idx",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
        )
        .select("user_id", "event_id", "session_idx")
    )


@_q(
    "w3_session_agg",
    """
    WITH numbered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts)
                     > 1800000000
             THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM numbered
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*)::BIGINT AS n_events
    FROM sess GROUP BY user_id, session_idx
    """,
)
def w3_session_agg(spark, sf_dir):
    """Batch twin of the stateful streaming sessionizer
    (streaming/sessionize.py::sessionize_stream): per-session aggregate
    rows with the same 30-min gap rule. The streaming face emits exactly
    these rows for closed sessions (tests/test_sessionize.py parity)."""
    from kgforge.streaming.sessionize import session_agg

    return session_agg(_t(spark, sf_dir, "events"))


# =====================================================================
# §2.7 set ops
# =====================================================================


@_q(
    "u1_union_nations",
    """
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
    UNION
    SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
    """,
)
def u1_union_nations(spark, sf_dir):
    """U1/U2 union + dedup (ontology.py:134-166, kg.py:105-106)."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey")
    )
    return c.unionByName(s).distinct()


# =====================================================================
# §2.3 J9 connected components (iterative; closed-form oracle)
# =====================================================================


@_q(
    "j9_connected_components",
    """
    SELECT doc_id AS id, (doc_id - doc_id % 7)::BIGINT AS component
    FROM documents
    """,
)
def j9_connected_components(spark, sf_dir):
    """J9 hash-to-min CC on a chain graph (runs of 7 consecutive ids).

    The Spark side runs the real iterative algorithm (canon.py); the oracle
    is the closed form of the expected fixpoint — valid because doc_ids are
    contiguous (asserted in tests).
    """
    from kgforge.operators.canon import connected_components

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    vertices = docs
    mx = docs.agg(F.max("id")).first()[0]
    edges = (
        docs.filter((F.col("id") % 7 != 6) & (F.col("id") < mx))
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    return connected_components(vertices, edges).select(
        "id", F.col("component").cast("long").alias("component")
    )


# =====================================================================
# engine-new: deduplication suite (documents table + seeded variants)
# =====================================================================

_VARIANT_OFFSET = 1_000_000


def _docs_with_exact_variants(spark, sf_dir):
    """documents ∪ case/whitespace-mutated copies (ids offset)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v = d.select(
        (F.col("doc_id") + _VARIANT_OFFSET).alias("doc_id"),
        F.regexp_replace(F.upper("text"), " ", "  ").alias("text"),
    )
    return d.unionByName(v)


@_q(
    "dedup_exact",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_VARIANT_OFFSET}, replace(upper(text), ' ', '  ')
      FROM documents
    ), fps AS (
      SELECT doc_id AS id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM corpus
    ), groups AS (
      SELECT fp, min(id) AS canon_id, count(*) AS n FROM fps GROUP BY fp
    )
    SELECT f.id, g.canon_id, f.fp FROM fps f JOIN groups g USING (fp)
    WHERE g.n >= 2
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: md5 over normalized text, min-id representative."""
    return D.exact_duplicates(
        _docs_with_exact_variants(spark, sf_dir), "doc_id", "text"
    )


def _docs_with_truncated_variants(spark, sf_dir):
    """documents ∪ 80%-prefix copies (high-Jaccard near-dups, ids offset)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    v = d.select(
        (F.col("doc_id") + _VARIANT_OFFSET).alias("doc_id"),
        F.expr("substr(text, 1, (n_chars * 4) div 5)").alias("text"),
        F.col("n_chars"),
    )
    return d.unionByName(v).withColumn("blk", F.substring("text", 1, 40))


@_q(
    "dedup_jaccard",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_VARIANT_OFFSET}, substr(text, 1, (n_chars * 4) // 5)
      FROM documents
    ), ws AS (
      SELECT doc_id AS id, substr(text, 1, 40) AS blk,
             list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
      FROM corpus
    ), pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             len(list_intersect(a.w, b.w))::BIGINT AS inter,
             (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)))::BIGINT AS uni
      FROM ws a JOIN ws b ON a.blk = b.blk AND a.id < b.id
    )
    SELECT id_a, id_b, inter, uni FROM pairs WHERE 10 * inter >= 8 * uni
    """,
)
def dedup_jaccard(spark, sf_dir):
    """Exact n-gram (word-set) Jaccard >= 0.8 with prefix blocking."""
    corpus = _docs_with_truncated_variants(spark, sf_dir)
    out = D.jaccard_pairs(corpus, "blk", "doc_id", "text", num=8, den=10)
    return out.select(
        "id_a", "id_b", F.col("inter").cast("long").alias("inter"),
        F.col("uni").cast("long").alias("uni"),
    )


@_q(
    "dedup_clusters",
    f"""
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_VARIANT_OFFSET}, substr(text, 1, (n_chars * 4) // 5)
      FROM documents
    ), ws AS (
      SELECT doc_id AS id, substr(text, 1, 40) AS blk, length(text) AS q,
             list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
      FROM corpus
    ), pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM ws a JOIN ws b ON a.blk = b.blk AND a.id < b.id
      WHERE 10 * len(list_intersect(a.w, b.w))
            >= 8 * (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)))
    ), sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
    ), comp AS (
      SELECT ws.id, least(ws.id, coalesce(min(r.b), ws.id)) AS cluster
      FROM ws LEFT JOIN reach r ON r.a = ws.id
      GROUP BY ws.id
    )
    SELECT c.id::BIGINT AS doc_id, c.cluster::BIGINT AS cluster,
           CASE WHEN row_number() OVER (
             PARTITION BY c.cluster ORDER BY ws.q DESC, c.id
           ) = 1 THEN 1 ELSE 0 END::BIGINT AS is_rep
    FROM comp c JOIN ws ON ws.id = c.id
    ORDER BY doc_id
    """,
)
def dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER dedup (functions/dedup.py::dedup_clusters, r5):
    exact-Jaccard pairs -> hash-to-min connected components (the CC
    loop runs on the pair graph only) -> one representative per
    cluster, chosen by max text length then min id — the FineWeb
    "keep the best doc of each duplicate cluster" move as one
    composition. Oracle replays the pair rule, takes the transitive
    closure with a recursive CTE, min-labels each component, and ranks
    reps with the identical window. is_rep cast BIGINT on both sides."""
    corpus = _docs_with_truncated_variants(spark, sf_dir).withColumn(
        "q", F.length("text")
    )
    pairs = D.jaccard_pairs(corpus, "blk", "doc_id", "text", num=8, den=10)
    out = D.dedup_clusters(
        corpus, pairs.select("id_a", "id_b"), quality_col="q"
    )
    return (
        out.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("cluster").cast("long").alias("cluster"),
            "is_rep",
        )
        .orderBy("doc_id")
    )


@_q("dedup_minhash")  # LSH banding not SQL-expressible -> rows-only check
def dedup_minhash(spark, sf_dir):
    """MinHash-LSH near-dup candidates (verified by exact Jaccard).

    pytest cross-checks this against `dedup_jaccard`'s exact pairs (LSH must
    recover >= 95% of true pairs at this threshold).
    """
    corpus = _docs_with_truncated_variants(spark, sf_dir)
    out = D.minhash_pairs(
        corpus, "doc_id", "text", threshold_num=8, threshold_den=10
    )
    return out.select(
        "id_a", "id_b", F.col("inter").cast("long").alias("inter"),
        F.col("uni").cast("long").alias("uni"),
    )


@_q("dedup_simhash")  # bit-vote signature not SQL-expressible -> rows-only
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (Hamming <= 3 via chunk blocking)."""
    corpus = _docs_with_truncated_variants(spark, sf_dir)
    return D.simhash_pairs(corpus, "doc_id", "text", max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


# =====================================================================
# engine-new: similarity search over embeddings
# =====================================================================


@_q(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
         scored AS (
           SELECT q.query_id, c.neighbor_id,
                  list_cosine_similarity(q.qv, c.cv) AS sim
           FROM q, c WHERE q.query_id <> c.neighbor_id
         )
    SELECT query_id, neighbor_id, rk FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id)::BIGINT AS rk
      FROM scored
    ) WHERE rk <= 5
    """,
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for the first 10 vectors (exact baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.withColumn("rk", F.col("rk").cast("long"))


@_q("ann_lsh_topk")  # hyperplane LSH not SQL-expressible -> rows-only
def ann_lsh_topk(spark, sf_dir):
    """Random-hyperplane LSH top-5 (recall vs brute force checked in pytest)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = S.lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.withColumn("rk", F.col("rk").cast("long"))


@_q("ann_ivf_topk")  # k-means quantizer not SQL-expressible -> rows-only
def ann_ivf_topk(spark, sf_dir):
    """IVF (k-means cells + probe) top-5 (recall vs brute force in pytest)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = S.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.withColumn("rk", F.col("rk").cast("long"))


# =====================================================================
# engine-new: text analysis suite
# =====================================================================


@_q(
    "text_token_counts",
    """
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9_]+'))::BIGINT AS n_words,
           len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]'))::BIGINT AS n_bpe
    FROM documents
    """,
)
def text_token_counts(spark, sf_dir):
    """Token counting: whitespace + word-run + BPE-ish pre-tokenizer."""
    out = TS.token_counts(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_bpe").cast("long").alias("n_bpe"),
    )


@_q(
    "text_quality",
    f"""
    SELECT doc_id,
           length(text)::BIGINT AS n_chars_m,
           len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens,
           len(regexp_extract_all(text, '[.!?,;:]'))::BIGINT AS n_punct,
           len(regexp_extract_all(text, '[A-Z]'))::BIGINT AS n_upper,
           len(list_intersect(regexp_split_to_array(lower(trim(text)), '\\s+'),
                              {_STOPLIST_SQL}))::BIGINT AS n_stop_distinct
    FROM documents
    """,
)
def text_quality(spark, sf_dir):
    """Quality signals (integer-valued; ratios derived downstream)."""
    out = TS.quality_stats(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        *[
            F.col(c).cast("long").alias(c)
            for c in ["n_chars_m", "n_tokens", "n_punct", "n_upper", "n_stop_distinct"]
        ],
    )


@_q(
    "text_lang_id",
    f"""
    SELECT doc_id,
           CASE WHEN len(list_intersect(
                    regexp_split_to_array(lower(trim(text)), '\\s+'),
                    {_STOPLIST_SQL})) >= 2
                THEN 'en' ELSE 'other' END AS pred_lang
    FROM documents
    """,
)
def text_lang_id(spark, sf_dir):
    """Heuristic language ID: distinct English function-word hits."""
    return TS.lang_id(_t(spark, sf_dir, "documents")).select("doc_id", "pred_lang")


@_q(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))::BIGINT AS n_norm_chars
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 over normalized text."""
    norm = TS.normalize_text(F.col("text"))
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.encode(norm, "UTF-8")).alias("fp"),
        F.length(norm).cast("long").alias("n_norm_chars"),
    )


@_q(
    "text_repetition",
    """
    WITH lined AS (
      SELECT doc_id, replace(text, ' table ', chr(10)) AS text
      FROM documents WHERE text IS NOT NULL
    ), base AS (
      SELECT doc_id, text,
             string_split(text, chr(10)) AS lines,
             regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM lined
    ), big AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
      FROM base,
           LATERAL (SELECT unnest(generate_series(1, len(toks)-1)) AS i) g
      WHERE len(toks) >= 2
    ), cnt AS (
      SELECT doc_id, max(c)::BIGINT AS top_bigram_n,
             sum(c)::BIGINT AS n_bigrams
      FROM (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT b.doc_id,
           len(lines)::BIGINT AS n_lines,
           len(list_distinct(lines))::BIGINT AS n_distinct_lines,
           coalesce(c.n_bigrams, 0)::BIGINT AS n_bigrams,
           coalesce(c.top_bigram_n, 0)::BIGINT AS top_bigram_n
    FROM base b LEFT JOIN cnt c USING (doc_id)
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition signals (functions/textstats.py
    repetition_stats): duplicate-line and top-bigram dominance counts.
    The synthetic documents have no newlines, so the gate injects line
    structure deterministically on BOTH engines (every ' table ' becomes
    a newline) — n_lines then varies per doc and the whitespace
    tokenization still matches (chr(10) is \\s). Bigram mode = explode +
    two-level hash aggregate; oracle = lateral unnest."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).withColumn("text", F.regexp_replace("text", " table ", "\n"))
    out = TS.repetition_stats(docs)
    return out.select(
        "doc_id", "n_lines", "n_distinct_lines", "n_bigrams", "top_bigram_n"
    )


@_q(
    "text_zipf_quality",
    """
    WITH ref_toks AS (
      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
      FROM documents WHERE lang = 'en' AND text IS NOT NULL
    ), vocab AS (
      SELECT tok, count(*) AS c FROM ref_toks GROUP BY tok
      ORDER BY c DESC, tok LIMIT 500
    ), ranked AS (
      SELECT tok, row_number() OVER (ORDER BY c DESC, tok)::BIGINT AS rank
      FROM vocab
    ), oov AS (
      SELECT max(rank) + 1 AS oov_rank FROM ranked
    ), doc_toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
      FROM documents WHERE text IS NOT NULL
    ), scored AS (
      SELECT doc_id,
             count(*)::BIGINT AS n_tok,
             sum(CASE WHEN r.rank IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
             sum(coalesce(r.rank, (SELECT oov_rank FROM oov)))::BIGINT
               AS sum_rank
      FROM doc_toks d LEFT JOIN ranked r USING (tok)
      GROUP BY doc_id
    )
    SELECT doc_id,
           coalesce(s.n_tok, 0)::BIGINT AS n_tok,
           coalesce(s.n_oov, 0)::BIGINT AS n_oov,
           coalesce(s.sum_rank, 0)::BIGINT AS sum_rank
    FROM documents LEFT JOIN scored s USING (doc_id)
    """,
)
def text_zipf_quality(spark, sf_dir):
    """CCNet-style unigram-LM quality scoring, integer-exact
    (functions/textstats.py zipf_rank_model + zipf_quality): fit token
    ranks on the 'en' slice (top 500), score EVERY document by summed
    token rank with OOV charged max_rank+1. sum_rank/n_tok is the
    mean-rank perplexity proxy; the gate pins the integer pieces."""
    docs = _t(spark, sf_dir, "documents")
    model = TS.zipf_rank_model(docs.where(F.col("lang") == "en"), top_n=500)
    out = TS.zipf_quality(docs, model)
    return out.select("doc_id", "n_tok", "n_oov", "sum_rank")


@_q(
    "url_canonical_dedup",
    r"""
    WITH v AS (
      SELECT doc_id, CASE doc_id % 4
        WHEN 0 THEN 'http://www.example.com/doc/'
                    || (doc_id % 100)::VARCHAR || '?utm_source=feed'
        WHEN 1 THEN 'https://example.com:443/doc/'
                    || (doc_id % 100)::VARCHAR || '#sec'
        WHEN 2 THEN 'https://EXAMPLE.COM/doc/'
                    || (doc_id % 100)::VARCHAR || '/'
        ELSE 'https://example.com/doc/'
             || (doc_id % 100)::VARCHAR || '?fbclid=abc&utm_campaign=x'
      END AS url FROM documents
    ), s1 AS (
      SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM v
    ), s2 AS (
      SELECT doc_id,
             lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*', 0))
             || substr(u, length(
                  regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*', 0)
                ) + 1) AS u
      FROM s1
    ), s3 AS (
      SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(u, '^http://', 'https://'),
            '^(https://)www\.', '\1'),
          '^(https://[^/?:]*):(?:443|80)(/|\?|$)', '\1\2') AS u
      FROM s2
    ), s4 AS (
      SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(u,
                '([?&])(utm_[a-z]+|fbclid|gclid|msclkid|ref)=[^&#]*',
                '\1', 'g'),
              '\?&+', '?'),
            '&&+', '&', 'g'),
          '[?&]+$', '') AS u
      FROM s3
    ), c AS (
      SELECT doc_id,
             regexp_replace(u, '^(https://[^?]+[^/?])/(\?|$)', '\1\2') AS u
      FROM s4
    )
    SELECT u AS url_canon, count(*)::BIGINT AS n_variants,
           min(doc_id)::BIGINT AS first_doc
    FROM c GROUP BY 1 ORDER BY url_canon
    """,
)
def url_canonical_dedup(spark, sf_dir):
    """URL canonicalization as the crawl-dedup identity
    (functions/scrub.py canonical_url): four fetch-variant spellings of
    each page (http+www+utm, :443+fragment, case+trailing-slash,
    click-ids) are synthesized deterministically from doc_id on BOTH
    engines and must collapse to one canonical URL per page. The oracle
    replays the exact rule chain step-by-step in DuckDB SQL (\\1 + 'g'
    dialect), so any rule drift breaks the hash."""
    from kgforge.functions.scrub import canonical_url

    d = F.col("doc_id")
    k = (d % 100).cast("string")
    url = (
        F.when(d % 4 == 0, F.concat(
            F.lit("http://www.example.com/doc/"), k,
            F.lit("?utm_source=feed")))
        .when(d % 4 == 1, F.concat(
            F.lit("https://example.com:443/doc/"), k, F.lit("#sec")))
        .when(d % 4 == 2, F.concat(
            F.lit("https://EXAMPLE.COM/doc/"), k, F.lit("/")))
        .otherwise(F.concat(
            F.lit("https://example.com/doc/"), k,
            F.lit("?fbclid=abc&utm_campaign=x")))
    )
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", canonical_url(url).alias("url_canon"))
        .groupBy("url_canon")
        .agg(
            F.count("*").cast("long").alias("n_variants"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("url_canon")
    )


@_q(
    "pii_scrub",
    r"""
    WITH seeded AS (
      SELECT doc_id,
        text
        || CASE WHEN doc_id % 3 > 0
             THEN ' reach user' || doc_id::VARCHAR || '@mail.example.org'
             ELSE '' END
        || CASE WHEN doc_id % 2 = 0
             THEN ' call +44 20 7946 0' || (doc_id % 900 + 100)::VARCHAR
             ELSE '' END
        || ' host 10.0.' || (doc_id % 200)::VARCHAR || '.7 end' AS text
      FROM documents WHERE text IS NOT NULL
    ), pat AS (
      SELECT '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}' AS email,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b' AS ip,
             '\+\d{1,3}(?:[-. ]?\(?\d{2,4}\)?){2,4}\b' AS phone
    ), step AS (
      SELECT doc_id,
             len(regexp_extract_all(text, email)) AS n_emails,
             regexp_replace(text, email, '<EMAIL>', 'g') AS t1, ip, phone
      FROM seeded, pat
    ), step2 AS (
      SELECT doc_id, n_emails,
             len(regexp_extract_all(t1, ip)) AS n_ipv4,
             regexp_replace(t1, ip, '<IP>', 'g') AS t2, phone
      FROM step
    )
    SELECT doc_id, n_emails::BIGINT AS n_emails, n_ipv4::BIGINT AS n_ipv4,
           len(regexp_extract_all(t2, phone))::BIGINT AS n_phones,
           md5(regexp_replace(t2, phone, '<PHONE>', 'g')) AS clean_md5
    FROM step2 ORDER BY doc_id
    """,
)
def pii_scrub(spark, sf_dir):
    """PII redaction audit (functions/scrub.py scrub_pii): emails, IPv4
    addresses and +CC phone numbers are injected deterministically from
    doc_id on BOTH engines (emails on 2/3 of docs, phones on half, an IP
    everywhere), then redacted; the gate hash-compares the per-doc
    redaction counts AND the md5 of the scrubbed text, so a regex that
    over- or under-eats breaks the compare."""
    from kgforge.functions.scrub import scrub_pii

    d = F.col("doc_id")
    seeded = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.when(
                    d % 3 > 0,
                    F.concat(
                        F.lit(" reach user"), d.cast("string"),
                        F.lit("@mail.example.org"),
                    ),
                ).otherwise(F.lit("")),
                F.when(
                    d % 2 == 0,
                    F.concat(
                        F.lit(" call +44 20 7946 0"),
                        (d % 900 + 100).cast("string"),
                    ),
                ).otherwise(F.lit("")),
                F.lit(" host 10.0."), (d % 200).cast("string"),
                F.lit(".7 end"),
            ),
        )
    )
    out = scrub_pii(seeded)
    return out.select(
        "doc_id", "n_emails", "n_ipv4", "n_phones",
        F.md5(F.encode(F.col("text_clean"), "UTF-8")).alias("clean_md5"),
    ).orderBy("doc_id")


def _split_case_sql() -> str:
    from kgforge.functions.sharding import split_bounds

    bounds = split_bounds([("train", 98), ("val", 1), ("test", 1)])
    clauses = " ".join(
        f"WHEN h < '{b}' THEN '{name}'" for b, name in bounds[:-1]
    )
    return f"CASE {clauses} ELSE '{bounds[-1][1]}' END"


@_q(
    "corpus_hash_split",
    f"""
    WITH hashed AS (
      SELECT doc_id,
             substr(md5('kgforge' || doc_id::VARCHAR), 1, 8) AS h
      FROM documents
    )
    SELECT {_split_case_sql()} AS split, count(*)::BIGINT AS n_docs,
           min(doc_id)::BIGINT AS first_doc
    FROM hashed GROUP BY 1 ORDER BY split
    """,
)
def corpus_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment (functions/sharding.py
    hash_split): md5(salt || key) leading-hex thresholds, identical
    literals on both engines via split_bounds(). Keyed on content
    identity, not row position — stable under repartitioning and
    re-runs."""
    from kgforge.functions.sharding import hash_split

    out = hash_split(_t(spark, sf_dir, "documents"))
    return (
        out.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("split")
    )


@_q(
    "corpus_token_shards",
    """
    WITH run AS (
      SELECT doc_id,
             coalesce(sum(n_chars) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS prior
      FROM documents
    )
    SELECT doc_id, floor(prior / 40000)::BIGINT AS shard
    FROM run ORDER BY doc_id
    """,
)
def corpus_token_shards(spark, sf_dir):
    """Token-budget shard assignment (functions/sharding.py
    token_shards): shard = floor(prior running weight / budget) in key
    order, computed as a distributed prefix-sum (range repartition +
    per-partition totals to the driver + local windows) — partition
    boundaries never affect the answer, asserted by the oracle's GLOBAL
    window cumsum. Weight = n_chars, budget 40k chars per shard."""
    from kgforge.functions.sharding import token_shards

    out = token_shards(
        _t(spark, sf_dir, "documents"),
        budget=40_000,
        weight_col="n_chars",
        num_partitions=8,
    )
    return out.select("doc_id", "shard").orderBy("doc_id")


def _strata_case_sql() -> str:
    from kgforge.functions.sharding import sample_bound

    en, de = sample_bound(1, 2), sample_bound(1, 4)
    return (
        f"CASE WHEN lang = 'en' THEN h < '{en}' "
        f"WHEN lang = 'de' THEN h < '{de}' "
        "WHEN lang = 'zh' THEN FALSE ELSE TRUE END"
    )


@_q(
    "corpus_stratified_sample",
    f"""
    WITH hashed AS (
      SELECT doc_id, lang,
             substr(md5('kgforge' || doc_id::VARCHAR), 1, 8) AS h
      FROM documents
    )
    SELECT doc_id::BIGINT AS doc_id, lang
    FROM hashed WHERE {_strata_case_sql()} ORDER BY doc_id
    """,
)
def corpus_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum downsampling (functions/sharding.py
    stratified_sample): corpus rebalancing at fixed integer rates — en
    halved, de quartered, zh dropped, other langs ride the default
    (1,1). Keep iff leading-8 md5(salt || key) hex < the stratum's
    sample_bound threshold; identical literals on both engines. Pure
    single-pass filter (no shuffle), key-deterministic, and samples
    NEST across rates (the 1/4 set is a subset of the 1/2 set)."""
    out = SH.stratified_sample(
        _t(spark, sf_dir, "documents"),
        {"en": (1, 2), "de": (1, 4), "zh": (0, 1)},
    )
    return (
        out.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")
        .orderBy("doc_id")
    )


@_q(
    "corpus_weighted_sample",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ('0x' || substr(md5('kgforge' || doc_id::VARCHAR), 1, 8))
               ::BIGINT AS h,
             least(n_chars // 64, 10) AS w
      FROM documents
    ) WHERE h::HUGEINT * 10 < w::HUGEINT * 1 * 4294967296
    ORDER BY doc_id
    """,
)
def corpus_weighted_sample(spark, sf_dir):
    """Deterministic importance sampling (sharding.py::weighted_sample,
    r5): keep probability min(1, w/10) with an integer quality-proxy
    weight (n_chars div 64 capped at 10) — the DCLM/FineWeb soft
    quality resample without engine RNG. Keep iff h*den < w*num*16^8 on
    the leading-8-hex md5(salt||key) integer: scan-side filter only,
    layout-independent, monotone in weight and rate (nested ablation
    samples). Oracle replays the identical integer compare via DuckDB's
    '0x' hex cast + HUGEINT cross-multiplication."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "w", F.least(F.expr("n_chars div 64"), F.lit(10))
    )
    return (
        SH.weighted_sample(docs, "w", (1, 10))
        .select(F.col("doc_id").cast("long").alias("doc_id"), "lang")
        .orderBy("doc_id")
    )


@_q(
    "corpus_pack_sequences",
    """
    WITH run AS (
      SELECT doc_id, n_chars,
             coalesce(sum(n_chars) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS prior
      FROM documents
    ), b AS (
      SELECT doc_id, prior,
             floor(prior / 2048)::BIGINT AS first_block,
             CASE WHEN coalesce(n_chars, 0) > 0
                  THEN floor((prior + n_chars - 1) / 2048)::BIGINT
                  ELSE floor(prior / 2048)::BIGINT END AS last_block
      FROM run
    )
    SELECT doc_id, prior::BIGINT AS tok_offset, first_block, last_block,
           (last_block - first_block + 1)::BIGINT AS n_blocks
    FROM b ORDER BY doc_id
    """,
)
def corpus_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (functions/sharding.py
    pack_sequences): docs concatenated in key order, cut into
    2048-token blocks; per doc the global offset and the span of blocks
    it touches. Same distributed prefix-sum as token_shards (layout
    never affects the answer — the oracle's GLOBAL window cumsum pins
    it). Weight = n_chars; DuckDB '/' note: integer division returns
    DOUBLE and ::BIGINT rounds, so the oracle floor()s."""
    out = SH.pack_sequences(
        _t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        block=2048,
        weight_col="n_chars",
        num_partitions=8,
    )
    return out.select(
        "doc_id",
        F.col("offset").alias("tok_offset"),
        "first_block",
        "last_block",
        "n_blocks",
    ).orderBy("doc_id")


@_q(
    "dedup_incremental",
    f"""
    WITH newb AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_VARIANT_OFFSET}, replace(upper(text), ' ', '  ')
      FROM documents WHERE doc_id % 4 = 0
    ), nfp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM newb
    ), sfp AS (
      SELECT DISTINCT
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id % 3 = 0
    ), fresh AS (
      SELECT * FROM nfp WHERE fp NOT IN (SELECT fp FROM sfp)
    )
    SELECT min(doc_id)::BIGINT AS doc_id, fp
    FROM fresh GROUP BY fp ORDER BY doc_id
    """,
)
def dedup_incremental(spark, sf_dir):
    """Ingest-time exact dedup (functions/dedup.py dedup_against): a
    new batch (documents + normalized-equal variant copies of every 4th
    doc) deduplicated against a prior snapshot (every 3rd doc) WITHOUT
    touching the snapshot rows — left_anti against the snapshot's
    DISTINCT fingerprint set, then keep-min-id within the batch. Rows
    already seen drop; in-batch variant copies collapse to their base."""
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    seen = base.where(F.col("doc_id") % 3 == 0)
    variants = base.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + _VARIANT_OFFSET).alias("doc_id"),
        F.regexp_replace(F.upper("text"), " ", "  ").alias("text"),
    )
    out = D.dedup_against(base.unionByName(variants), seen)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(F.encode(norm, "UTF-8")).alias("fp"),
    ).orderBy("doc_id")


@_q(
    "cypher_union",
    """
    SELECT DISTINCT name FROM (
      SELECT n.n_name AS name
      FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'REGION_0'
      UNION ALL
      SELECT n_name FROM nation WHERE n_name LIKE 'NATION_1%'
    ) ORDER BY name
    """,
)
def cypher_union(spark, sf_dir):
    """UNION of two full sub-queries (plans/cypher_exec.py run_cypher):
    REGION_0's nations vs nations named NATION_1* — the sides OVERLAP
    (NATION_10/15 are in REGION_0), so the cross-side dedup is
    load-bearing. Each side compiles independently (its own MATCH/WHERE/
    RETURN); plain UNION = unionByName + dropDuplicates. Final sort is
    engine-side (openCypher has no post-union ORDER BY in this subset)."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _nation_region_graph(spark, sf_dir)
    out = run_cypher(
        "MATCH (n:Nation)-[:IN_REGION]->(r:Region) "
        "WHERE r.name = 'REGION_0' RETURN n.name AS name "
        "UNION "
        "MATCH (n:Nation) WHERE n.name STARTS WITH 'NATION_1' "
        "RETURN n.name AS name",
        nodes,
        edges,
    )
    return out.orderBy("name")


@_q(
    "cypher_node_props",
    """
    SELECT 'Nation' AS lbl, n.n_name AS name,
           '{"name":"' || r.r_name || '"}' AS region_props
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    ORDER BY name
    """,
)
def cypher_node_props(spark, sf_dir):
    """labels()/properties() in RETURN (plans/cypher_exec.py): the
    reference's QA contract returns WHOLE entities ("return all relevant
    entities ... and attributes", ref fixtures/prompts.py CYPHER_GEN) —
    labels(n) is the pattern label (single-label model) and
    properties(n) serializes the props map as canonical sorted-key JSON,
    reproduced literally by the oracle's string concat."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _nation_region_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (n:Nation)-[:IN_REGION]->(r:Region) "
        "RETURN labels(n) AS lbl, n.name AS name, "
        "properties(r) AS region_props ORDER BY name",
        nodes,
        edges,
    )


@_q(
    "cypher_percentile",
    """
    WITH g AS (
      SELECT n_name AS nation, list_sort(list(c_acctbal)) AS l
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1
    )
    SELECT nation,
           CAST(l[greatest(CAST(ceil(0.5 * len(l)) AS BIGINT), 1)]
                AS DOUBLE) AS med_bal,
           CAST(l[greatest(CAST(ceil(0.9 * len(l)) AS BIGINT), 1)]
                AS DOUBLE) AS p90_bal
    FROM g ORDER BY nation
    """,
)
def cypher_percentile(spark, sf_dir):
    """percentileDisc (plans/cypher_exec.py _pct_disc): Neo4j/FalkorDB
    nearest-rank percentile — 1-based index ceil(p*n) into the group's
    sorted values, exact (no interpolation) so the cross-engine hash
    compare is stable. The oracle replays the identical rule via DuckDB
    list aggregation + 1-based indexing. Graph = customer -[:FROM]->
    nation (same builder as cypher_num_agg)."""
    from kgforge.plans.cypher_exec import run_cypher

    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    nodes = customer.select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("key"),
        F.create_map(
            F.lit("acctbal"), F.col("c_acctbal").cast("string"),
        ).alias("props"),
    ).unionByName(
        nation.select(
            F.xxhash64(F.lit("Nation"), "n_name").alias("node_id"),
            F.lit("Nation").alias("label"),
            F.col("n_name").alias("key"),
            F.create_map(F.lit("name"), F.col("n_name")).alias("props"),
        )
    )
    edges = customer.join(
        nation, customer.c_nationkey == nation.n_nationkey
    ).select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("src_id"),
        F.lit("FROM").alias("label"),
        F.xxhash64(F.lit("Nation"), "n_name").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "MATCH (c:Customer)-[:FROM]->(n:Nation) "
        "RETURN n AS nation, percentileDisc(c.acctbal, 0.5) AS med_bal, "
        "percentileDisc(c.acctbal, 0.9) AS p90_bal ORDER BY nation",
        nodes,
        edges,
    )


@_q(
    "cypher_math_fns",
    """
    SELECT c_custkey::VARCHAR AS custkey,
           abs(CAST(c_acctbal AS DOUBLE)) AS abs_bal,
           CAST(ceil(CAST(c_acctbal AS DOUBLE)) AS BIGINT) AS ceil_bal,
           CAST(floor(CAST(c_acctbal AS DOUBLE)) AS BIGINT) AS floor_bal,
           CAST(sign(CAST(c_acctbal AS DOUBLE)) AS BIGINT) AS sign_bal,
           CAST(floor(CAST(c_acctbal AS DOUBLE)) AS BIGINT)::VARCHAR
             AS floor_str
    FROM customer ORDER BY custkey
    """,
)
def cypher_math_fns(spark, sf_dir):
    """Math scalars in RETURN (plans/cypher_exec.py hidden-column
    framework): abs/ceil/floor/sign over try_cast-double props,
    toString nested over floor (round() has its own tie-pinning gate,
    cypher_round). ceil/floor/sign return BIGINT (Cypher parity), exact
    on both engines."""
    from kgforge.plans.cypher_exec import run_cypher

    customer = _t(spark, sf_dir, "customer")
    nodes = customer.select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("key"),
        F.create_map(
            F.lit("custkey"), F.col("c_custkey").cast("string"),
            F.lit("acctbal"), F.col("c_acctbal").cast("string"),
        ).alias("props"),
    )
    edges = customer.limit(0).select(
        F.lit(0).cast("long").alias("src_id"),
        F.lit("NONE").alias("label"),
        F.lit(0).cast("long").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "MATCH (c:Customer) RETURN c.custkey AS custkey, "
        "abs(c.acctbal) AS abs_bal, ceil(c.acctbal) AS ceil_bal, "
        "floor(c.acctbal) AS floor_bal, sign(c.acctbal) AS sign_bal, "
        "toString(floor(c.acctbal)) AS floor_str ORDER BY custkey",
        nodes,
        edges,
    )


@_q(
    "cypher_round",
    """
    SELECT c_custkey::VARCHAR AS custkey,
           round((c_custkey * 2 + 1) / 2.0
                 * (CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE -1 END)
                 ::DOUBLE) AS round_tie,
           round(((c_custkey * 4 + 1) / 4.0)::DOUBLE) AS round_quarter,
           round(CAST(c_acctbal AS DOUBLE)) AS round_bal
    FROM customer ORDER BY custkey
    """,
)
def cypher_round(spark, sf_dir):
    """round() scalar (verdict r04 #5; plans/cypher_exec.py hidden-column
    framework). Single-arg FalkorDB round = nearest integer, half away
    from zero. Cross-engine safety argument baked into the gate data:
    at integer scale a double whose shortest repr ends ".5" IS the exact
    dyadic n.5, so Spark's repr-based HALF_UP and DuckDB's binary
    std::round make the same call even AT ties — the gate feeds exact
    n.5 ties of both signs (round_tie), exact .25 fractions
    (round_quarter), and 2-decimal money values (round_bal) to pin all
    three regimes. Multi-digit round(x, d) stays out of subset (repr/
    binary tie classes diverge there — 2.675)."""
    from kgforge.plans.cypher_exec import run_cypher

    customer = _t(spark, sf_dir, "customer")
    tie = (
        (F.col("c_custkey") * 2 + 1) / F.lit(2.0)
        * F.when(F.col("c_custkey") % 2 == 0, 1).otherwise(-1)
    ).cast("double")
    quarter = ((F.col("c_custkey") * 4 + 1) / F.lit(4.0)).cast("double")
    nodes = customer.select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("key"),
        F.create_map(
            F.lit("custkey"), F.col("c_custkey").cast("string"),
            F.lit("tie"), tie.cast("string"),
            F.lit("quarter"), quarter.cast("string"),
            F.lit("acctbal"), F.col("c_acctbal").cast("string"),
        ).alias("props"),
    )
    edges = customer.limit(0).select(
        F.lit(0).cast("long").alias("src_id"),
        F.lit("NONE").alias("label"),
        F.lit(0).cast("long").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "MATCH (c:Customer) RETURN c.custkey AS custkey, "
        "round(c.tie) AS round_tie, round(c.quarter) AS round_quarter, "
        "round(c.acctbal) AS round_bal ORDER BY custkey",
        nodes,
        edges,
    )


@_q("dedup_minhash_incremental")  # LSH banding not SQL-expressible
def dedup_minhash_incremental(spark, sf_dir):
    """Incremental near-dup vs a snapshot (functions/dedup.py
    MinHashIndex + minhash_against): the documents table is the accepted
    snapshot (banded ONCE), the 80%-prefix variants are the incoming
    batch — each variant must hit its base doc WITHOUT the snapshot
    being re-shingled. pytest (test_dedup_caps) adds the fresh-doc
    negative, threshold, and save/load-parity checks."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    variants = d.select(
        (F.col("doc_id") + _VARIANT_OFFSET).alias("doc_id"),
        F.expr("substr(text, 1, (n_chars * 4) div 5)").alias("text"),
    )
    idx = D.minhash_index(d)
    out = D.minhash_against(
        variants, idx, threshold_num=8, threshold_den=10
    )
    return out.select(
        "new_id", "seen_id",
        F.col("inter").cast("long").alias("inter"),
        F.col("uni").cast("long").alias("uni"),
    )


@_q(
    "chunk_text_windows",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ), gen AS (
      SELECT doc_id, t,
             greatest(CAST(ceil((len(t) - 16) / 48.0) AS BIGINT), 1) AS k
      FROM toks
    ), idx AS (
      SELECT doc_id, t, unnest(range(0, k)) AS i FROM gen
    )
    SELECT doc_id, i AS chunk_idx,
           md5(array_to_string(t[i*48+1 : i*48+64], ' ')) AS chunk_md5,
           len(t[i*48+1 : i*48+64])::BIGINT AS n_chunk_tokens
    FROM idx
    ORDER BY doc_id, chunk_idx
    """,
)
def chunk_text_windows(spark, sf_dir):
    """Overlapping token-window chunking (sources/chunk.py
    window_chunks): 64-token windows advancing by 48 (16-token overlap)
    — the RAG/embedding prep shape — as a map-only stage (token array
    materialized once per row, transform + posexplode, zero shuffles).
    The oracle replays the identical slice arithmetic via DuckDB's
    1-based inclusive list slicing (t[a : a+size-1+1] clip-safe)."""
    from kgforge.sources.chunk import window_chunks

    out = window_chunks(_t(spark, sf_dir, "documents"), size=64, overlap=16)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.md5(F.encode(F.col("chunk"), "UTF-8")).alias("chunk_md5"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
    ).orderBy("doc_id", "chunk_idx")


@_q(
    "events_asof_join",
    """
    SELECT l.event_id, l.user_id,
           r.event_id AS signup_id, r.ts AS ts_r
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    ORDER BY l.event_id
    """,
)
def events_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): every purchase event picks up the
    user's latest signup AT OR BEFORE it — the point-in-time attach
    Spark's DataFrame API lacks, realized as the linear UNION-SORT shape
    (one Exchange on the key, per-key window carry-forward, no
    theta-join row explosion). The oracle is DuckDB's NATIVE ASOF LEFT
    JOIN — an independent reference implementation of the semantics."""
    from kgforge.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    out = asof_join(
        ev.where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts"),
        ev.where(F.col("event_type") == "signup")
        .select("user_id", "ts", F.col("event_id").alias("signup_id")),
        on="user_id",
    )
    return out.select(
        "event_id", "user_id", "signup_id_r", "ts_r"
    ).withColumnsRenamed({"signup_id_r": "signup_id"}).orderBy("event_id")


@_q(
    "events_asof_forward",
    """
    WITH m AS (
      SELECT l.event_id, l.user_id, l.ts AS lts,
             r.event_id AS nxt_id, r.ts AS rts
      FROM (SELECT * FROM events WHERE event_type = 'signup') l
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        ON l.user_id = r.user_id AND l.ts <= r.ts
    )
    SELECT event_id, user_id,
           CASE WHEN epoch_us(rts) - epoch_us(lts) <= 604800000000
                THEN nxt_id END AS next_purchase,
           CASE WHEN epoch_us(rts) - epoch_us(lts) <= 604800000000
                THEN rts END AS ts_r
    FROM m ORDER BY event_id
    """,
)
def events_asof_forward(spark, sf_dir):
    """Forward as-of join with tolerance (operators/asof.py, r5): every
    signup picks up the user's FIRST purchase within 7 days — pandas
    merge_asof(direction='forward', tolerance=...) parity, realized as
    the same linear union-sort plan on the NEGATED time axis (one
    Exchange, no theta-join explosion; time_split composes, pinned in
    test_sharding). Oracle = DuckDB's native forward ASOF LEFT JOIN
    (l.ts <= r.ts) with the tolerance applied as a post-predicate —
    an independent reference implementation of both semantics."""
    from kgforge.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    out = asof_join(
        ev.where(F.col("event_type") == "signup")
        .select("event_id", "user_id", "ts"),
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.col("event_id").alias("next_purchase")),
        on="user_id",
        direction="forward",
        tolerance=7 * 86_400_000_000,  # 7 days in micros
    )
    return out.select(
        "event_id", "user_id", "next_purchase_r", "ts_r"
    ).withColumnsRenamed(
        {"next_purchase_r": "next_purchase"}
    ).orderBy("event_id")


@_q(
    "events_range_join",
    """
    SELECT l.event_id, l.user_id, r.event_id AS signup_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    JOIN (SELECT * FROM events WHERE event_type = 'signup') r
      ON l.user_id = r.user_id
     AND l.ts >= r.ts AND l.ts <= r.ts + INTERVAL 7 DAY
    ORDER BY l.event_id, signup_id
    """,
)
def events_range_join(spark, sf_dir):
    """Bucketized range join (operators/asof.py range_join): purchases
    inside each signup's 7-day attribution window. The interval side
    explodes into day-width buckets, the join is a hash equi-join on
    (user_id, bucket) + exact re-filter — linear, vs the
    BroadcastNestedLoopJoin a naive BETWEEN theta-join compiles to. The
    oracle runs the exact predicate join directly."""
    from kgforge.operators.asof import range_join

    ev = _t(spark, sf_dir, "events")
    points = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    intervals = (
        ev.where(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            "user_id",
            F.col("ts").alias("win_lo"),
            (F.col("ts") + F.expr("INTERVAL 7 DAYS")).alias("win_hi"),
        )
    )
    out = range_join(
        points, intervals, "ts", "win_lo", "win_hi", on="user_id"
    )
    return out.select("event_id", "user_id", "signup_id").orderBy(
        "event_id", "signup_id"
    )


@_q(
    "events_rollup_cascade",
    """
    SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS bucket, event_type,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           min(value) AS vmin, max(value) AS vmax
    FROM events GROUP BY 1, 2 ORDER BY bucket, event_type
    """,
)
def events_rollup_cascade(spark, sf_dir):
    """Hypertable rollup cascade (functions/rollup.py rollup_cascade):
    hour -> day -> month, each level re-aggregating the previous level's
    PARTIALS (count by sum, sum by sum in DECIMAL, min/max by min/max) —
    the oracle aggregates monthly DIRECTLY from raw events, so the gate
    proves the three-deep cascade loses nothing."""
    from kgforge.functions.rollup import rollup_cascade

    month = rollup_cascade(_t(spark, sf_dir, "events"))["month"]
    return month.select(
        "bucket",
        "event_type",
        "n",
        F.col("total").cast("double").alias("total_value"),
        "vmin",
        "vmax",
    ).orderBy("bucket", "event_type")


@_q(
    "sketch_kmv_distinct",
    """
    WITH d AS (
      SELECT DISTINCT lang, substr(md5(text), 1, 12) AS h
      FROM documents WHERE text IS NOT NULL
    ), r AS (
      SELECT lang, h,
             row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
      FROM d
    )
    SELECT lang, least(count(*), 50)::BIGINT AS n_kept,
           max(CASE WHEN rn <= 50 THEN h END) AS kth
    FROM r GROUP BY lang ORDER BY lang
    """,
)
def sketch_kmv_distinct(spark, sf_dir):
    """KMV bottom-k distinct sketch (functions/sketch.py): per lang, the
    50 smallest md5 points over document texts. The sketch STATE is a
    pure function of the data (no engine-specific register layout, the
    property HyperLogLog lacks) — the oracle reproduces the exact k-th
    point, proving any engine's sketch of the same data would merge
    cleanly with this one. Estimator + merge algebra are pytest-pinned
    (test_curate)."""
    from kgforge.functions.sketch import kmv_sketch

    sk = kmv_sketch(
        _t(spark, sf_dir, "documents"), "lang", "text", k=50
    )
    return sk.select(
        "lang",
        "n_kept",
        F.element_at("kmv", F.size("kmv")).alias("kth"),
    ).orderBy("lang")


@_q(
    "sketch_hll_registers",
    """
    WITH h AS (
      SELECT o_orderpriority, md5(o_custkey::VARCHAR) AS h
      FROM orders WHERE o_custkey IS NOT NULL
    ), t AS (
      SELECT o_orderpriority,
             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket,
             substr(h, 3, 12) AS tail
      FROM h
    ), z AS (
      SELECT o_orderpriority, bucket, tail,
             length(regexp_extract(tail, '^(0*)', 1)) AS lz
      FROM t
    ), r AS (
      SELECT o_orderpriority, bucket,
             CASE WHEN lz >= 12 THEN 49
                  ELSE lz * 4
                       + (CASE WHEN substr(tail, lz + 1, 1) >= '8' THEN 0
                               WHEN substr(tail, lz + 1, 1) >= '4' THEN 1
                               WHEN substr(tail, lz + 1, 1) >= '2' THEN 2
                               ELSE 3 END)
                       + 1
             END AS rho
      FROM z
    )
    SELECT o_orderpriority, bucket::BIGINT AS bucket, max(rho)::BIGINT AS max_rho
    FROM r GROUP BY 1, 2
    """,
)
def sketch_hll_registers(spark, sf_dir):
    """HyperLogLog register table (functions/sketch.py::hll_registers):
    per order priority, the 256 (p=8) max-rank registers over customer
    keys. Engine-native HLLs (approx_count_distinct) have private
    register layouts and can never be oracle-compared; this formulation
    derives every register from md5 STRING arithmetic both engines
    evaluate bit-identically, so the full sketch state is checked
    exactly. Merge algebra (per-bucket MAX) and the estimator with
    linear-counting correction are pytest-pinned (test_curate)."""
    from kgforge.functions.sketch import hll_registers

    return hll_registers(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_custkey", p=8
    )


@_q(
    "cypher_unwind_with",
    """
    WITH g AS (
      SELECT r.r_name AS region, count(*)::BIGINT AS n_nations
      FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1
    )
    SELECT region, n_nations, tag
    FROM g CROSS JOIN (VALUES ('east'), ('west')) t(tag)
    ORDER BY region, tag
    """,
)
def cypher_unwind_with(spark, sf_dir):
    """UNWIND after WITH (plans/cypher_exec.py): the aggregate-then-
    expand-per-item shape — the WITH carries (region, count), the UNWIND
    stage cross-joins its literal values onto the carried relation, and
    the alias projects/sorts like any plain column."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _nation_region_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (n:Nation)-[:IN_REGION]->(r:Region) "
        "WITH r, count(n) AS n_nations "
        "UNWIND ['east', 'west'] AS tag "
        "RETURN r AS region, n_nations, tag ORDER BY region, tag",
        nodes,
        edges,
    )


@_q(
    "cypher_percentile_cont",
    """
    WITH g AS (
      SELECT n_name AS nation,
             list_sort(list(CAST(c_custkey AS DOUBLE))) AS l
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1
    ), pos AS (
      SELECT nation, l,
             (len(l) - 1) * 0.25 AS p1, (len(l) - 1) * 0.75 AS p3
      FROM g
    )
    SELECT nation,
           l[CAST(floor(p1) AS BIGINT) + 1]
             + (p1 - floor(p1))
               * (coalesce(l[CAST(floor(p1) AS BIGINT) + 2],
                           l[CAST(floor(p1) AS BIGINT) + 1])
                  - l[CAST(floor(p1) AS BIGINT) + 1]) AS q1_key,
           l[CAST(floor(p3) AS BIGINT) + 1]
             + (p3 - floor(p3))
               * (coalesce(l[CAST(floor(p3) AS BIGINT) + 2],
                           l[CAST(floor(p3) AS BIGINT) + 1])
                  - l[CAST(floor(p3) AS BIGINT) + 1]) AS q3_key
    FROM pos ORDER BY nation
    """,
)
def cypher_percentile_cont(spark, sf_dir):
    """percentileCont (plans/cypher_exec.py _pct_cont): linear
    interpolation at (n-1)*p of the sorted group. The oracle hand-writes
    the same v_lo + frac * (v_hi - v_lo) expression; the gate runs it
    over an INTEGER-valued property at DYADIC percentiles (0.25/0.75),
    where every intermediate (position, fraction, product, sum) is
    exactly representable — so the compare is immune to cross-engine FP
    contraction (DuckDB's compiler fuses a*b+c into FMA, which costs a
    ulp on general doubles; observed on the acctbal variant). Same
    customer -[:FROM]-> nation graph as cypher_percentile."""
    from kgforge.plans.cypher_exec import run_cypher

    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    nodes = customer.select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("key"),
        F.create_map(
            F.lit("custkey"), F.col("c_custkey").cast("string"),
        ).alias("props"),
    ).unionByName(
        nation.select(
            F.xxhash64(F.lit("Nation"), "n_name").alias("node_id"),
            F.lit("Nation").alias("label"),
            F.col("n_name").alias("key"),
            F.create_map(F.lit("name"), F.col("n_name")).alias("props"),
        )
    )
    edges = customer.join(
        nation, customer.c_nationkey == nation.n_nationkey
    ).select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("src_id"),
        F.lit("FROM").alias("label"),
        F.xxhash64(F.lit("Nation"), "n_name").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "MATCH (c:Customer)-[:FROM]->(n:Nation) "
        "RETURN n AS nation, percentileCont(c.custkey, 0.25) AS q1_key, "
        "percentileCont(c.custkey, 0.75) AS q3_key ORDER BY nation",
        nodes,
        edges,
    )


@_q(
    "cypher_stdev",
    """
    WITH g AS (
      SELECT n_name AS nation,
             count(*) AS n,
             CAST(sum(c_custkey) AS DOUBLE) AS s,
             CAST(sum(c_custkey * c_custkey) AS DOUBLE) AS s2
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1
    )
    SELECT nation,
           CASE WHEN n <= 1 THEN 0.0
                ELSE sqrt(greatest((s2 - s * s / n) / (n - 1), 0.0))
           END AS sd_key
    FROM g ORDER BY nation
    """,
)
def cypher_stdev(spark, sf_dir):
    """stDev aggregate (plans/cypher_exec.py _stdev_agg): sample stdev
    with ORDER-FREE decimal sums — the reduction order of a shuffle can
    never move the result — then the straight-line double expression
    sqrt((s2 - s*s/n)/(n-1)) replayed verbatim by the oracle (no a*b+c
    shape, so FMA contraction has nothing to fuse; cf.
    cypher_percentile_cont's note). The gate property is integer-valued,
    so the engine's decimal sums and the oracle's plain integer sums
    cast to IDENTICAL doubles (DuckDB's own DECIMAL(18,6) multiply
    overflows at this magnitude — integer sums sidestep it)."""
    from kgforge.plans.cypher_exec import run_cypher

    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    nodes = customer.select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("key"),
        F.create_map(
            F.lit("custkey"), F.col("c_custkey").cast("string"),
        ).alias("props"),
    ).unionByName(
        nation.select(
            F.xxhash64(F.lit("Nation"), "n_name").alias("node_id"),
            F.lit("Nation").alias("label"),
            F.col("n_name").alias("key"),
            F.create_map(F.lit("name"), F.col("n_name")).alias("props"),
        )
    )
    edges = customer.join(
        nation, customer.c_nationkey == nation.n_nationkey
    ).select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("src_id"),
        F.lit("FROM").alias("label"),
        F.xxhash64(F.lit("Nation"), "n_name").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "MATCH (c:Customer)-[:FROM]->(n:Nation) "
        "RETURN n AS nation, stDev(c.custkey) AS sd_key ORDER BY nation",
        nodes,
        edges,
    )


@_q(
    "warc_ingest",
    """
    SELECT 'https://' || source || '/doc/' || doc_id::VARCHAR AS target_uri,
           md5(text) AS text_md5
    FROM documents WHERE text IS NOT NULL
    ORDER BY target_uri
    """,
)
def warc_ingest(spark, sf_dir):
    """WARC round-trip ingestion (sources/warc.py): the documents table
    is serialized into 4 member-gzipped WARC files (Common Crawl layout,
    one response record per doc, deterministic bytes), then re-ingested
    with the DISTRIBUTED parser (binaryFile scan -> mapInPandas) —
    proving byte-exact build->parse->HTTP-split->decode fidelity against
    the table the files came from. Synthesis is driver-side (gate scale:
    hundreds of docs); parsing — the operator under test — is fully
    distributed, one task per file."""
    import os

    from kgforge.sources.warc import build_warc, warc_text_documents

    rows = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "source", "text")
        .collect()
    )
    out_dir = f"/root/repo/.work/warc_gate/{os.path.basename(sf_dir)}"
    os.makedirs(out_dir, exist_ok=True)
    shards: dict[int, list] = {i: [] for i in range(4)}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        shards[r["doc_id"] % 4].append(
            {
                "warc_type": "response",
                "record_id": f"<urn:uuid:{r['doc_id']}>",
                "target_uri": f"https://{r['source']}/doc/{r['doc_id']}",
                "http_status": 200,
                "http_content_type": "text/plain",
                "http_body": r["text"].encode("utf-8"),
            }
        )
    paths = []
    for i, recs in shards.items():
        p = f"{out_dir}/part{i}.warc.gz"
        with open(p, "wb") as f:
            f.write(build_warc(recs, gzip_members=True))
        paths.append(p)
    docs = warc_text_documents(spark, paths)
    return docs.select(
        "target_uri",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
    ).orderBy("target_uri")


@_q(
    "graph_kcore",
    """
    WITH pe AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e0 AS (SELECT src, dst FROM pe UNION ALL SELECT dst, src FROM pe),
    k1 AS (SELECT src FROM e0 GROUP BY src HAVING count(*) >= 80),
    e1 AS (SELECT e.src, e.dst FROM e0 e
           JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src),
    k2 AS (SELECT src FROM e1 GROUP BY src HAVING count(*) >= 80),
    e2 AS (SELECT e.src, e.dst FROM e1 e
           JOIN k2 a ON e.src = a.src JOIN k2 b ON e.dst = b.src)
    SELECT DISTINCT src::BIGINT AS id FROM e2 ORDER BY id
    """,
)
def graph_kcore(spark, sf_dir):
    """Bounded k-core peeling (plans/graph_query.py k_core) on the parts
    co-purchase graph (edge = two parts sharing an order): two peel
    rounds at k = 80, the fixed-unroll contract both engines run (a
    fixpoint is not recursive-CTE-expressible; `rounds=None` peels to
    convergence in production, pytest-gated). Non-vacuous at both test
    scales: 200 -> 46 parts at sf0.001, 2000 -> 1878 at sf0.01."""
    from kgforge.plans.graph_query import k_core

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pe = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .dropDuplicates()
    )
    edges = pe.unionByName(
        pe.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    out = k_core(edges, k=80, rounds=2)
    return out.select(F.col("id").cast("long")).orderBy("id")


@_q(
    "corpus_prep_e2e",
    f"""
    WITH sig AS (
      SELECT doc_id, text,
        CASE WHEN len(list_intersect(
                 regexp_split_to_array(lower(trim(text)), '\\s+'),
                 {_STOPLIST_SQL})) >= 2
             THEN 'en' ELSE 'other' END AS pred_lang,
        len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
        len(regexp_extract_all(text, '[.!?,;:]')) AS n_punct
      FROM documents WHERE text IS NOT NULL
    ), surv AS (
      SELECT doc_id, text FROM sig
      WHERE pred_lang = 'en' AND n_tokens >= 5
        AND 100 * n_punct <= 100 * greatest(n_tokens, 1)
    ), fps AS (
      SELECT doc_id, text,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM surv
    ), keepers AS (
      SELECT f.doc_id, f.text
      FROM fps f JOIN (
        SELECT fp, min(doc_id) AS keep_id FROM fps GROUP BY fp
      ) k USING (fp) WHERE f.doc_id = k.keep_id
    ), sp AS (
      SELECT doc_id, length(text) AS w,
             substr(md5('kgforge' || doc_id::VARCHAR), 1, 8) AS h
      FROM keepers
    ), spl AS (
      SELECT doc_id, w, {{SPLIT_CASE}} AS split FROM sp
    ), run AS (
      SELECT doc_id, split,
             coalesce(sum(w) OVER (
               PARTITION BY split ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS prior
      FROM spl
    )
    SELECT doc_id, split, floor(prior / 4000)::BIGINT AS shard
    FROM run ORDER BY doc_id
    """.replace("{SPLIT_CASE}", _split_case_sql()),
)
def corpus_prep_e2e(spark, sf_dir):
    """The whole training-data prep as ONE call
    (functions/curate.py prepare_corpus): core funnel -> deterministic
    hash split -> per-split token-budget shards (char weights, budget
    4000). The oracle replays every leg — funnel survivors, md5-hex
    split thresholds, per-split global cumsum — so the composition is
    value-exact end to end, per document."""
    from kgforge.functions.curate import prepare_corpus

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    prepared, _audit = prepare_corpus(docs, budget=4000, near_dup=False)
    return prepared.select("doc_id", "split", "shard").orderBy("doc_id")


@_q(
    "corpus_decontaminate",
    r"""
    WITH dt AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ), bt AS (
      SELECT doc_id AS bench_id, t[11:30] AS t
      FROM dt WHERE doc_id % 50 = 0
    ), ds AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+12], ' ') AS shingle
      FROM dt, LATERAL (
        SELECT unnest(generate_series(1, len(t) - 12)) AS i) g
      WHERE len(t) >= 13
    ), bs AS (
      SELECT DISTINCT bench_id, array_to_string(t[i:i+12], ' ') AS shingle
      FROM bt, LATERAL (
        SELECT unnest(generate_series(1, len(t) - 12)) AS i) g
      WHERE len(t) >= 13
    )
    SELECT doc_id, bench_id, count(*)::BIGINT AS n_shared
    FROM ds JOIN bs USING (shingle)
    GROUP BY 1, 2 ORDER BY doc_id, bench_id
    """,
)
def corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination (functions/dedup.py
    ngram_contamination, the GPT-3 13-gram filter): the 'benchmark' is
    synthesized deterministically on BOTH engines as tokens 11-30 of
    every 50th document, so each bench text is contaminated by its
    source doc (>= 8 shared 13-grams) plus any genuine repeats. One
    shingle equi-join, benchmark side broadcastable."""
    from kgforge.functions.dedup import ngram_contamination

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(toks, 11, 20), " ").alias("text"),
    )
    out = ngram_contamination(docs, bench, n=13)
    return out.orderBy("doc_id", "bench_id")


@_q(
    "embedding_quantize",
    """
    WITH s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
               AS q_scale
      FROM embeddings
    )
    SELECT vec_id, q_scale,
           CASE WHEN q_scale > 0 THEN array_to_string(
             list_transform(
               embedding,
               x -> floor(x::DOUBLE / q_scale * 127 + 0.5)::INT),
             ',')
           ELSE array_to_string(
             list_transform(embedding, x -> 0), ',') END AS q_str
    FROM s ORDER BY vec_id
    """,
)
def embedding_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization (functions/embeddings.py
    quantize_int8): scale = max|x| is exact and order-free, each element
    quantizes independently in double precision, so the oracle matches
    bit-for-bit — floor(x/scale*127 + 0.5) is round-half-up on both
    engines. Arrays compare through concat_ws (harness list
    representations differ)."""
    from kgforge.functions.embeddings import quantize_int8

    out = quantize_int8(_t(spark, sf_dir, "embeddings"))
    return out.select(
        "vec_id",
        "q_scale",
        F.concat_ws(
            ",", F.transform(F.col("q_vec"), lambda x: x.cast("string"))
        ).alias("q_str"),
    ).orderBy("vec_id")


# =====================================================================
# analytic headliners (shuffle/join/agg at scale; decimal-exact oracles)
# =====================================================================


@_q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           count(*)::BIGINT AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style scan + hash aggregate (pushdown + partial agg)."""
    l = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "q3_shipping_priority",
    """
    SELECT o.o_orderkey, o.o_orderdate,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3-style multi-join + top-k (broadcast dim, SMJ fact-fact)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@_q(
    "q5_region_revenue",
    """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                                   AND c.c_nationkey = s.s_nationkey
                    JOIN nation n ON s.s_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY 1
    """,
)
def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5-style snowflake join (broadcast small dims)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@_q(
    "events_hourly_rollup",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark, sf_dir):
    """Tumbling-window rollup (batch face of the streaming agg)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


# =====================================================================
# §2.8 string codecs (F1 extract_json fence-strip + JSON field pull)
# =====================================================================


@_q(
    "codec_extract_json",
    """
    WITH fenced AS (
      SELECT event_id,
             CASE WHEN event_id % 2 = 0
                  THEN chr(10) || '```json' || chr(10) || props || chr(10) || '```'
                  ELSE props END AS raw
      FROM events
    ), stripped AS (
      SELECT event_id,
             CASE WHEN regexp_extract(raw, '(?s)```(?:json)?\\s*(.*?)\\s*```', 1) <> ''
                  THEN regexp_extract(raw, '(?s)```(?:json)?\\s*(.*?)\\s*```', 1)
                  ELSE trim(raw) END AS payload
      FROM fenced
    )
    SELECT event_id, CAST(json_extract(payload, '$.k') AS BIGINT) AS k
    FROM stripped
    """,
)
def codec_extract_json(spark, sf_dir):
    """F1 extract_json parity: strip model-response code fences, then parse
    a field (helpers.py:9-19). Half the rows are wrapped in fences to
    exercise both branches."""
    from kgforge.functions.codecs import strip_json_fences

    ev = _t(spark, sf_dir, "events")
    fenced = ev.withColumn(
        "raw",
        F.when(
            F.col("event_id") % 2 == 0,
            F.concat(F.lit("\n```json\n"), F.col("props"), F.lit("\n```")),
        ).otherwise(F.col("props")),
    )
    return fenced.select(
        "event_id",
        F.get_json_object(strip_json_fences(F.col("raw")), "$.k")
        .cast("long")
        .alias("k"),
    )


@_q(
    "codec_normalize_date",
    """
    WITH variants AS (
      SELECT o_orderkey,
             CASE o_orderkey % 4
               WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
               WHEN 1 THEN strftime(o_orderdate, '%m/%d/%Y')
               WHEN 2 THEN strftime(o_orderdate, '%d.%m.%Y')
               ELSE strftime(o_orderdate, '%B %-d, %Y')
             END AS raw
      FROM orders
    )
    SELECT o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS norm_date
    FROM orders o JOIN variants v USING (o_orderkey)
    """,
)
def codec_normalize_date(spark, sf_dir):
    """F8 date normalization: four surface formats all normalize back to
    YYYY-MM-DD (prompts.py:240,346 convention). The oracle's expected value
    is the ISO rendering of the original date."""
    from kgforge.functions.codecs import normalize_date

    o = _t(spark, sf_dir, "orders")
    raw = (
        F.when(F.col("o_orderkey") % 4 == 0, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(F.col("o_orderkey") % 4 == 1, F.date_format("o_orderdate", "MM/dd/yyyy"))
        .when(F.col("o_orderkey") % 4 == 2, F.date_format("o_orderdate", "dd.MM.yyyy"))
        .otherwise(F.date_format("o_orderdate", "MMMM d, yyyy"))
    )
    return o.select(
        "o_orderkey", normalize_date(raw).alias("norm_date")
    )


# =====================================================================
# skew handling: salted operators must equal their unsalted SQL
# =====================================================================


@_q(
    "skew_salted_agg",
    """
    SELECT event_type,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def skew_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation over the hot event_type keys — must be
    value-identical to the plain GROUP BY (the oracle)."""
    from kgforge.operators import skew

    ev = _t(spark, sf_dir, "events")
    hot = skew.heavy_hitters(ev, ["event_type"], min_count=100)
    dec = F.sum(F.col("value").cast("decimal(18,6)")).alias("_sum")
    cnt = F.count("*").alias("_n")
    return skew.salted_agg(
        ev,
        ["event_type"],
        partial_aggs=[cnt, dec],
        merge_aggs=[
            F.sum("_n").alias("n"),
            F.sum("_sum").cast("double").alias("total_value"),
        ],
        hot_keys=hot,
        factor=8,
    )


@_q(
    "skew_replicated_join",
    """
    SELECT n.n_name AS nation, count(*)::BIGINT AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def skew_replicated_join(spark, sf_dir):
    """Salt-replicated broadcast join (hot nation keys spread over 8
    buckets) — must equal the plain join+group (the oracle)."""
    from kgforge.operators import skew

    c = _t(spark, sf_dir, "customer").withColumnRenamed(
        "c_nationkey", "nationkey"
    )
    n = _t(spark, sf_dir, "nation").withColumnRenamed(
        "n_nationkey", "nationkey"
    )
    hot = skew.heavy_hitters(c, ["nationkey"], min_count=10)
    joined = skew.replicate_broadcast_join(
        c, n, ["nationkey"], hot_keys=hot, factor=8
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.count("*").alias("n_customers")
    )


@_q(
    "bucketed_cocolated_join",
    """
    SELECT c_nationkey::BIGINT AS nationkey, count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def bucketed_cocolated_join(spark, sf_dir):
    """North-star bucket layout (range/bucket partitioning on the join key):
    both sides written via sinks.bucketed.write_bucketed so the fact-dim
    join co-locates with ZERO Exchange (plan asserted in
    tests/test_bucketed_layout.py), then a per-nation rollup. The reference
    has no table layout at all (single FalkorDB instance)."""
    import os

    from kgforge.sinks import bucketed as B

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".work",
        "gate_bucketed",
        tag,
    )
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    B.write_bucketed(
        o, f"gate_orders_{tag}", f"{base}/orders",
        bucket_col="o_custkey", n_buckets=16,
    )
    B.write_bucketed(
        c, f"gate_cust_{tag}", f"{base}/customer",
        bucket_col="c_custkey", n_buckets=16,
    )
    joined = spark.table(f"gate_orders_{tag}").join(
        spark.table(f"gate_cust_{tag}"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return joined.groupBy(
        F.col("c_nationkey").cast("long").alias("nationkey")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


# =====================================================================
# graph query surface (EP3): traversal with recursive-CTE oracle
# =====================================================================


@_q(
    "graph_bfs_distances",
    """
    WITH RECURSIVE e AS (
      SELECT DISTINCT o_custkey AS src,
             l_suppkey + 1000000 AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), sym AS (
      SELECT src, dst FROM e UNION SELECT dst, src FROM e
    ), walk(id, dist) AS (
      SELECT (SELECT min(o_custkey) FROM orders), 0
      UNION
      SELECT s.dst, w.dist + 1
      FROM walk w JOIN sym s ON s.src = w.id WHERE w.dist < 3
    )
    SELECT id::BIGINT AS id, min(dist)::BIGINT AS dist FROM walk GROUP BY id
    """,
)
def graph_bfs_distances(spark, sf_dir):
    """Bounded shortest-path BFS (Cypher shortestPath / *1..k parity) on the
    customer—supplier bipartite graph; oracle is a recursive-CTE BFS."""
    from kgforge.plans.graph_query import bfs_distances, symmetrize

    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .dropDuplicates()
    )
    src = o.agg(F.min("o_custkey").alias("id"))
    out = bfs_distances(symmetrize(edges), src, max_depth=3)
    return out.select(F.col("id").cast("long"), F.col("dist").cast("long"))


@_q(
    "graph_pagerank",
    """
    WITH e0 AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), e AS (
      SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
    ), nodes AS (
      SELECT DISTINCT src AS id FROM e
    ), deg AS (
      SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY src
    ), r0 AS (
      SELECT id, 1000000000::BIGINT AS rank FROM nodes
    ), c1 AS (
      SELECT e.dst AS id, sum(r.rank // d.outdeg) AS s
      FROM r0 r JOIN e ON r.id = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ), r1 AS (
      SELECT n.id,
             (150000000 + (85 * coalesce(c.s, 0)) // 100)::BIGINT AS rank
      FROM nodes n LEFT JOIN c1 c ON n.id = c.id
    ), c2 AS (
      SELECT e.dst AS id, sum(r.rank // d.outdeg) AS s
      FROM r1 r JOIN e ON r.id = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ), r2 AS (
      SELECT n.id,
             (150000000 + (85 * coalesce(c.s, 0)) // 100)::BIGINT AS rank
      FROM nodes n LEFT JOIN c2 c ON n.id = c.id
    ), c3 AS (
      SELECT e.dst AS id, sum(r.rank // d.outdeg) AS s
      FROM r2 r JOIN e ON r.id = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    )
    SELECT n.id::BIGINT AS id,
           (150000000 + (85 * coalesce(c.s, 0)) // 100)::BIGINT AS rank
    FROM nodes n LEFT JOIN c3 c ON n.id = c.id
    """,
)
def graph_pagerank(spark, sf_dir):
    """3-iteration PageRank (BIGINT fixed-point so the hash-compare is
    exact across engines) on the symmetrized customer—supplier graph;
    oracle is the same recurrence as unrolled chained CTEs."""
    from kgforge.plans.graph_query import pagerank, symmetrize

    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .dropDuplicates()
    )
    out = pagerank(symmetrize(edges), n_iter=3, scaled=True, dedup=False)
    return out.select(F.col("id").cast("long"), F.col("rank").cast("long"))


@_q(
    "graph_triangles",
    """
    WITH se AS (SELECT c_nationkey AS g, c_custkey AS id FROM customer),
    e AS (
      SELECT a.g AS g, a.id AS a, b.id AS b
      FROM se a JOIN se b ON a.g = b.g AND a.id < b.id
    )
    SELECT e1.g::BIGINT AS nationkey, count(*)::BIGINT AS n_triangles
    FROM e e1 JOIN e e2 ON e2.g = e1.g AND e2.a = e1.b
              JOIN e e3 ON e3.g = e1.g AND e3.a = e1.a AND e3.b = e2.b
    GROUP BY e1.g
    """,
)
def graph_triangles(spark, sf_dir):
    """Per-nation triangle count on the same-nation customer clique graph;
    Spark runs the degree-oriented two-join plan, the oracle the naive
    a<b<c three-way SQL join — counts must agree exactly."""
    from kgforge.plans.graph_query import triangle_count

    se = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("g"), F.col("c_custkey").alias("id")
    )
    a = se.select("g", F.col("id").alias("src"))
    b = se.select("g", F.col("id").alias("dst"))
    edges = a.join(b, on="g").filter(F.col("src") < F.col("dst"))
    out = triangle_count(edges, group_col="g")
    return out.select(
        F.col("g").cast("long").alias("nationkey"), "n_triangles"
    )


@_q(
    "graph_weighted_sssp",
    """
    WITH RECURSIVE pairs AS (
      SELECT a.n_name AS src, b.n_name AS dst,
             abs(a.n_nationkey - b.n_nationkey)::BIGINT AS w
      FROM nation a JOIN nation b
        ON a.n_regionkey = b.n_regionkey AND a.n_name <> b.n_name
    ), walk(id, d, h) AS (
      SELECT (SELECT min(n_name) FROM nation), 0::BIGINT, 0
      UNION
      SELECT p.dst, w.d + p.w, w.h + 1
      FROM walk w JOIN pairs p ON p.src = w.id WHERE w.h < 4
    )
    SELECT id AS nation, min(d)::BIGINT AS dist
    FROM walk GROUP BY id ORDER BY nation
    """,
)
def graph_weighted_sssp(spark, sf_dir):
    """Single-source minimal-weight paths (the prompt-documented
    algo.SSpaths surface) via bounded Bellman-Ford relaxation on the
    same-region nation graph with |nationkey delta| integer weights;
    oracle = exhaustive recursive-CTE walk enumeration, min total weight
    per reachable node. Integer weights keep the compare bit-exact."""
    from kgforge.plans.graph_query import weighted_sssp

    n = _t(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    edges = a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_name") != F.col("b.n_name")),
    ).select(
        F.col("a.n_name").alias("src"),
        F.col("b.n_name").alias("dst"),
        F.abs(F.col("a.n_nationkey") - F.col("b.n_nationkey"))
        .cast("long")
        .alias("w"),
    )
    src = n.agg(F.min("n_name").alias("id"))
    out = weighted_sssp(edges, src, max_hops=4)
    return out.select(
        F.col("id").alias("nation"), F.col("d").cast("long").alias("dist")
    )


@_q(
    "graph_sp_pair",
    """
    WITH RECURSIVE chain AS (
      SELECT n_name AS src, n_nationkey AS sk,
             lead(n_name) OVER (
               PARTITION BY n_regionkey ORDER BY n_nationkey
             ) AS dst,
             lead(n_nationkey) OVER (
               PARTITION BY n_regionkey ORDER BY n_nationkey
             ) AS dk
      FROM nation
    ), pairs AS (
      SELECT src, dst, abs(sk - dk)::BIGINT AS w
      FROM chain WHERE dst IS NOT NULL
      UNION ALL
      SELECT dst, src, abs(sk - dk)::BIGINT
      FROM chain WHERE dst IS NOT NULL
    ), walk(id, d, h) AS (
      SELECT (SELECT n_name FROM nation WHERE n_regionkey = 0
              ORDER BY n_nationkey LIMIT 1), 0::BIGINT, 0
      UNION
      SELECT p.dst, w.d + p.w, w.h + 1
      FROM walk w JOIN pairs p ON p.src = w.id WHERE w.h < 8
    )
    SELECT id AS nation, min(d)::BIGINT AS dist
    FROM walk
    WHERE id = (SELECT n_name FROM nation WHERE n_regionkey = 0
                ORDER BY n_nationkey DESC LIMIT 1)
    GROUP BY id
    """,
)
def graph_sp_pair(spark, sf_dir):
    """Single-PAIR minimal-weight path (the prompt-documented algo.SPpaths
    surface; VERDICT r03 #4): branch-and-bound Bellman-Ford from the
    region-0 chain's first nation to its last — a genuinely multi-hop
    path (chain edges only, |nationkey delta| integer weights). Oracle =
    exhaustive recursive-CTE walk enumeration filtered to the pair."""
    from pyspark.sql import Window

    from kgforge.plans.graph_query import shortest_path_pair

    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    chain = n.select(
        F.col("n_name").alias("src"),
        F.col("n_nationkey").alias("sk"),
        F.lead("n_name").over(w).alias("dst"),
        F.lead("n_nationkey").over(w).alias("dk"),
    ).filter(F.col("dst").isNotNull())
    fwd = chain.select(
        "src", "dst", F.abs(F.col("sk") - F.col("dk")).cast("long").alias("w")
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    r0 = n.filter(F.col("n_regionkey") == 0)
    src = r0.orderBy("n_nationkey").limit(1).select(
        F.col("n_name").alias("id")
    )
    dst = r0.orderBy(F.col("n_nationkey").desc()).limit(1).select(
        F.col("n_name").alias("id")
    )
    out = shortest_path_pair(edges, src, dst, max_hops=8)
    return out.select(
        F.col("id").alias("nation"), F.col("d").cast("long").alias("dist")
    )


@_q(
    "graph_closeness",
    """
    WITH RECURSIVE chain AS (
      SELECT n_name AS src,
             lead(n_name) OVER (
               PARTITION BY n_regionkey ORDER BY n_nationkey
             ) AS dst
      FROM nation
    ), pairs AS (
      SELECT src, dst FROM chain WHERE dst IS NOT NULL
      UNION ALL
      SELECT dst, src FROM chain WHERE dst IS NOT NULL
    ), walk(lm, id, d) AS (
      SELECT n_name, n_name, 0 FROM nation
      UNION
      SELECT w.lm, p.dst, w.d + 1
      FROM walk w JOIN pairs p ON p.src = w.id WHERE w.d < 8
    ), md AS (
      SELECT lm, id, min(d) AS d FROM walk GROUP BY lm, id
    )
    SELECT lm AS nation,
           (count(*) FILTER (WHERE d > 0))::BIGINT AS n_reached,
           sum(d)::BIGINT AS total_dist
    FROM md GROUP BY lm ORDER BY nation
    """,
)
def graph_closeness(spark, sf_dir):
    """Sampled-landmark closeness centrality via landmark-parallel BFS
    (all landmarks share each level's single equi-join — the scale path
    for centralities). Graph = per-region nation CHAINS (nationkey order,
    symmetrized) so distances span 1..4 hops; landmarks = every nation.
    Gate returns the exact BIGINT (n_reached, total_dist) pair; oracle =
    recursive-CTE min-distance enumeration."""
    from pyspark.sql import Window

    from kgforge.plans.graph_query import closeness_centrality

    nation = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    chain = nation.select(
        F.col("n_name").alias("src"), F.lead("n_name").over(w).alias("dst")
    ).filter(F.col("dst").isNotNull())
    edges = chain.unionByName(
        chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    landmarks = nation.select(F.col("n_name").alias("id"))
    out = closeness_centrality(edges, landmarks, max_hops=8)
    return out.select(
        F.col("id").alias("nation"), "n_reached", "total_dist"
    )


@_q(
    "graph_harmonic",
    """
    WITH RECURSIVE chain AS (
      SELECT n_name AS src,
             lead(n_name) OVER (
               PARTITION BY n_regionkey ORDER BY n_nationkey
             ) AS dst
      FROM nation
    ), pairs AS (
      SELECT src, dst FROM chain WHERE dst IS NOT NULL
      UNION ALL
      SELECT dst, src FROM chain WHERE dst IS NOT NULL
    ), walk(lm, id, d) AS (
      SELECT n_name, n_name, 0 FROM nation
      UNION
      SELECT w.lm, p.dst, w.d + 1
      FROM walk w JOIN pairs p ON p.src = w.id WHERE w.d < 8
    ), md AS (
      SELECT lm, id, min(d) AS d FROM walk GROUP BY lm, id
    )
    SELECT lm AS nation, d::BIGINT AS dist, count(*)::BIGINT AS n_at_dist
    FROM md WHERE d > 0 GROUP BY lm, d ORDER BY nation, dist
    """,
)
def graph_harmonic(spark, sf_dir):
    """Harmonic centrality (r5; Boldi-Vigna — the closeness variant
    that stays well-defined on DISCONNECTED graphs, which the
    per-region chain fixture genuinely is: cross-region pairs are
    unreachable and simply contribute nothing). Same landmark-parallel
    BFS as graph_closeness; the gate returns the all-BIGINT per-
    landmark (dist, count) HISTOGRAM — the float Σ n/d
    (graph_query.harmonic_sum) stays out of the hash, same
    exact-integer-decomposition discipline as closeness and
    betweenness."""
    from pyspark.sql import Window

    from kgforge.plans.graph_query import harmonic_centrality

    nation = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    chain = nation.select(
        F.col("n_name").alias("src"), F.lead("n_name").over(w).alias("dst")
    ).filter(F.col("dst").isNotNull())
    edges = chain.unionByName(
        chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    landmarks = nation.select(F.col("n_name").alias("id"))
    return (
        harmonic_centrality(edges, landmarks, max_hops=8)
        .select(F.col("id").alias("nation"), "dist", "n_at_dist")
        .orderBy("nation", "dist")
    )


_WALK_STEP_SQL = """
    , s{k} AS (
      SELECT walk_id, start, dst AS cur, route || '->' || dst AS route
      FROM (
        SELECT s.walk_id, s.start, p.dst, s.route,
               row_number() OVER (
                 PARTITION BY s.walk_id
                 ORDER BY md5('kgforge|' || s.walk_id || '|{step}|'
                              || p.dst)
               ) AS rn
        FROM s{j} s JOIN pairs p ON p.src = s.cur
      ) WHERE rn = 1
      UNION ALL
      SELECT walk_id, start, cur, route FROM s{j} s
      WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.src = s.cur)
    )"""


@_q(
    "graph_random_walks",
    """
    WITH chain AS (
      SELECT n_name AS src,
             lead(n_name) OVER (
               PARTITION BY n_regionkey ORDER BY n_nationkey
             ) AS dst
      FROM nation
    ), pairs AS (
      SELECT src, dst FROM chain WHERE dst IS NOT NULL
      UNION ALL
      SELECT dst, src FROM chain WHERE dst IS NOT NULL
    ), s0 AS (
      SELECT n_name || '#' || w::VARCHAR AS walk_id, n_name AS start,
             n_name AS cur, n_name AS route
      FROM nation, unnest(range(0, 2)) AS u(w)
    )"""
    + _WALK_STEP_SQL.format(k=1, j=0, step=0)
    + _WALK_STEP_SQL.format(k=2, j=1, step=1)
    + _WALK_STEP_SQL.format(k=3, j=2, step=2)
    + """
    SELECT walk_id, start, route FROM s3 ORDER BY walk_id
    """,
)
def graph_random_walks(spark, sf_dir):
    """DeepWalk-style walk-corpus generation (graph_query.random_walks,
    r5): 2 walks x 3 steps from every nation over the symmetrized
    chain. The next hop is the neighbor minimizing
    md5(seed|walk_id|step|dst) — a deterministic uniform hash draw
    with NO engine RNG, which is exactly what lets the oracle replay
    every draw: 3 unrolled argmin-join steps (row_number = 1), sink
    legs via NOT EXISTS. Walks are the training input skip-gram graph
    embeddings consume; per step the engine pays one equi-join + one
    min_by keyed on walk_id (BFS-round shape)."""
    from pyspark.sql import Window

    from kgforge.plans.graph_query import random_walks

    nation = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    chain = nation.select(
        F.col("n_name").alias("src"), F.lead("n_name").over(w).alias("dst")
    ).filter(F.col("dst").isNotNull())
    edges = chain.unionByName(
        chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return (
        random_walks(edges, walk_len=3, n_walks=2)
        .select(
            "walk_id", "start",
            F.concat_ws("->", "path").alias("route"),
        )
        .orderBy("walk_id")
    )


@_q(
    "graph_lpa",
    """
    WITH chain AS (
      SELECT n_name AS src,
             lead(n_name) OVER (
               PARTITION BY n_regionkey ORDER BY n_nationkey
             ) AS dst
      FROM nation
    ), pairs AS (
      SELECT src, dst FROM chain WHERE dst IS NOT NULL
      UNION ALL
      SELECT dst, src FROM chain WHERE dst IS NOT NULL
    ), l0 AS (
      SELECT n_name AS id, n_name AS community FROM nation
    ), v1 AS (
      SELECT e.dst AS id, l.community FROM pairs e JOIN l0 l ON l.id = e.src
      UNION ALL SELECT id, community FROM l0
    ), l1 AS (
      SELECT id, community FROM (
        SELECT id, community, row_number() OVER (
          PARTITION BY id ORDER BY count(*) DESC, community ASC
        ) AS rn FROM v1 GROUP BY id, community
      ) WHERE rn = 1
    ), v2 AS (
      SELECT e.dst AS id, l.community FROM pairs e JOIN l1 l ON l.id = e.src
      UNION ALL SELECT id, community FROM l1
    ), l2 AS (
      SELECT id, community FROM (
        SELECT id, community, row_number() OVER (
          PARTITION BY id ORDER BY count(*) DESC, community ASC
        ) AS rn FROM v2 GROUP BY id, community
      ) WHERE rn = 1
    ), v3 AS (
      SELECT e.dst AS id, l.community FROM pairs e JOIN l2 l ON l.id = e.src
      UNION ALL SELECT id, community FROM l2
    ), l3 AS (
      SELECT id, community FROM (
        SELECT id, community, row_number() OVER (
          PARTITION BY id ORDER BY count(*) DESC, community ASC
        ) AS rn FROM v3 GROUP BY id, community
      ) WHERE rn = 1
    )
    SELECT id AS nation, community FROM l3 ORDER BY nation
    """,
)
def graph_lpa(spark, sf_dir):
    """Label-propagation communities (the FalkorDB CDLP surface),
    deterministic self-inclusive synchronous variant with min tie-break —
    a pure function of (graph, n_iter), so the oracle is the SAME three
    iterations unrolled in SQL. Graph = per-region nation chains."""
    from pyspark.sql import Window

    from kgforge.plans.graph_query import label_propagation

    nation = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    chain = nation.select(
        F.col("n_name").alias("src"), F.lead("n_name").over(w).alias("dst")
    ).filter(F.col("dst").isNotNull())
    edges = chain.unionByName(
        chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = nation.select(F.col("n_name").alias("id"))
    out = label_propagation(edges, nodes, n_iter=3)
    return out.select(F.col("id").alias("nation"), "community")


@_q("graph_match_pattern")  # runs over the built KG -> rows-only
def graph_match_pattern(spark, sf_dir):
    """MATCH (p:Person)-[:DIRECTED]->(m:Movie) over the materialized graph."""
    from kgforge.plans.graph_query import match_edges
    from kgforge.plans.pipeline import build_graph
    from kgforge.sources.pages import corpus_to_spark, generate_corpus, movies_ontology

    corpus = generate_corpus(n_pages=40, seed=42)
    pages, _, _ = corpus_to_spark(spark, corpus)
    out = build_graph(spark, pages, movies_ontology())
    return match_edges(
        out["nodes"], out["edges"], "Person", "DIRECTED", "Movie"
    ).select("src_key", "rel", "dst_key")


# =====================================================================
# KG pipeline end-to-end (non-SQL-expressible -> rows-only checks)
# =====================================================================


@_q("kg_triples_e2e")
def kg_triples_e2e(spark, sf_dir):
    """Full KG construction on the seeded synthetic page corpus: html ->
    text -> extraction -> linking -> CC -> materialized triples."""
    from kgforge.plans.pipeline import build_graph
    from kgforge.sources.pages import corpus_to_spark, generate_corpus, movies_ontology

    corpus = generate_corpus(n_pages=40, seed=42)
    pages, _, _ = corpus_to_spark(spark, corpus)
    out = build_graph(spark, pages, movies_ontology())
    return out["triples"].select(
        "subj_label", "subj_key", "pred", "obj_label", "obj_key"
    )


@_q("kg_entity_link")
def kg_entity_link(spark, sf_dir):
    """MinHash-LSH + CC entity linking over the alias fixture."""
    from kgforge.operators.link import link_map
    from kgforge.sources.pages import generate_corpus

    corpus = generate_corpus(n_pages=40, seed=42)
    mentions = spark.createDataFrame(
        [(a["label"], a["mention"]) for a in corpus.aliases],
        "label string, key string",
    )
    return link_map(mentions).select("label", "key", "canon_key")


@_q(
    "cypher_validate",
    oracle="""
    SELECT * FROM (VALUES
        (1, 0), (2, 1), (3, 0), (4, 0), (5, 1), (6, 1), (7, 0), (8, 1)
    ) AS t(id, n_errors) ORDER BY id
    """,
)
def cypher_validate(spark, sf_dir):
    """F5: Cypher-text validation vs ontology (ref helpers.py:80-213) as a
    distributed column audit. Oracle = hand-derived golden error counts for
    the reference's scenario classes (valid / wrong-direction / comma
    patterns / multi-hop / undirected / unknown labels)."""
    from kgforge.ontology import Entity, Ontology, Relation
    from kgforge.plans.cypher_validate import validate_cypher_udf

    onto = Ontology(
        entities=[Entity("Fighter", []), Entity("Fight", []),
                  Entity("Event", [])],
        relations=[Relation("FOUGHT_IN", "Fighter", "Fight", []),
                   Relation("PART_OF", "Fight", "Event", [])],
    )
    stmts = [
        (1, "MATCH (f:Fighter)-[r:FOUGHT_IN]->(fight:Fight) RETURN f"),
        (2, "MATCH (f:Fighter)<-[r:FOUGHT_IN]-(fight:Fight) RETURN f"),
        (3, "MATCH (f:Fight)-[:PART_OF]->(e:Event), "
            "(x:Fighter)-[:FOUGHT_IN]->(f2:Fight) RETURN f"),
        (4, "MATCH (a:Fighter)-[:FOUGHT_IN]->(b:Fight)-[:PART_OF]->(c:Event) "
            "RETURN a"),
        (5, "MATCH (a:Fighter)-[:FOUGHT_IN]->(b:Fight)<-[:PART_OF]-(c:Event) "
            "RETURN a"),
        (6, "MATCH (:Referee) RETURN 1"),
        (7, "MATCH (f:Fighter)-[r:FOUGHT_IN]-(fight:Fight) RETURN f"),
        (8, "MATCH (f)-[:JUDGED]->(g) RETURN f"),
    ]
    df = spark.createDataFrame(stmts, "id int, cypher string")
    return (
        df.withColumn("errors", validate_cypher_udf(onto)(F.col("cypher")))
        .select("id", F.size("errors").alias("n_errors"))
        .orderBy("id")
    )


def _embeddings_with_near_variants(spark, sf_dir):
    """embeddings ∪ perturbed copies (first component zeroed, ids offset):
    planted pairs land at cosine ~0.99 while the natural background tops
    out ~0.51, so the tau=0.75 threshold sits in a wide float-safe gap."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = e.select(
        (F.col("vec_id") + _VARIANT_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.lit(0.0).cast("float")),
            F.slice("embedding", 2, F.size("embedding") - 1),
        ).alias("embedding"),
    )
    return e.unionByName(v)


@_q(
    "dedup_embedding",
    f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + {_VARIANT_OFFSET},
             ([0.0] || v.embedding[2:])::DOUBLE[]
      FROM embeddings v
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.75
    """,
)
def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact upper-triangle baseline,
    oracle-checked; the scale path is similarity.cosine_pairs_lsh, recall-
    tested in pytest). Input = embeddings plus near-identical variants so
    the threshold leg is non-vacuous."""
    return S.cosine_pairs_exact(
        _embeddings_with_near_variants(spark, sf_dir), tau=0.75
    )


@_q(
    "curate_docs_audit",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {{OFFSET}}, replace(upper(text), ' ', '  ')
      FROM documents
    ), sig AS (
      SELECT doc_id, text,
        CASE WHEN len(list_intersect(
                 regexp_split_to_array(lower(trim(text)), '\\s+'),
                 {_STOPLIST_SQL})) >= 2
             THEN 'en' ELSE 'other' END AS pred_lang,
        len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
        len(regexp_extract_all(text, '[.!?,;:]')) AS n_punct
      FROM corpus
    ), flagged AS (
      SELECT doc_id, text,
        CASE WHEN pred_lang <> 'en' THEN 'lang'
             WHEN n_tokens < 5
                  OR 100 * n_punct > 100 * greatest(n_tokens, 1)
             THEN 'quality' END AS reason
      FROM sig
    ), surv AS (
      SELECT doc_id, text FROM flagged WHERE reason IS NULL
    ), fps AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM surv
    ), keepers AS (
      SELECT fp, min(doc_id) AS keep_id FROM fps GROUP BY fp
    )
    SELECT doc_id AS id, reason FROM flagged WHERE reason IS NOT NULL
    UNION ALL
    SELECT f.doc_id AS id, 'exact_dup' AS reason
    FROM fps f JOIN keepers k USING (fp) WHERE f.doc_id <> k.keep_id
    """.replace("{OFFSET}", "1000000"),
)
def curate_docs_audit(spark, sf_dir):
    """Corpus-curation funnel audit (functions/curate.py): language gate ->
    quality gate -> exact dedup, each dropped doc with its first reason;
    near-dup step off here so the whole funnel is SQL-expressible (the
    LSH+CC variant is pytest-gated). Input = documents plus mutated copies
    so the exact-dup leg is non-vacuous."""
    from kgforge.functions.curate import curate_documents

    docs = _docs_with_exact_variants(spark, sf_dir)
    _kept, audit = curate_documents(docs, near_dup=False)
    return audit


def _nation_region_graph(spark, sf_dir):
    """Nation -[:IN_REGION]-> Region graph with {name} props — shared by
    the Cypher gates that need a small two-label graph."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    nodes = (
        nation.select(
            F.xxhash64(F.lit("Nation"), "n_name").alias("node_id"),
            F.lit("Nation").alias("label"),
            F.col("n_name").alias("key"),
            F.create_map(F.lit("name"), F.col("n_name")).alias("props"),
        )
        .unionByName(
            region.select(
                F.xxhash64(F.lit("Region"), "r_name").alias("node_id"),
                F.lit("Region").alias("label"),
                F.col("r_name").alias("key"),
                F.create_map(F.lit("name"), F.col("r_name")).alias("props"),
            )
        )
    )
    edges = (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            F.xxhash64(F.lit("Nation"), "n_name").alias("src_id"),
            F.lit("IN_REGION").alias("label"),
            F.xxhash64(F.lit("Region"), "r_name").alias("dst_id"),
            F.create_map().cast("map<string,string>").alias("props"),
        )
    )
    return nodes, edges


@_q(
    "cypher_exec_agg",
    oracle="""
    SELECT r.r_name AS region, count(*)::BIGINT AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1 ORDER BY region
    """,
)
def cypher_exec_agg(spark, sf_dir):
    """EP3/L5: the Cypher-subset executor (plans/cypher_exec.py) compiled
    to a Catalyst join+agg plan, hash-checked against the equivalent SQL.
    Graph = nation -[:IN_REGION]-> region from the driver tables."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _nation_region_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (n:Nation)-[:IN_REGION]->(r:Region) "
        "RETURN r AS region, count(n) AS n_nations ORDER BY region",
        nodes,
        edges,
    )


@_q(
    "cypher_num_agg",
    """
    SELECT n_name AS nation,
           CAST(sum(c_custkey) AS DOUBLE) AS total_key,
           CAST(min(c_acctbal) AS DOUBLE) AS min_bal,
           CAST(max(c_acctbal) AS DOUBLE) AS max_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1 ORDER BY nation
    """,
)
def cypher_num_agg(spark, sf_dir):
    """Numeric Cypher aggregates (sum/min/max over props) compiled to a
    Catalyst join+agg plan. Sum runs over integer-valued props (exact in
    double regardless of summation order) and min/max are order-free, so
    the cross-engine hash compare is stable. Graph = customer -[:FROM]->
    nation from the driver tables."""
    from kgforge.plans.cypher_exec import run_cypher

    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    nodes = customer.select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("key"),
        F.create_map(
            F.lit("custkey"), F.col("c_custkey").cast("string"),
            F.lit("acctbal"), F.col("c_acctbal").cast("string"),
        ).alias("props"),
    ).unionByName(
        nation.select(
            F.xxhash64(F.lit("Nation"), "n_name").alias("node_id"),
            F.lit("Nation").alias("label"),
            F.col("n_name").alias("key"),
            F.create_map(F.lit("name"), F.col("n_name")).alias("props"),
        )
    )
    edges = customer.join(
        nation, customer.c_nationkey == nation.n_nationkey
    ).select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("src_id"),
        F.lit("FROM").alias("label"),
        F.xxhash64(F.lit("Nation"), "n_name").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "MATCH (c:Customer)-[:FROM]->(n:Nation) "
        "RETURN n AS nation, sum(c.custkey) AS total_key, "
        "min(c.acctbal) AS min_bal, max(c.acctbal) AS max_bal "
        "ORDER BY nation",
        nodes,
        edges,
    )


@_q(
    "cypher_var_length",
    """
    WITH RECURSIVE e AS (
      SELECT 'C' || o_custkey::VARCHAR AS src,
             'O' || o_orderkey::VARCHAR AS dst
      FROM orders
      UNION ALL
      SELECT DISTINCT 'O' || l_orderkey::VARCHAR, 'S' || l_suppkey::VARCHAR
      FROM lineitem
    ), walk(src, dst, d) AS (
      SELECT src, dst, 1 FROM e
      UNION
      SELECT w.src, e.dst, w.d + 1
      FROM walk w JOIN e ON e.src = w.dst WHERE w.d < 2
    )
    SELECT src AS cust, count(DISTINCT dst)::BIGINT AS n_reach
    FROM walk WHERE src LIKE 'C%'
    GROUP BY src ORDER BY cust
    """,
)
def cypher_var_length(spark, sf_dir):
    """Variable-length MATCH (-[:R*1..2]->, ref fixtures/prompts.py:384)
    executed by the Cypher compiler's bounded frontier expansion, oracle =
    DuckDB recursive-CTE walk over the same Customer->Order->Supplier
    graph. Key prefixes (C/O/S) keep key strings globally unique so
    count(DISTINCT x) agrees across engines."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _conn_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (c:Customer)-[:CONN*1..2]->(x) "
        "RETURN c AS cust, count(DISTINCT x) AS n_reach ORDER BY cust",
        nodes,
        edges,
    )


def _conn_graph(spark, sf_dir):
    """Customer -:CONN-> Order -:CONN-> Supplier graph from the driver
    tables; key prefixes (C/O/S) keep key strings globally unique so
    count(DISTINCT) agrees across engines."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ckey = F.concat(F.lit("C"), F.col("o_custkey").cast("string"))
    okey = F.concat(F.lit("O"), F.col("o_orderkey").cast("string"))
    lokey = F.concat(F.lit("O"), F.col("l_orderkey").cast("string"))
    skey = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))

    def _nodes(df, label, key):
        return df.select(
            F.xxhash64(F.lit(label), key).alias("node_id"),
            F.lit(label).alias("label"),
            key.alias("key"),
            F.create_map().cast("map<string,string>").alias("props"),
        ).dropDuplicates(["node_id"])

    nodes = (
        _nodes(o, "Customer", ckey)
        .unionByName(_nodes(o, "Order", okey))
        .unionByName(_nodes(li, "Supplier", skey))
    )
    empty_props = F.create_map().cast("map<string,string>")
    edges = (
        o.select(
            F.xxhash64(F.lit("Customer"), ckey).alias("src_id"),
            F.lit("CONN").alias("label"),
            F.xxhash64(F.lit("Order"), okey).alias("dst_id"),
            empty_props.alias("props"),
        )
        .unionByName(
            li.select(
                F.xxhash64(F.lit("Order"), lokey).alias("src_id"),
                F.lit("CONN").alias("label"),
                F.xxhash64(F.lit("Supplier"), skey).alias("dst_id"),
                empty_props.alias("props"),
            ).dropDuplicates(["src_id", "dst_id"])
        )
    )
    return nodes, edges


@_q(
    "cypher_named_path",
    """
    WITH RECURSIVE e AS (
      SELECT 'C' || o_custkey::VARCHAR AS src,
             'O' || o_orderkey::VARCHAR AS dst
      FROM orders
      UNION ALL
      SELECT DISTINCT 'O' || l_orderkey::VARCHAR, 'S' || l_suppkey::VARCHAR
      FROM lineitem
    ), walk(src, dst, d) AS (
      SELECT src, dst, 1 FROM e
      UNION
      SELECT w.src, e.dst, w.d + 1
      FROM walk w JOIN e ON e.src = w.dst WHERE w.d < 2
    )
    SELECT src AS cust, d::BIGINT AS len, count(DISTINCT dst)::BIGINT AS n
    FROM walk WHERE src LIKE 'C%'
    GROUP BY src, d ORDER BY cust, len
    """,
)
def cypher_named_path(spark, sf_dir):
    """Named plain-path binding (VERDICT r03 #7): `p = (a)-[:R*1..2]->(b)`
    binds length(p) per (pair, walk length) — one row per reachable length,
    not just the minimum. Projection must be multiplicity-blind (here
    count(DISTINCT)); oracle = the recursive-CTE walk keyed by depth."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _conn_graph(spark, sf_dir)
    return run_cypher(
        "MATCH p = (c:Customer)-[:CONN*1..2]->(x) "
        "RETURN c AS cust, length(p) AS len, count(DISTINCT x) AS n "
        "ORDER BY cust, len",
        nodes,
        edges,
    )


def _customer_order_graph(spark, sf_dir):
    """Customer -[:PLACED {status}]-> Order graph from the driver tables.
    Key prefixes keep key strings unique across labels; PLACED edges carry
    the order status as a RELATIONSHIP property (the reference's relations
    have attributes, ref ontology.py Relation.attributes)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    ckey = F.concat(F.lit("C"), F.col("c_custkey").cast("string"))
    ockey = F.concat(F.lit("C"), F.col("o_custkey").cast("string"))
    okey = F.concat(F.lit("O"), F.col("o_orderkey").cast("string"))
    empty = F.create_map().cast("map<string,string>")
    nodes = (
        c.select(
            F.xxhash64(F.lit("Customer"), ckey).alias("node_id"),
            F.lit("Customer").alias("label"),
            ckey.alias("key"),
            empty.alias("props"),
        )
        .unionByName(
            o.select(
                F.xxhash64(F.lit("Order"), okey).alias("node_id"),
                F.lit("Order").alias("label"),
                okey.alias("key"),
                empty.alias("props"),
            )
        )
    )
    edges = o.select(
        F.xxhash64(F.lit("Customer"), ockey).alias("src_id"),
        F.lit("PLACED").alias("label"),
        F.xxhash64(F.lit("Order"), okey).alias("dst_id"),
        F.create_map(
            F.lit("status"), F.col("o_orderstatus").cast("string")
        ).alias("props"),
    )
    return nodes, edges


@_q(
    "cypher_optional_match",
    oracle="""
    SELECT 'C' || c_custkey::VARCHAR AS cust,
           count(o_orderkey)::BIGINT AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY 1 ORDER BY cust
    """,
)
def cypher_optional_match(spark, sf_dir):
    """OPTIONAL MATCH compiled to a LEFT OUTER join: customers keep a row
    with count 0 when they placed no order (1/3 of TPC-H customers) —
    oracle = SQL LEFT JOIN + count(non-null)."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _customer_order_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
        "RETURN c AS cust, count(o) AS n_orders ORDER BY cust",
        nodes,
        edges,
    )


@_q(
    "cypher_with_having",
    oracle="""
    SELECT 'C' || o_custkey::VARCHAR AS cust,
           count(*)::BIGINT AS n_orders
    FROM orders
    GROUP BY 1 HAVING count(*) >= 20
    ORDER BY n_orders DESC, cust
    LIMIT 10 OFFSET 2
    """,
)
def cypher_with_having(spark, sf_dir):
    """WITH <agg> WHERE <cond> (Cypher's HAVING idiom) plus SKIP/LIMIT
    paging — oracle = GROUP BY/HAVING/ORDER/OFFSET SQL."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _customer_order_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WITH c AS cust, count(o) AS n_orders WHERE n_orders >= 20 "
        "RETURN cust, n_orders ORDER BY n_orders DESC, cust SKIP 2 LIMIT 10",
        nodes,
        edges,
    )


@_q(
    "cypher_edge_props",
    oracle="""
    SELECT 'C' || o_custkey::VARCHAR AS cust, count(*)::BIGINT AS n_f
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY 1 ORDER BY n_f DESC, cust LIMIT 50
    """,
)
def cypher_edge_props(spark, sf_dir):
    """Relationship-variable property access (-[r:PLACED]-> ... WHERE
    r.status = 'F', count(r)) — relations carry attributes in the
    reference's data model, so stored queries filter on them."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _customer_order_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (c:Customer)-[r:PLACED]->(o:Order) WHERE r.status = 'F' "
        "RETURN c AS cust, count(r) AS n_f "
        "ORDER BY n_f DESC, cust LIMIT 50",
        nodes,
        edges,
    )


@_q(
    "cypher_undirected",
    oracle="""
    WITH pairs AS (
      SELECT a.n_name AS a, b.n_name AS b
      FROM nation a JOIN nation b
        ON a.n_regionkey = b.n_regionkey AND a.n_name < b.n_name
    ), sym AS (
      SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs
    )
    SELECT a AS nation, count(*)::BIGINT AS n_neighbors
    FROM sym GROUP BY a ORDER BY nation
    """,
)
def cypher_undirected(spark, sf_dir):
    """Undirected relationship legs (-[:R]-, ref prompt surface 'omit it
    for either direction'): SAME_REGION edges are stored one-way
    (low name -> high name), yet every nation must see all same-region
    peers — the executor unions both orientations of the edge relation.
    Oracle = the explicit two-orientation UNION ALL in SQL."""
    from kgforge.plans.cypher_exec import run_cypher

    nation = _t(spark, sf_dir, "nation")
    nodes = nation.select(
        F.xxhash64(F.lit("Nation"), "n_name").alias("node_id"),
        F.lit("Nation").alias("label"),
        F.col("n_name").alias("key"),
        F.create_map(F.lit("name"), F.col("n_name")).alias("props"),
    )
    a, b = nation.alias("a"), nation.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            & (F.col("a.n_name") < F.col("b.n_name")),
        )
        .select(
            F.xxhash64(F.lit("Nation"), "a.n_name").alias("src_id"),
            F.lit("SAME_REGION").alias("label"),
            F.xxhash64(F.lit("Nation"), "b.n_name").alias("dst_id"),
            F.create_map().cast("map<string,string>").alias("props"),
        )
    )
    return run_cypher(
        "MATCH (a:Nation)-[:SAME_REGION]-(b:Nation) "
        "RETURN a AS nation, count(b) AS n_neighbors ORDER BY nation",
        nodes,
        edges,
    )


@_q(
    "cypher_where_in_or",
    oracle="""
    SELECT n_name AS nation, count(*)::BIGINT AS n_cust
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_2', 'NO_SUCH_NATION')
       OR c_acctbal >= 9000
    GROUP BY n_name ORDER BY nation
    """,
)
def cypher_where_in_or(spark, sf_dir):
    """WHERE-grammar surface beyond AND-chains: list membership
    (`n.name IN [...]`) and OR disjunction with Cypher precedence, both
    common in stored/generated queries. The whole WHERE compiles to ONE
    Catalyst Filter. Integer threshold on acctbal keeps the string-prop
    try_cast double compare exact vs DuckDB's decimal. (r4: the IN list
    now names nations that EXIST in the driver tables — the old
    FRANCE/GERMANY list matched nothing, so the membership branch was
    vacuously green.)"""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _customer_nation_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (c:Customer)-[:FROM]->(n:Nation) "
        "WHERE n.name IN ['NATION_1', 'NATION_2', 'NO_SUCH_NATION'] "
        "OR c.acctbal >= 9000 "
        "RETURN n AS nation, count(c) AS n_cust ORDER BY nation",
        nodes,
        edges,
    )


def _customer_nation_graph(spark, sf_dir):
    """Customer {acctbal} -:FROM-> Nation {name} graph from the driver
    tables (acctbal rides as a string prop; integer thresholds keep the
    try_cast double compare exact vs DuckDB's decimal)."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    nodes = customer.select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("key"),
        F.create_map(
            F.lit("acctbal"), F.col("c_acctbal").cast("string")
        ).alias("props"),
    ).unionByName(
        nation.select(
            F.xxhash64(F.lit("Nation"), "n_name").alias("node_id"),
            F.lit("Nation").alias("label"),
            F.col("n_name").alias("key"),
            F.create_map(F.lit("name"), F.col("n_name")).alias("props"),
        )
    )
    edges = customer.join(
        nation, customer.c_nationkey == nation.n_nationkey
    ).select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("src_id"),
        F.lit("FROM").alias("label"),
        F.xxhash64(F.lit("Nation"), "n_name").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return nodes, edges


@_q(
    "cypher_where_parens",
    oracle="""
    SELECT n_name AS nation, count(*)::BIGINT AS n_cust
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE (n_name = 'NATION_1' OR n_name = 'NATION_2')
      AND (c_acctbal >= 5000 OR c_acctbal < 0)
    GROUP BY n_name ORDER BY nation
    """,
)
def cypher_where_parens(spark, sf_dir):
    """Parenthesized boolean groups in WHERE (VERDICT r03 #2): the same
    literals WITHOUT parens would parse as `a OR (b AND c)` under Cypher's
    AND-binds-tighter precedence and count EVERY NATION_1 customer — the
    oracle pins the parenthesized `(a OR b) AND (c OR d)` reading at both
    precedence orders, non-vacuously (both nation names exist in the
    driver tables and both acctbal branches select rows)."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _customer_nation_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (c:Customer)-[:FROM]->(n:Nation) "
        "WHERE (n.name = 'NATION_1' OR n.name = 'NATION_2') "
        "AND (c.acctbal >= 5000 OR c.acctbal < 0) "
        "RETURN n AS nation, count(c) AS n_cust ORDER BY nation",
        nodes,
        edges,
    )


@_q(
    "cypher_with_match",
    oracle="""
    WITH big AS (
      SELECT o_custkey, count(*) AS n_orders
      FROM orders GROUP BY 1 HAVING count(*) >= 20
    )
    SELECT 'C' || b.o_custkey::VARCHAR AS cust,
           b.n_orders::BIGINT AS n_orders,
           count(*)::BIGINT AS n_f
    FROM big b JOIN orders o
      ON o.o_custkey = b.o_custkey AND o.o_orderstatus = 'F'
    GROUP BY 1, 2 ORDER BY cust
    """,
)
def cypher_with_match(spark, sf_dir):
    """MATCH after WITH — the LLM-generated "aggregate then expand" shape
    (VERDICT r03 #3): top customers by order count, then re-match their
    finished orders; the WITH aggregate stays referable in RETURN. The
    carried node var is the join key into the second MATCH; oracle = the
    equivalent CTE join."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _customer_order_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WITH c, count(o) AS n_orders WHERE n_orders >= 20 "
        "MATCH (c)-[r:PLACED]->(o2:Order) WHERE r.status = 'F' "
        "RETURN c AS cust, n_orders, count(o2) AS n_f ORDER BY cust",
        nodes,
        edges,
    )


@_q(
    "cypher_with_topk",
    oracle="""
    WITH per AS (
      SELECT o_custkey, 'C' || o_custkey::VARCHAR AS cust, count(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    top AS (SELECT * FROM per ORDER BY n DESC, cust LIMIT 10)
    SELECT t.cust, t.n::BIGINT AS n, count(*)::BIGINT AS n_f
    FROM top t JOIN orders o
      ON o.o_custkey = t.o_custkey AND o.o_orderstatus = 'F'
    GROUP BY 1, 2 ORDER BY cust
    """,
)
def cypher_with_topk(spark, sf_dir):
    """WITH … ORDER BY … LIMIT at the stage boundary — top-k-then-expand,
    THE LLM-generated shape for "find the top K X, then …". The LIMIT
    truncates the INTERMEDIATE relation (top-10 customers by order count)
    before the second MATCH re-expands; before r4 a boundary ORDER
    BY/LIMIT silently bound to the final RETURN, limiting the wrong
    relation. The tie-break on the unique customer key makes the top-10
    deterministic cross-engine."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _customer_order_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WITH c, count(o) AS n ORDER BY n DESC, c LIMIT 10 "
        "MATCH (c)-[r:PLACED]->(o2:Order) WHERE r.status = 'F' "
        "RETURN c AS cust, n, count(o2) AS n_f ORDER BY cust",
        nodes,
        edges,
    )


@_q(
    "cypher_rel_alternation",
    oracle="""
    WITH links AS (
      SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
      UNION ALL
      SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
    )
    SELECT n_name AS nation, count(*)::BIGINT AS n_linked
    FROM links GROUP BY n_name ORDER BY nation
    """,
)
def cypher_rel_alternation(spark, sf_dir):
    """Relationship-type alternation (-[:FROM|LOCATED_IN]->, openCypher
    multi-type legs): one label-isin edge scan instead of a per-type
    union. Customers and suppliers both link to nations; the oracle is
    the explicit per-type UNION ALL."""
    from kgforge.plans.cypher_exec import run_cypher

    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    empty = F.create_map().cast("map<string,string>")
    ckey = F.concat(F.lit("C"), F.col("c_custkey").cast("string"))
    skey = F.concat(F.lit("S"), F.col("s_suppkey").cast("string"))
    nodes = (
        customer.select(
            F.xxhash64(F.lit("Customer"), ckey).alias("node_id"),
            F.lit("Customer").alias("label"),
            ckey.alias("key"),
            empty.alias("props"),
        )
        .unionByName(
            supplier.select(
                F.xxhash64(F.lit("Supplier"), skey).alias("node_id"),
                F.lit("Supplier").alias("label"),
                skey.alias("key"),
                empty.alias("props"),
            )
        )
        .unionByName(
            nation.select(
                F.xxhash64(F.lit("Nation"), "n_name").alias("node_id"),
                F.lit("Nation").alias("label"),
                F.col("n_name").alias("key"),
                empty.alias("props"),
            )
        )
    )
    edges = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .select(
            F.xxhash64(F.lit("Customer"), ckey).alias("src_id"),
            F.lit("FROM").alias("label"),
            F.xxhash64(F.lit("Nation"), "n_name").alias("dst_id"),
            empty.alias("props"),
        )
        .unionByName(
            supplier.join(
                nation, supplier.s_nationkey == nation.n_nationkey
            ).select(
                F.xxhash64(F.lit("Supplier"), skey).alias("src_id"),
                F.lit("LOCATED_IN").alias("label"),
                F.xxhash64(F.lit("Nation"), "n_name").alias("dst_id"),
                empty.alias("props"),
            )
        )
    )
    return run_cypher(
        "MATCH (x)-[:FROM|LOCATED_IN]->(n:Nation) "
        "RETURN n AS nation, count(x) AS n_linked ORDER BY nation",
        nodes,
        edges,
    )


@_q(
    "cypher_chained_with",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1
    )
    SELECT p.n::BIGINT AS n, count(*)::BIGINT AS nf
    FROM per_cust p JOIN orders o
      ON o.o_custkey = p.o_custkey AND o.o_orderstatus = 'F'
    GROUP BY p.n ORDER BY n
    """,
)
def cypher_chained_with(spark, sf_dir):
    """Chained WITH stages (aggregate -> expand -> re-aggregate, three
    pipeline stages): per-customer order counts, re-matched against
    finished orders, then re-grouped BY THE CARRIED AGGREGATE (n) — the
    second grouping key is a plain column from the first boundary, not a
    node. Oracle = the equivalent two-level CTE aggregation."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _customer_order_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WITH c, count(o) AS n "
        "MATCH (c)-[r:PLACED]->(o2:Order) WHERE r.status = 'F' "
        "WITH n, count(o2) AS nf "
        "RETURN n, nf ORDER BY n",
        nodes,
        edges,
    )


@_q(
    "cypher_opt_after_with",
    oracle="""
    WITH big AS (
      SELECT o_custkey, count(*) AS n
      FROM orders GROUP BY 1 HAVING count(*) <= 5
    )
    SELECT 'C' || b.o_custkey::VARCHAR AS cust, b.n::BIGINT AS n,
           count(o.o_orderkey)::BIGINT AS np
    FROM big b LEFT JOIN orders o
      ON o.o_custkey = b.o_custkey AND o.o_orderstatus = 'P'
    GROUP BY 1, 2 ORDER BY cust
    """,
)
def cypher_opt_after_with(spark, sf_dir):
    """OPTIONAL MATCH after WITH — "filter by aggregate, then optionally
    expand": LOW-volume customers (<= 5 orders) left-joined against
    their in-Progress orders — at that volume ~1/4 of the group has no P
    order at all, so the gate exercises both join sides (count 0 rows
    survive). Oracle = CTE + LEFT JOIN with the match-time predicate in
    the join condition."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _customer_order_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WITH c, count(o) AS n WHERE n <= 5 "
        "OPTIONAL MATCH (c)-[r:PLACED]->(o2:Order) WHERE r.status = 'P' "
        "RETURN c AS cust, n, count(o2) AS np ORDER BY cust",
        nodes,
        edges,
    )


@_q(
    "cypher_collect",
    oracle="""
    SELECT r_name AS region,
           string_agg(n_name, '|' ORDER BY n_name) AS nations,
           count(*)::BIGINT AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY region
    """,
)
def cypher_collect(spark, sf_dir):
    """openCypher collect() — the list aggregate ubiquitous in generated
    queries ("return X and all its Ys"). The executor sorts the list for
    determinism; the gate projects it through concat_ws so the
    cross-engine compare is over a stable string (DuckDB lists and Spark
    arrays differ in harness representation)."""
    from kgforge.plans.cypher_exec import run_cypher

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    empty = F.create_map().cast("map<string,string>")
    nodes = nation.select(
        F.xxhash64(F.lit("Nation"), "n_name").alias("node_id"),
        F.lit("Nation").alias("label"),
        F.col("n_name").alias("key"),
        empty.alias("props"),
    ).unionByName(
        region.select(
            F.xxhash64(F.lit("Region"), "r_name").alias("node_id"),
            F.lit("Region").alias("label"),
            F.col("r_name").alias("key"),
            empty.alias("props"),
        )
    )
    edges = nation.join(
        region, nation.n_regionkey == region.r_regionkey
    ).select(
        F.xxhash64(F.lit("Nation"), "n_name").alias("src_id"),
        F.lit("IN").alias("label"),
        F.xxhash64(F.lit("Region"), "r_name").alias("dst_id"),
        empty.alias("props"),
    )
    out = run_cypher(
        "MATCH (n:Nation)-[:IN]->(r:Region) "
        "RETURN r AS region, collect(n) AS nations, count(n) AS n "
        "ORDER BY region",
        nodes,
        edges,
    )
    return out.select(
        "region", F.concat_ws("|", "nations").alias("nations"), "n"
    )


def _nation_chain_graph(spark, sf_dir):
    """Nation nodes + weighted NEAR edges along the per-region nationkey
    chain (both directions, w = |nationkey delta| as an edge prop) — the
    shared fixture for the CALL algo.SPpaths / algo.SSpaths gates."""
    n = _t(spark, sf_dir, "nation")
    empty = F.create_map().cast("map<string,string>")
    nodes = n.select(
        F.xxhash64(F.lit("Nation"), "n_name").alias("node_id"),
        F.lit("Nation").alias("label"),
        F.col("n_name").alias("key"),
        empty.alias("props"),
    )
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    chain = n.select(
        F.col("n_name").alias("src"),
        F.col("n_nationkey").alias("sk"),
        F.lead("n_name").over(w).alias("dst"),
        F.lead("n_nationkey").over(w).alias("dk"),
    ).filter(F.col("dst").isNotNull())
    fwd = chain.select(
        "src", "dst",
        F.abs(F.col("sk") - F.col("dk")).cast("string").alias("w"),
    )
    both = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    edges = both.select(
        F.xxhash64(F.lit("Nation"), "src").alias("src_id"),
        F.lit("NEAR").alias("label"),
        F.xxhash64(F.lit("Nation"), "dst").alias("dst_id"),
        F.create_map(F.lit("w"), F.col("w")).alias("props"),
    )
    return nodes, edges


@_q(
    "cypher_arithmetic",
    """
    SELECT c_custkey::VARCHAR AS k,
           ((c_custkey + 7) * 3 - 1)::DOUBLE AS v1,
           (c_custkey::DOUBLE / 4) AS v2,
           (2 - c_custkey)::DOUBLE AS v3
    FROM customer ORDER BY k
    """,
)
def cypher_arithmetic(spark, sf_dir):
    """Row-level arithmetic in RETURN (r5 recursive-descent compiler:
    + - * / precedence, parens, unary minus, hidden-column output).
    Cross-engine exactness by data design: integer-valued chains stay
    exact in doubles, and the division operand is a power of two
    (dyadic — no rounding), so every value is bit-identical on both
    engines with no FMA-contraction exposure (single ops per node,
    never an a*b+c shape evaluated in one expression... the compiled
    tree is explicit binary ops, matching DuckDB's)."""
    from kgforge.plans.cypher_exec import run_cypher

    customer = _t(spark, sf_dir, "customer")
    nodes = customer.select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("key"),
        F.create_map(
            F.lit("k"), F.col("c_custkey").cast("string"),
        ).alias("props"),
    )
    edges = customer.limit(0).select(
        F.lit(0).cast("long").alias("src_id"),
        F.lit("NONE").alias("label"),
        F.lit(0).cast("long").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "MATCH (c:Customer) RETURN c.k AS k, "
        "(c.k + 7) * 3 - 1 AS v1, c.k / 4 AS v2, -c.k + 2 AS v3 "
        "ORDER BY k",
        nodes,
        edges,
    )


@_q(
    "cypher_arith_agg",
    """
    SELECT c_nationkey::VARCHAR AS nk,
           sum(c_custkey * 2 + 1)::DOUBLE AS s,
           count(*)::BIGINT AS n
    FROM customer GROUP BY nk ORDER BY nk
    """,
)
def cypher_arith_agg(spark, sf_dir):
    """Aggregates OVER arithmetic (r5: agg(<expr>) rewrites to
    agg(__arith)): grouped integer-valued sums — integer addition in
    doubles is exact and associative below 2^53, so partial-aggregation
    order cannot diverge the engines."""
    from kgforge.plans.cypher_exec import run_cypher

    customer = _t(spark, sf_dir, "customer")
    nodes = customer.select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("key"),
        F.create_map(
            F.lit("k"), F.col("c_custkey").cast("string"),
            F.lit("nk"), F.col("c_nationkey").cast("string"),
        ).alias("props"),
    )
    edges = customer.limit(0).select(
        F.lit(0).cast("long").alias("src_id"),
        F.lit("NONE").alias("label"),
        F.lit(0).cast("long").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "MATCH (c:Customer) RETURN c.nk AS nk, "
        "sum(c.k * 2 + 1) AS s, count(*) AS n ORDER BY nk",
        nodes,
        edges,
    )


@_q(
    "cypher_where_arith",
    """
    SELECT c_custkey::VARCHAR AS k
    FROM customer
    WHERE (c_custkey + 3) * 2 > 50 AND c_custkey::DOUBLE / 2 <= 600
    ORDER BY k
    """,
)
def cypher_where_arith(spark, sf_dir):
    """Arithmetic comparisons in WHERE (r5): both sides compile through
    the shared recursive-descent grammar into the segment's single
    Catalyst Filter. Integer chains + dyadic division keep the compare
    bit-exact cross-engine."""
    from kgforge.plans.cypher_exec import run_cypher

    customer = _t(spark, sf_dir, "customer")
    nodes = customer.select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("key"),
        F.create_map(
            F.lit("k"), F.col("c_custkey").cast("string"),
        ).alias("props"),
    )
    edges = customer.limit(0).select(
        F.lit(0).cast("long").alias("src_id"),
        F.lit("NONE").alias("label"),
        F.lit(0).cast("long").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "MATCH (c:Customer) "
        "WHERE (c.k + 3) * 2 > 50 AND c.k / 2 <= 600 "
        "RETURN c.k AS k ORDER BY k",
        nodes,
        edges,
    )


@_q(
    "cypher_with_arith",
    """
    SELECT nk, s FROM (
      SELECT c_nationkey::VARCHAR AS nk,
             sum(c_custkey * 2 + 1)::DOUBLE AS s
      FROM customer GROUP BY nk
    ) WHERE s > 1000 ORDER BY nk
    """,
)
def cypher_with_arith(spark, sf_dir):
    """Arithmetic at WITH boundaries (r5): agg-of-arith grouped at the
    boundary, HAVING-style WHERE over the computed aggregate. Integer
    sums keep the cross-engine compare exact."""
    from kgforge.plans.cypher_exec import run_cypher

    customer = _t(spark, sf_dir, "customer")
    nodes = customer.select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("key"),
        F.create_map(
            F.lit("k"), F.col("c_custkey").cast("string"),
            F.lit("nk"), F.col("c_nationkey").cast("string"),
        ).alias("props"),
    )
    edges = customer.limit(0).select(
        F.lit(0).cast("long").alias("src_id"),
        F.lit("NONE").alias("label"),
        F.lit(0).cast("long").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "MATCH (c:Customer) WITH c.nk AS nk, sum(c.k * 2 + 1) AS s "
        "WHERE s > 1000 RETURN nk, s ORDER BY nk",
        nodes,
        edges,
    )


@_q(
    "cypher_unwind_range",
    """
    SELECT i::DOUBLE AS i, count(*)::BIGINT AS n
    FROM generate_series(0, 24) AS g(i)
    JOIN customer ON c_nationkey = i
    GROUP BY i ORDER BY i
    """,
)
def cypher_unwind_range(spark, sf_dir):
    """UNWIND range(a, b) (r5): openCypher's end-INCLUSIVE integer
    range expanded at parse time into the shared literal-UNWIND path
    (broadcast values + the numeric-alias equi-join). The gate batches
    a per-nation lookup: each range value i equi-joins customers whose
    nationkey prop equals it. Oracle = DuckDB generate_series (also
    end-inclusive)."""
    from kgforge.plans.cypher_exec import run_cypher

    customer = _t(spark, sf_dir, "customer")
    nodes = customer.select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("key"),
        F.create_map(
            F.lit("nk"), F.col("c_nationkey").cast("string"),
        ).alias("props"),
    )
    edges = customer.limit(0).select(
        F.lit(0).cast("long").alias("src_id"),
        F.lit("NONE").alias("label"),
        F.lit(0).cast("long").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "UNWIND range(0, 24) AS i MATCH (c:Customer) "
        "WHERE c.nk = i RETURN i, count(*) AS n ORDER BY i",
        nodes,
        edges,
    )


@_q(
    "cypher_start_end_node",
    """
    SELECT c_custkey::VARCHAR AS ck, n_name AS nname
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    ORDER BY ck
    """,
)
def cypher_start_end_node(spark, sf_dir):
    """startNode(r)/endNode(r) scalars (r5): the endpoint node's KEY
    (consistent with RETURN n rendering; FalkorDB returns the node
    entity — documented deviation). Directed single-hop rel vars only;
    leg_df records rel var -> endpoint vars (rel_endpoints)."""
    from kgforge.plans.cypher_exec import run_cypher

    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    nodes = customer.select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("key"),
        F.create_map().cast("map<string,string>").alias("props"),
    ).unionByName(
        nation.select(
            F.xxhash64(F.lit("Nation"), "n_name").alias("node_id"),
            F.lit("Nation").alias("label"),
            F.col("n_name").alias("key"),
            F.create_map().cast("map<string,string>").alias("props"),
        )
    )
    edges = customer.join(
        nation, customer.c_nationkey == nation.n_nationkey
    ).select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("src_id"),
        F.lit("FROM").alias("label"),
        F.xxhash64(F.lit("Nation"), "n_name").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "MATCH (c:Customer)-[r:FROM]->(n:Nation) "
        "RETURN startNode(r) AS ck, endNode(r) AS nname ORDER BY ck",
        nodes,
        edges,
    )


@_q(
    "graph_betweenness",
    """
    WITH RECURSIVE pairs AS (
      SELECT a.n_name AS src, b.n_name AS dst
      FROM nation a JOIN nation b
        ON b.n_nationkey - a.n_nationkey IN (1, 2)
      UNION ALL
      SELECT b.n_name, a.n_name
      FROM nation a JOIN nation b
        ON b.n_nationkey - a.n_nationkey IN (1, 2)
    ), walks(s, v, h, p) AS (
      SELECT n_name, n_name, 0, '|' || n_name || '|' FROM nation
      UNION
      SELECT w.s, pr.dst, w.h + 1, w.p || pr.dst || '|'
      FROM walks w JOIN pairs pr ON pr.src = w.v
      WHERE w.h < 4 AND w.p NOT LIKE '%|' || pr.dst || '|%'
    ), mind AS (
      SELECT s, v AS t, min(h) AS d FROM walks WHERE s <> v
      GROUP BY s, v
    ), sp AS (
      SELECT w.s, w.v AS t, w.p
      FROM walks w JOIN mind m ON m.s = w.s AND m.t = w.v AND w.h = m.d
    ), sig AS (
      SELECT s, t, count(*) AS sigma FROM sp GROUP BY s, t
    ), thru AS (
      SELECT n.n_name AS v, sp.s, sp.t, count(*) AS through
      FROM sp JOIN nation n
        ON sp.p LIKE '%|' || n.n_name || '|%'
       AND n.n_name <> sp.s AND n.n_name <> sp.t
      GROUP BY 1, 2, 3
    )
    SELECT th.v AS v, th.s AS s, th.t AS t,
           th.through::BIGINT AS through, sig.sigma::BIGINT AS sigma
    FROM thru th JOIN sig ON sig.s = th.s AND sig.t = th.t
    ORDER BY th.v, th.s, th.t
    """,
)
def graph_betweenness(spark, sf_dir):
    """Bounded-depth betweenness via the COUNTING formulation
    (plans/graph_query.py::betweenness_counts, r5): landmark-parallel
    BFS computes (dist, sigma) for every pair within max_depth, then
    one middle-node self-join emits the all-integer decomposition
    (v, s, t, sigma_st(v), sigma_st) — chosen over Brandes' backward
    dependency sweep precisely so a cross-engine gate can hash-compare
    the hard part bit-exactly (no float accumulation order). The skip
    graph (nationkey i -> i±1, i±2) makes sigma > 1 load-bearing:
    consecutive-skip pairs have multiple shortest routes. Oracle =
    exhaustive recursive-CTE simple-walk enumeration (depth <= 4),
    min-length filter, path-string membership counting. The float sum
    through/sigma lives in betweenness_centrality and is pytest-pinned
    on closed-form graphs (test_graph_analytics)."""
    from kgforge.plans.graph_query import betweenness_counts

    n = _t(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    fwd = a.join(
        b,
        (F.col("b.n_nationkey") - F.col("a.n_nationkey")).isin(1, 2),
    ).select(
        F.col("a.n_name").alias("src_name"),
        F.col("b.n_name").alias("dst_name"),
    )
    both = fwd.unionByName(
        fwd.select(
            F.col("dst_name").alias("src_name"),
            F.col("src_name").alias("dst_name"),
        )
    )
    edges = both.select(
        F.xxhash64(F.lit("N"), "src_name").alias("src"),
        F.xxhash64(F.lit("N"), "dst_name").alias("dst"),
    )
    counts = betweenness_counts(edges, max_depth=4)
    id2name = n.select(
        F.xxhash64(F.lit("N"), "n_name").alias("nid"),
        F.col("n_name").alias("name"),
    )

    def names_for(col):
        return id2name.select(
            F.col("nid").alias(col), F.col("name").alias(f"{col}_name")
        )

    return (
        counts.join(names_for("v"), on="v")
        .join(names_for("s"), on="s")
        .join(names_for("t"), on="t")
        .select(
            F.col("v_name").alias("v"), F.col("s_name").alias("s"),
            F.col("t_name").alias("t"), "through", "sigma",
        )
        .orderBy("v", "s", "t")
    )


@_q(
    "graph_hits",
    """
    WITH e AS (
      SELECT a.n_name AS src, b.n_name AS dst
      FROM nation a JOIN nation b
        ON b.n_nationkey - a.n_nationkey IN (1, 2)
    ), nodes AS (
      SELECT src AS id FROM e UNION SELECT dst FROM e
    ), a1 AS (
      SELECT dst AS id, count(*)::BIGINT AS a FROM e GROUP BY 1
    ), h1 AS (
      SELECT e.src AS id, sum(a1.a)::BIGINT AS h
      FROM e JOIN a1 ON a1.id = e.dst GROUP BY 1
    ), a2 AS (
      SELECT e.dst AS id, sum(h1.h)::BIGINT AS a
      FROM e JOIN h1 ON h1.id = e.src GROUP BY 1
    ), h2 AS (
      SELECT e.src AS id, sum(a2.a)::BIGINT AS h
      FROM e JOIN a2 ON a2.id = e.dst GROUP BY 1
    )
    SELECT n.id AS name, coalesce(a2.a, 0)::BIGINT AS auth,
           coalesce(h2.h, 0)::BIGINT AS hub
    FROM nodes n
    LEFT JOIN a2 ON a2.id = n.id
    LEFT JOIN h2 ON h2.id = n.id
    ORDER BY name
    """,
)
def graph_hits(spark, sf_dir):
    """HITS hub/authority scores (plans/graph_query.py::hits, r5) on the
    DIRECTED nationkey skip graph (i -> i+1, i+2): 2 rounds of the
    unnormalized Kleinberg recurrence (auth from old hubs, hub from NEW
    auths; h_0 = 1), every score an exact BIGINT so the gate
    hash-compares bit-exactly — the same integer-fixed-round craft as
    pagerank(scaled=True) and betweenness_counts. The directed skip
    graph makes auth != hub load-bearing (the first/last nations have
    asymmetric in/out degrees). Oracle unrolls both rounds as plain
    join+agg CTEs. Normalized-float HITS is pytest-pinned
    (test_graph_analytics)."""
    from kgforge.plans.graph_query import hits

    n = _t(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    e = a.join(
        b, (F.col("b.n_nationkey") - F.col("a.n_nationkey")).isin(1, 2)
    ).select(
        F.col("a.n_name").alias("src"), F.col("b.n_name").alias("dst")
    )
    return (
        hits(e, rounds=2)
        .select(F.col("id").alias("name"), "auth", "hub")
        .orderBy("name")
    )


@_q(
    "corpus_sample_exact_k",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang, row_number() OVER (
        PARTITION BY lang
        ORDER BY md5('kgforge' || doc_id::VARCHAR), doc_id
      ) AS rn FROM documents
    ) WHERE rn <= 25 ORDER BY lang, doc_id
    """,
)
def corpus_sample_exact_k(spark, sf_dir):
    """Exact-size deterministic per-stratum sampling (sharding.py::
    sample_exact_k, r5): the k smallest-md5 rows per stratum — the
    COUNT-budget companion to the rate-based corpus_stratified_sample
    (eval-set carving, per-domain caps). One window keyed on the
    stratum; hash order is a pure function of (salt, key), so the
    sample is layout-independent and nested in k. Oracle replays the
    identical row_number-over-md5 rule."""
    docs = _t(spark, sf_dir, "documents")
    return (
        SH.sample_exact_k(docs, 25, strata_col="lang", key_col="doc_id")
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


@_q(
    "dedup_spans",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(t[i+1:i+13], ' ')) AS fp
      FROM toks, unnest(range(0, len(t) - 12)) AS u(i)
      WHERE len(t) >= 13
    ), dups AS (
      SELECT fp FROM sh GROUP BY fp HAVING count(*) >= 2
    ), hits AS (
      SELECT s.doc_id, s.pos FROM sh s JOIN dups USING (fp)
    ), isl AS (
      SELECT doc_id, pos,
             sum(CASE WHEN prev IS NULL OR pos - prev > 13
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM (
        SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM hits
      )
    )
    SELECT doc_id, min(pos)::BIGINT AS span_start,
           (max(pos) + 12)::BIGINT AS span_end,
           count(*)::BIGINT AS n_shingles
    FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start
    """,
)
def dedup_spans(spark, sf_dir):
    """Span-level exact-substring duplication (functions/dedup.py::
    duplicate_spans, r5 — the Lee et al. 2022 signal at 13-token
    shingle granularity, relational instead of suffix-array): position
    fingerprints (md5 of the joined window, cross-engine replayable) ->
    corpus-wide count -> semi-join back -> gaps-and-islands merge into
    maximal spans. Oracle replays the identical rule with DuckDB's
    1-based-inclusive list slicing (t[i+1:i+13] = 13 tokens from
    0-based position i)."""
    docs = _t(spark, sf_dir, "documents")
    return D.duplicate_spans(docs, n=13).orderBy("doc_id", "span_start")


@_q(
    "events_attribution",
    """
    SELECT t.user_id AS key, t.event_id AS trig_id,
           c.event_id AS conv_id,
           (epoch_us(c.ts) - epoch_us(t.ts))::BIGINT AS lag_us
    FROM events t JOIN events c ON c.user_id = t.user_id
    WHERE t.event_type = 'signup' AND c.event_type = 'purchase'
      AND c.ts > t.ts AND c.ts <= t.ts + INTERVAL 2 HOUR
    ORDER BY key, trig_id, conv_id
    """,
)
def events_attribution(spark, sf_dir):
    """Conversion attribution (streaming/enrich.py::attribute, r5):
    every (signup, purchase) pair per user with the purchase inside a
    2-hour look-back — the batch leg of the stream-stream interval
    join (the SAME function on streaming inputs adds watermarks and
    the state-evicting time-range condition; stream/batch parity is
    pinned in test_attribute_stream). lag_us is an exact microsecond
    BIGINT on both engines."""
    from kgforge.streaming.enrich import attribute

    events = _t(spark, sf_dir, "events")
    return attribute(
        events.filter(F.col("event_type") == "signup"),
        events.filter(F.col("event_type") == "purchase"),
        horizon="2 hours",
    ).orderBy("key", "trig_id", "conv_id")


@_q(
    "embedding_covariance",
    """
    WITH q AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             floor(unnest(embedding) * 8) AS x
      FROM embeddings
    )
    SELECT a.i AS i, b.i AS j, count(*)::BIGINT AS n,
           sum(a.x)::BIGINT AS s_i, sum(b.x)::BIGINT AS s_j,
           sum(a.x * b.x)::BIGINT AS s_ij
    FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY a.i, b.i ORDER BY i, j
    """,
)
def embedding_covariance(spark, sf_dir):
    """Distributed PCA sufficient statistics (functions/embeddings.py::
    covariance_sums, r5): one mapInPandas pass computes per-partition
    (n, Σx, XᵀX) with a single numpy matmul per Arrow batch — one row
    of d + d² numbers per PARTITION, metadata scale — then a plain
    explode + groupBy folds partitions. The gate quantizes the float
    embeddings to integers first (floor(x·8): ×8 is an exponent shift,
    exact in any IEEE width, floor exact on both engines) so every
    statistic is an exact integer and the cross-engine hash is
    meaningful; pca_fit/pca_project (driver-side d×d eigh + broadcast
    matmul projection) are pytest-pinned against numpy in
    test_embeddings."""
    from kgforge.functions.embeddings import covariance_sums

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x * 8).cast("double")
        ).alias("embedding"),
    )
    return (
        covariance_sums(q)
        .select(
            "i", "j", "n",
            F.col("s_i").cast("long").alias("s_i"),
            F.col("s_j").cast("long").alias("s_j"),
            F.col("s_ij").cast("long").alias("s_ij"),
        )
        .orderBy("i", "j")
    )


@_q(
    "media_probe_mp4",
    """
    SELECT n_name AS name, 'isom' AS brand,
           ((n_nationkey + 1) * 750)::BIGINT AS duration_ms,
           2::BIGINT AS n_tracks, 'avc1,mp4a' AS codecs,
           (16 * (n_nationkey + 2))::BIGINT AS width,
           (9 * (n_nationkey + 2))::BIGINT AS height,
           (8000 + n_nationkey * 441)::BIGINT AS sample_rate
    FROM nation ORDER BY name
    """,
)
def media_probe_mp4(spark, sf_dir):
    """MP4/ISO-BMFF metadata probe (functions/mp4.py, r5): the
    container-level fields a crawl pipeline reads before deciding what
    to decode (duration, track layout, codec fourccs, dims, rates).
    Same certification pattern as warc_ingest: every probed field is a
    FUNCTION OF TABLE COLUMNS, the builder twin writes real bytes in
    one executor pass, a second mapInPandas probes them back across
    the Arrow boundary, and the oracle COMPUTES the expected metadata
    from nation directly — no frozen gold."""
    import pandas as pd

    from kgforge.functions.mp4 import build_mp4, probe_mp4

    nation = _t(spark, sf_dir, "nation")
    params = nation.select(
        F.col("n_name").alias("name"),
        ((F.col("n_nationkey") + 1) * 750).cast("long").alias("dur"),
        (16 * (F.col("n_nationkey") + 2)).cast("long").alias("w"),
        (9 * (F.col("n_nationkey") + 2)).cast("long").alias("h"),
        (8000 + F.col("n_nationkey") * 441).cast("long").alias("rate"),
    )

    def build(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "name": pdf["name"],
                    "payload": [
                        build_mp4(int(d), video=(int(w), int(h)),
                                  audio_rate=int(r))
                        for d, w, h, r in zip(
                            pdf["dur"], pdf["w"], pdf["h"], pdf["rate"]
                        )
                    ],
                }
            )

    built = params.mapInPandas(build, "name string, payload binary")

    def probe(batches):
        for pdf in batches:
            rows = []
            for name, payload in zip(pdf["name"], pdf["payload"]):
                m = probe_mp4(bytes(payload))
                video = next(
                    t for t in m["tracks"] if t["kind"] == "video"
                )
                audio = next(
                    t for t in m["tracks"] if t["kind"] == "audio"
                )
                rows.append(
                    (
                        name, m["brand"], m["duration_ms"],
                        len(m["tracks"]),
                        ",".join(t["codec"] for t in m["tracks"]),
                        video["width"], video["height"],
                        audio["sample_rate"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "name", "brand", "duration_ms", "n_tracks",
                    "codecs", "width", "height", "sample_rate",
                ],
            )

    return built.mapInPandas(
        probe,
        "name string, brand string, duration_ms long, n_tracks long, "
        "codecs string, width long, height long, sample_rate long",
    ).orderBy("name")


@_q(
    "text_bpe_pair_counts",
    """
    WITH words AS (
      SELECT w AS word, count(*)::BIGINT AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w
        FROM documents
      ) WHERE w <> '' GROUP BY w
    ), pairs AS (
      SELECT substr(word, i, 1) AS lft, substr(word, i + 1, 1) AS rgt,
             freq
      FROM words, unnest(range(1, length(word))) AS t(i)
    )
    SELECT lft, rgt, sum(freq)::BIGINT AS cnt
    FROM pairs GROUP BY lft, rgt ORDER BY cnt DESC, lft, rgt LIMIT 50
    """,
)
def text_bpe_pair_counts(spark, sf_dir):
    """First round of distributed BPE training (functions/bpe.py, r5):
    corpus -> distinct-word frequency table (the ONE corpus-sized agg)
    -> expression-only adjacent-pair explode + weighted count. Top 50
    by the training tie-break (count DESC, then pair ASC — unique, so
    LIMIT is deterministic). The iterative merge LOOP is gated by
    text_bpe_merges (rows-only: argmax-per-round is not
    SQL-expressible) and pinned exactly against an independent
    pure-Python reference in test_bpe."""
    from kgforge.functions.bpe import bpe_pair_counts, word_freqs

    docs = _t(spark, sf_dir, "documents")
    words = word_freqs(docs).selectExpr(
        "freq", "split(word, '') AS syms"
    )
    return (
        bpe_pair_counts(words)
        .orderBy(F.col("cnt").desc(), "lft", "rgt")
        .limit(50)
    )


@_q("text_bpe_merges")
def text_bpe_merges(spark, sf_dir):
    """Full distributed BPE merge learning (rank, lft, rgt, cnt) —
    8 merges over the documents corpus. Rows-only by declaration: the
    per-round argmax + state rewrite is iterative (driver sees ONE row
    per round; the word table and all counting stay distributed — see
    functions/bpe.py module docstring for the scale shape). Exactness
    vs an independent reference implementation incl. tie rounds and
    min_freq early-stop is pinned in test_bpe; round 1 is
    oracle-checked by text_bpe_pair_counts."""
    from kgforge.functions.bpe import bpe_train

    docs = _t(spark, sf_dir, "documents")
    return bpe_train(docs, n_merges=8).orderBy("rank")


@_q(
    "text_tfidf_topk",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf
      FROM toks WHERE term <> '' GROUP BY doc_id, term
    ), d AS (
      SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS corpus_tf
      FROM tf GROUP BY term
    ), ranked AS (
      SELECT term, doc_id, tf,
             row_number() OVER (
               PARTITION BY term ORDER BY tf DESC, doc_id
             ) AS rn
      FROM tf WHERE term IN ('spark', 'merge', 'window')
    )
    SELECT r.term, r.doc_id::BIGINT AS doc_id, r.tf,
           d.df, d.corpus_tf
    FROM ranked r JOIN d USING (term)
    WHERE rn <= 3 ORDER BY term, doc_id
    """,
)
def text_tfidf_topk(spark, sf_dir):
    """Lexical inverted-index statistics (functions/retrieval.py, r5):
    per-(doc, term) tf + per-term df/corpus_tf from one explode + two
    hash aggregates, then the 3 highest-tf docs per query term (ties by
    doc_id). All-integer, so the gate hash-compares exactly; the float
    BM25 composition over these statistics is gated rows-only by
    text_bm25_topk and pinned vs a pure-Python reference in
    test_retrieval. The reference SDK has no lexical index (retrieval
    is LLM-generated Cypher, graph_query_step.py) — this is the
    RAG candidate generator a corpus engine needs next to ANN."""
    from kgforge.functions.retrieval import top_docs_per_term

    docs = _t(spark, sf_dir, "documents")
    return (
        top_docs_per_term(docs, ["spark", "merge", "window"], k=3)
        .select(
            "term", F.col("doc_id").cast("long").alias("doc_id"),
            "tf", "df", "corpus_tf",
        )
        .orderBy("term", "doc_id")
    )


@_q(
    "text_postings",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf
      FROM toks WHERE term <> '' GROUP BY doc_id, term
    ), d AS (
      SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS corpus_tf
      FROM tf GROUP BY term
    )
    SELECT t.term,
           string_agg(t.doc_id::VARCHAR || ':' || t.tf::VARCHAR, ','
                      ORDER BY t.doc_id) AS plist,
           d.df, d.corpus_tf
    FROM tf t JOIN d USING (term)
    WHERE t.term IN ('spark', 'merge', 'window')
    GROUP BY t.term, d.df, d.corpus_tf
    ORDER BY t.term
    """,
)
def text_postings(spark, sf_dir):
    """Inverted-index export (functions/retrieval.py::build_postings,
    r5): doc_id-sorted postings array<struct<doc_id, tf>> per term plus
    per-term totals — the materialized index a retrieval service loads.
    Gate renders each gate term's postings as 'doc:tf,...' so the
    cross-engine hash compares the full ordered list; the viral-term
    block sharding (block_size) is pinned in test_retrieval (blocks
    reassemble by concatenation)."""
    from kgforge.functions.retrieval import build_postings

    docs = _t(spark, sf_dir, "documents")
    return (
        build_postings(docs)
        .filter(F.col("term").isin("spark", "merge", "window"))
        .select(
            "term",
            F.concat_ws(
                ",",
                F.transform(
                    "postings",
                    lambda p: F.concat_ws(
                        ":",
                        p["doc_id"].cast("string"),
                        p["tf"].cast("string"),
                    ),
                ),
            ).alias("plist"),
            "df",
            "corpus_tf",
        )
        .orderBy("term")
    )


@_q("text_bm25_topk")
def text_bm25_topk(spark, sf_dir):
    """BM25 top-k (functions/retrieval.py): Lucene-variant idf over the
    gate terms, tf filtered to the query at the scan, idf broadcast,
    one groupBy doc. Rows-only by declaration: idf uses ln() (1-ulp
    cross-engine); the integer statistics underneath are oracle-checked
    by text_tfidf_topk and float parity is pinned vs an independent
    pure-Python reference in test_retrieval."""
    from kgforge.functions.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, "spark merge window", k=20).select(
        F.col("doc_id").cast("long").alias("doc_id"), "score"
    )


def _nation_ring_graph(spark, sf_dir):
    """_nation_chain_graph plus a CLOSURE edge per region (last
    nationkey back to first), turning each per-region chain into a
    RING — between any two nations of a region there are exactly TWO
    simple paths (clockwise / counterclockwise), the fixture the
    pathCount > 1 gate needs. Regions with <= 2 nations get no closure
    (it would duplicate the chain edge)."""
    n = _t(spark, sf_dir, "nation")
    nodes, edges = _nation_chain_graph(spark, sf_dir)
    ends = (
        n.groupBy("n_regionkey")
        .agg(
            F.min_by("n_name", "n_nationkey").alias("a"),
            F.min("n_nationkey").alias("ak"),
            F.max_by("n_name", "n_nationkey").alias("b"),
            F.max("n_nationkey").alias("bk"),
            F.count("*").alias("cnt"),
        )
        .filter(F.col("cnt") > 2)
    )
    closure = ends.select(
        F.col("b").alias("src"), F.col("a").alias("dst"),
        F.abs(F.col("bk") - F.col("ak")).cast("string").alias("w"),
    ).unionByName(
        ends.select(
            F.col("a").alias("src"), F.col("b").alias("dst"),
            F.abs(F.col("bk") - F.col("ak")).cast("string").alias("w"),
        )
    )
    closure_edges = closure.select(
        F.xxhash64(F.lit("Nation"), "src").alias("src_id"),
        F.lit("NEAR").alias("label"),
        F.xxhash64(F.lit("Nation"), "dst").alias("dst_id"),
        F.create_map(F.lit("w"), F.col("w")).alias("props"),
    )
    return nodes, edges.unionByName(closure_edges)


_RING_PAIRS_SQL = """
    chain AS (
      SELECT n_name AS src, n_nationkey AS sk,
             lead(n_name) OVER (
               PARTITION BY n_regionkey ORDER BY n_nationkey
             ) AS dst,
             lead(n_nationkey) OVER (
               PARTITION BY n_regionkey ORDER BY n_nationkey
             ) AS dk
      FROM nation
    ), closure AS (
      SELECT arg_min(n_name, n_nationkey) AS a, min(n_nationkey) AS ak,
             arg_max(n_name, n_nationkey) AS b, max(n_nationkey) AS bk
      FROM nation GROUP BY n_regionkey HAVING count(*) > 2
    ), pairs AS (
      SELECT src, dst, abs(sk - dk)::DOUBLE AS w
      FROM chain WHERE dst IS NOT NULL
      UNION ALL
      SELECT dst, src, abs(sk - dk)::DOUBLE
      FROM chain WHERE dst IS NOT NULL
      UNION ALL
      SELECT b, a, abs(bk - ak)::DOUBLE FROM closure
      UNION ALL
      SELECT a, b, abs(bk - ak)::DOUBLE FROM closure
    )"""


@_q(
    "cypher_sp_paths_topk",
    f"""
    WITH RECURSIVE {_RING_PAIRS_SQL}, walk(origin, id, d, h, p) AS (
      SELECT n_name, n_name, 0::DOUBLE, 0, '|' || n_name || '|'
      FROM nation
      UNION
      SELECT w.origin, pr.dst, w.d + pr.w, w.h + 1,
             w.p || pr.dst || '|'
      FROM walk w JOIN pairs pr ON pr.src = w.id
      WHERE w.h < 4 AND w.p NOT LIKE '%|' || pr.dst || '|%'
    ), ranked AS (
      SELECT origin, id, d,
             row_number() OVER (
               PARTITION BY origin, id ORDER BY d, p
             ) AS rnk
      FROM walk
    )
    SELECT origin AS src, id AS dst, d AS "pathWeight"
    FROM ranked WHERE rnk <= 2
    ORDER BY src, dst, "pathWeight"
    """,
)
def cypher_sp_paths_topk(spark, sf_dir):
    """CALL algo.SPpaths({..., pathCount: 2}) — the k-cheapest-paths
    surface (r5; closes the last documented CALL raise). The ring
    fixture gives every intra-region pair exactly two simple paths
    (clockwise/counterclockwise), so pathCount 2 is load-bearing on
    every row. Engine = graph_query.weighted_paths_topk, the EXACT
    bounded simple-path enumeration (mid-loop top-k pruning is wrong
    for simple paths — a prefix outside the current top-k can be the
    only one avoiding a blocked node — so state is the full simple-walk
    set within maxLen, pruned to k only at the final window). Oracle =
    exhaustive recursive-CTE simple-walk enumeration over the same
    ring ('|'-delimited path string blocks node reuse), top 2 per
    ordered pair. Tie handling: the top-k WEIGHT multiset is unique
    even when equal-weight paths straddle the cut, so yielding only
    pathWeight keeps the compare engine-independent of tie-break
    order."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _nation_ring_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (a:Nation), (b:Nation) "
        "CALL algo.SPpaths({sourceNode: a, targetNode: b, "
        "relTypes: ['NEAR'], weightProp: 'w', maxLen: 4, "
        "pathCount: 2}) "
        "YIELD pathWeight "
        "RETURN a AS src, b AS dst, pathWeight "
        "ORDER BY src, dst, pathWeight",
        nodes,
        edges,
    )


_CHAIN_PAIRS_SQL = """
    chain AS (
      SELECT n_name AS src, n_nationkey AS sk,
             lead(n_name) OVER (
               PARTITION BY n_regionkey ORDER BY n_nationkey
             ) AS dst,
             lead(n_nationkey) OVER (
               PARTITION BY n_regionkey ORDER BY n_nationkey
             ) AS dk
      FROM nation
    ), pairs AS (
      SELECT src, dst, abs(sk - dk)::DOUBLE AS w
      FROM chain WHERE dst IS NOT NULL
      UNION ALL
      SELECT dst, src, abs(sk - dk)::DOUBLE
      FROM chain WHERE dst IS NOT NULL
    )"""


@_q(
    "cypher_sp_paths",
    f"""
    WITH RECURSIVE {_CHAIN_PAIRS_SQL}, walk(origin, id, d, h) AS (
      SELECT n_name, n_name, 0::DOUBLE, 0 FROM nation
      UNION
      SELECT w.origin, p.dst, w.d + p.w, w.h + 1
      FROM walk w JOIN pairs p ON p.src = w.id WHERE w.h < 4
    )
    SELECT origin AS src, id AS dst, min(d)::DOUBLE AS "pathWeight"
    FROM walk GROUP BY origin, id ORDER BY src, dst
    """,
)
def cypher_sp_paths(spark, sf_dir):
    """CALL algo.SPpaths(...) YIELD pathWeight — the reference prompt's
    single-pair minimal-weight-path procedure AS CYPHER TEXT
    (fixtures/prompts.py:394-395; the graph_sp_pair gate covers the
    facade API). The cartesian MATCH binds all 625 nation pairs; every
    binding shares one origin-keyed Bellman-Ford
    (graph_query.weighted_paths). Oracle = exhaustive recursive-CTE walk
    enumeration over the same chain graph, min weight per ordered pair
    (self-pairs at 0; cross-region pairs unreachable -> no row on both
    sides). |nationkey delta| weights are integer-valued, so the double
    compare is bit-exact."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _nation_chain_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (a:Nation), (b:Nation) "
        "CALL algo.SPpaths({sourceNode: a, targetNode: b, "
        "relTypes: ['NEAR'], weightProp: 'w', maxLen: 4}) "
        "YIELD pathWeight "
        "RETURN a AS src, b AS dst, pathWeight ORDER BY src, dst",
        nodes,
        edges,
    )


@_q(
    "cypher_var_rel_size",
    f"""
    WITH RECURSIVE {_CHAIN_PAIRS_SQL}, walk(origin, id, h) AS (
      SELECT src, dst, 1 FROM pairs
      UNION
      SELECT w.origin, p.dst, w.h + 1
      FROM walk w JOIN pairs p ON p.src = w.id WHERE w.h < 3
    )
    SELECT DISTINCT origin AS src, id AS dst, h::BIGINT AS hops
    FROM walk ORDER BY src, dst, hops
    """,
)
def cypher_var_rel_size(spark, sf_dir):
    """-[r:NEAR*1..3]-> with a bound rel var (r5, verdict r04 missing
    #4): openCypher binds r to a relationship LIST; the executed subset
    exposes it as an implicit walk binding whose one observable is
    size(r)/length(r) = hop count, one row per (pair, hop count) with
    DISTINCT-guarded multiplicity. Oracle = exhaustive recursive-CTE
    walk enumeration over the same chain, DISTINCT (src, dst, h)."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _nation_chain_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (a:Nation)-[r:NEAR*1..3]->(b:Nation) "
        "RETURN DISTINCT a AS src, b AS dst, size(r) AS hops "
        "ORDER BY src, dst, hops",
        nodes,
        edges,
    )


@_q(
    "cypher_sp_path_route",
    f"""
    WITH RECURSIVE {_CHAIN_PAIRS_SQL}, walk(origin, id, d, h, p) AS (
      SELECT n_name, n_name, 0::DOUBLE, 0, n_name FROM nation
      UNION
      SELECT w.origin, pr.dst, w.d + pr.w, w.h + 1,
             w.p || '->' || pr.dst
      FROM walk w JOIN pairs pr ON pr.src = w.id WHERE w.h < 4
    ), best AS (
      SELECT origin, id, min(d) AS d FROM walk GROUP BY origin, id
    )
    SELECT w.origin AS src, w.id AS dst, b.d::DOUBLE AS w,
           min(w.p) AS path
    FROM walk w JOIN best b ON b.origin = w.origin AND b.id = w.id
                           AND b.d = w.d
    GROUP BY w.origin, w.id, b.d ORDER BY src, dst
    """,
)
def cypher_sp_path_route(spark, sf_dir):
    """CALL algo.SPpaths(...) YIELD path, pathWeight (r5, verdict r04
    missing #4): the ROUTE observable — the textual node-key walk
    'k1->k2->…' reconstructed from the Bellman-Ford argmin state. On
    the per-region nation chain the cheapest walk per pair is UNIQUE
    (positive weights on a path graph: any detour strictly adds), so
    the oracle's exhaustive walk CTE carries the same '->' string and
    min(p) over min-d rows is tie-free — the value compare certifies
    the reconstructed route node-for-node, both engines."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _nation_chain_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (a:Nation), (b:Nation) "
        "CALL algo.SPpaths({sourceNode: a, targetNode: b, "
        "relTypes: ['NEAR'], weightProp: 'w', maxLen: 4}) "
        "YIELD path, pathWeight AS w "
        "RETURN a AS src, b AS dst, w, path ORDER BY src, dst",
        nodes,
        edges,
    )


@_q(
    "cypher_ss_paths",
    f"""
    WITH RECURSIVE {_CHAIN_PAIRS_SQL}, walk(origin, id, d, h) AS (
      SELECT n_name, n_name, 0::DOUBLE, 0 FROM nation
      UNION
      SELECT w.origin, p.dst, w.d + p.w, w.h + 1
      FROM walk w JOIN pairs p ON p.src = w.id WHERE w.h < 2
    ), best AS (
      SELECT origin, id, min(d) AS d FROM walk
      WHERE id <> origin GROUP BY origin, id
    )
    SELECT origin AS src, count(*)::BIGINT AS n_reach,
           min(d)::DOUBLE AS min_w, max(d)::DOUBLE AS max_w
    FROM best GROUP BY origin ORDER BY src
    """,
)
def cypher_ss_paths(spark, sf_dir):
    """CALL algo.SSpaths(...) YIELD pathWeight — the single-source
    sibling (fixtures/prompts.py:396-398), maxLen 2 so the walk bound
    bites (chain ends see fewer nations than chain middles). One row per
    (source, reachable destination) collapses through Cypher's implicit
    grouping; nations in singleton regions have no NEAR edges and drop
    out on both engines (CALL row semantics)."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _nation_chain_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (a:Nation) "
        "CALL algo.SSpaths({sourceNode: a, relTypes: ['NEAR'], "
        "weightProp: 'w', maxLen: 2}) YIELD pathWeight "
        "RETURN a AS src, count(*) AS n_reach, "
        "min(pathWeight) AS min_w, max(pathWeight) AS max_w "
        "ORDER BY src",
        nodes,
        edges,
    )


@_q(
    "cypher_prop_compare",
    """
    SELECT n_name AS nation, count(*)::BIGINT AS n_pairs
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
                  JOIN customer ON c_nationkey = n_nationkey
    WHERE (c_acctbal >= 0 AND c_acctbal > s_acctbal) OR c_acctbal < 0
    GROUP BY 1 ORDER BY nation
    """,
)
def cypher_prop_compare(spark, sf_dir):
    """Property-to-property WHERE compares (a.x > b.y, numeric when both
    sides parse) + exists() — the "richer than their supplier" shape.
    Negative-balance customers get NO acctbal prop, so the numeric
    compare alone would NULL-filter them; the ``OR NOT exists(...)``
    branch re-admits them, making exists() load-bearing (three-valued
    OR parity on both engines). Same-nation supplier x customer pairs,
    counted per nation."""
    from kgforge.plans.cypher_exec import run_cypher

    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    skey = F.concat(F.lit("S"), F.col("s_suppkey").cast("string"))
    ckey = F.concat(F.lit("C"), F.col("c_custkey").cast("string"))
    empty = F.create_map().cast("map<string,string>")
    nodes = (
        s.select(
            F.xxhash64(F.lit("Supplier"), skey).alias("node_id"),
            F.lit("Supplier").alias("label"),
            skey.alias("key"),
            F.create_map(
                F.lit("acctbal"), F.col("s_acctbal").cast("string")
            ).alias("props"),
        )
        .unionByName(
            c.select(
                F.xxhash64(F.lit("Customer"), ckey).alias("node_id"),
                F.lit("Customer").alias("label"),
                ckey.alias("key"),
                F.when(
                    F.col("c_acctbal") >= 0,
                    F.create_map(
                        F.lit("acctbal"), F.col("c_acctbal").cast("string")
                    ),
                ).otherwise(empty).alias("props"),
            )
        )
        .unionByName(
            n.select(
                F.xxhash64(F.lit("Nation"), "n_name").alias("node_id"),
                F.lit("Nation").alias("label"),
                F.col("n_name").alias("key"),
                empty.alias("props"),
            )
        )
    )
    nn = n.select("n_nationkey", "n_name")
    edges = (
        s.join(nn, s.s_nationkey == nn.n_nationkey)
        .select(
            F.xxhash64(F.lit("Supplier"), skey).alias("src_id"),
            F.lit("IN").alias("label"),
            F.xxhash64(F.lit("Nation"), "n_name").alias("dst_id"),
            empty.alias("props"),
        )
        .unionByName(
            c.join(nn, c.c_nationkey == nn.n_nationkey).select(
                F.xxhash64(F.lit("Customer"), ckey).alias("src_id"),
                F.lit("IN").alias("label"),
                F.xxhash64(F.lit("Nation"), "n_name").alias("dst_id"),
                empty.alias("props"),
            )
        )
    )
    return run_cypher(
        "MATCH (s:Supplier)-[:IN]->(n:Nation)<-[:IN]-(c:Customer) "
        "WHERE c.acctbal > s.acctbal OR NOT exists(c.acctbal) "
        "RETURN n AS nation, count(*) AS n_pairs ORDER BY nation",
        nodes,
        edges,
    )


@_q(
    "cypher_pattern_pred",
    """
    SELECT 'C' || c_custkey::VARCHAR AS cust
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
    )
    ORDER BY cust
    """,
)
def cypher_pattern_pred(spark, sf_dir):
    """WHERE pattern predicate — `MATCH (c:Customer) WHERE NOT
    (c)-[:PLACED]->(:Order {status: 'F'})` is THE canonical generated
    "without" shape (openCypher existence predicate). Compiles to one
    left ANTI join, with the anonymous endpoint's inline props
    filtering the existence side; oracle = NOT EXISTS. Every driver
    customer has SOME order, so the status constraint is what makes the
    gate non-vacuous (5% of customers have no Finished order)."""
    from pyspark.sql import functions as _F
    from kgforge.plans.cypher_exec import run_cypher

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    ckey = _F.concat(_F.lit("C"), _F.col("c_custkey").cast("string"))
    ockey = _F.concat(_F.lit("C"), _F.col("o_custkey").cast("string"))
    okey = _F.concat(_F.lit("O"), _F.col("o_orderkey").cast("string"))
    nodes = c.select(
        _F.xxhash64(_F.lit("Customer"), ckey).alias("node_id"),
        _F.lit("Customer").alias("label"),
        ckey.alias("key"),
        _F.create_map().cast("map<string,string>").alias("props"),
    ).unionByName(
        o.select(
            _F.xxhash64(_F.lit("Order"), okey).alias("node_id"),
            _F.lit("Order").alias("label"),
            okey.alias("key"),
            _F.create_map(
                _F.lit("status"), _F.col("o_orderstatus").cast("string")
            ).alias("props"),
        )
    )
    edges = o.select(
        _F.xxhash64(_F.lit("Customer"), ockey).alias("src_id"),
        _F.lit("PLACED").alias("label"),
        _F.xxhash64(_F.lit("Order"), okey).alias("dst_id"),
        _F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "MATCH (c:Customer) "
        "WHERE NOT (c)-[:PLACED]->(:Order {status: 'F'}) "
        "RETURN c AS cust ORDER BY cust",
        nodes,
        edges,
    )


@_q(
    "cypher_size_degree",
    """
    SELECT 'C' || c_custkey::VARCHAR AS cust,
           count(o_orderkey)::BIGINT AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY 1 ORDER BY n_orders DESC, cust LIMIT 20
    """,
)
def cypher_size_degree(spark, sf_dir):
    """size((c)-[:PLACED]->(:Order)) — the per-row degree expression
    generated queries use instead of a grouping count. Compiles to ONE
    pre-aggregated degree relation left-joined onto the plan (0 for
    customers with no orders), then an ordinary top-k."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _customer_order_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (c:Customer) "
        "RETURN c AS cust, size((c)-[:PLACED]->(:Order)) AS n_orders "
        "ORDER BY n_orders DESC, cust LIMIT 20",
        nodes,
        edges,
    )


@_q(
    "cypher_case_banding",
    """
    SELECT CASE WHEN c_acctbal >= 5000 THEN 'high'
                WHEN c_acctbal >= 0 THEN 'mid'
                ELSE 'neg' END AS band,
           count(*)::BIGINT AS n
    FROM customer GROUP BY 1 ORDER BY band
    """,
)
def cypher_case_banding(spark, sf_dir):
    """CASE WHEN banding in RETURN — the bucketing shape generated
    aggregations use. The searched CASE compiles to one hidden column
    (conditions reuse the full WHERE grammar) and groups like any
    key; integer thresholds keep the string-prop numeric compare
    engine-exact."""
    from pyspark.sql import functions as _F

    from kgforge.plans.cypher_exec import run_cypher

    c = _t(spark, sf_dir, "customer")
    ckey = _F.concat(_F.lit("C"), _F.col("c_custkey").cast("string"))
    nodes = c.select(
        _F.xxhash64(_F.lit("Customer"), ckey).alias("node_id"),
        _F.lit("Customer").alias("label"),
        ckey.alias("key"),
        _F.create_map(
            _F.lit("acctbal"), _F.col("c_acctbal").cast("string")
        ).alias("props"),
    )
    edges = nodes.limit(0).select(
        _F.col("node_id").alias("src_id"),
        _F.col("label"),
        _F.col("node_id").alias("dst_id"),
        _F.col("props"),
    )
    return run_cypher(
        "MATCH (c:Customer) "
        "RETURN CASE WHEN c.acctbal >= 5000 THEN 'high' "
        "WHEN c.acctbal >= 0 THEN 'mid' ELSE 'neg' END AS band, "
        "count(*) AS n ORDER BY band",
        nodes,
        edges,
    )


@_q(
    "cypher_unwind",
    """
    SELECT u.v AS v, r_name AS region
    FROM (SELECT unnest(['NATION_3', 'NATION_17', 'NOPE']) AS v) u
    JOIN nation ON n_name = u.v
    JOIN region ON n_regionkey = r_regionkey
    ORDER BY v
    """,
)
def cypher_unwind(spark, sf_dir):
    """UNWIND of a literal list — the multi-entity batch-lookup shape
    ("regions of X and Y"). The cross join + WHERE n.name = v becomes
    an equi-join at optimization time; the unmatched element ('NOPE')
    drops, openCypher row semantics."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _nation_region_graph(spark, sf_dir)
    return run_cypher(
        "UNWIND ['NATION_3', 'NATION_17', 'NOPE'] AS v "
        "MATCH (n:Nation)-[:IN_REGION]->(r:Region) WHERE n.name = v "
        "RETURN v, r AS region ORDER BY v",
        nodes,
        edges,
    )


@_q(
    "cypher_order_by_prop",
    """
    SELECT 'C' || c_custkey::VARCHAR AS cust
    FROM customer
    ORDER BY c_acctbal DESC, cust
    LIMIT 10
    """,
)
def cypher_order_by_prop(spark, sf_dir):
    """Final ORDER BY over a NON-RETURNED property (`RETURN c ORDER BY
    c.acctbal DESC LIMIT 10`) — the top-k shape generated queries emit
    without aliasing the sort key. The key rides as a hidden projection
    column (numeric-parseable values sort numerically) and is dropped
    after the sort, so the result schema is exactly the RETURN items;
    the alias tiebreak keeps equal balances deterministic across
    engines."""
    from kgforge.plans.cypher_exec import run_cypher

    c = _t(spark, sf_dir, "customer")
    ckey = F.concat(F.lit("C"), F.col("c_custkey").cast("string"))
    nodes = c.select(
        F.xxhash64(F.lit("Customer"), ckey).alias("node_id"),
        F.lit("Customer").alias("label"),
        ckey.alias("key"),
        F.create_map(
            F.lit("acctbal"), F.col("c_acctbal").cast("string")
        ).alias("props"),
    )
    edges = nodes.limit(0).select(
        F.col("node_id").alias("src_id"),
        F.col("label"),
        F.col("node_id").alias("dst_id"),
        F.col("props"),
    )
    return run_cypher(
        "MATCH (c:Customer) RETURN c AS cust "
        "ORDER BY c.acctbal DESC, cust LIMIT 10",
        nodes,
        edges,
    )


@_q(
    "cypher_string_id_fns",
    """
    SELECT n_nationkey::BIGINT AS nid,
           replace(n_name, '_', '-') AS dashed,
           substr(n_name, 1, 3) AS l3,
           substr(n_name, greatest(length(n_name) - 2, 1)) AS r3,
           CASE n_nationkey % 3 WHEN 0 THEN true
                WHEN 1 THEN false END AS tb
    FROM nation ORDER BY nid
    """,
)
def cypher_string_id_fns(spark, sf_dir):
    """r5 scalars replace / left / right / toBoolean / id in RETURN.
    Node ids are the NATURAL nationkey (not xxhash64) so id(n) is
    engine-comparable; the flag prop cycles ' True '/'false'/name by
    nationkey so toBoolean exercises case-folding, trimming, AND the
    not-a-boolean -> NULL arm; replace is literal (non-regex)."""
    from kgforge.plans.cypher_exec import run_cypher

    nation = _t(spark, sf_dir, "nation")
    nodes = nation.select(
        F.col("n_nationkey").cast("long").alias("node_id"),
        F.lit("Nation").alias("label"),
        F.col("n_name").alias("key"),
        F.create_map(
            F.lit("name"), F.col("n_name"),
            F.lit("flag"),
            F.when(F.col("n_nationkey") % 3 == 0, F.lit(" True "))
            .when(F.col("n_nationkey") % 3 == 1, F.lit("false"))
            .otherwise(F.col("n_name")),
        ).alias("props"),
    )
    edges = nation.limit(0).select(
        F.lit(0).cast("long").alias("src_id"),
        F.lit("NONE").alias("label"),
        F.lit(0).cast("long").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "MATCH (n:Nation) RETURN id(n) AS nid, "
        "replace(n.name, '_', '-') AS dashed, "
        "left(n.name, 3) AS l3, right(n.name, 3) AS r3, "
        "toBoolean(n.flag) AS tb ORDER BY nid",
        nodes,
        edges,
    )


@_q(
    "cypher_scalar_fns",
    """
    SELECT lower(n_name) AS nation,
           substr(n_name, 1, 8) AS pfx,
           coalesce(CASE WHEN c_acctbal > 5000 THEN c_mktsegment END,
                    'NONE') AS seg,
           count(*)::BIGINT AS n_cust,
           CAST(max(c_custkey) AS DOUBLE) AS max_key
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2, 3
    ORDER BY nation, seg
    """,
)
def cypher_scalar_fns(spark, sf_dir):
    """Scalar functions in RETURN (toLower / substring / coalesce /
    toInteger) compiled to hidden columns usable as grouping keys AND
    under aggregates. substring follows openCypher 0-based indexing
    (the oracle's substr is 1-based). The seg prop is stored NULL for
    low-balance customers so coalesce's first-non-null is observable;
    max(toInteger(...)) runs over the hidden cast column (double, like
    every numeric Cypher aggregate here)."""
    from kgforge.plans.cypher_exec import run_cypher

    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    nodes = customer.select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("key"),
        F.create_map(
            F.lit("custkey"), F.col("c_custkey").cast("string"),
            F.lit("seg"),
            F.when(F.col("c_acctbal") > 5000, F.col("c_mktsegment")),
        ).alias("props"),
    ).unionByName(
        nation.select(
            F.xxhash64(F.lit("Nation"), "n_name").alias("node_id"),
            F.lit("Nation").alias("label"),
            F.col("n_name").alias("key"),
            F.create_map(F.lit("name"), F.col("n_name")).alias("props"),
        )
    )
    edges = customer.join(
        nation, customer.c_nationkey == nation.n_nationkey
    ).select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("src_id"),
        F.lit("FROM").alias("label"),
        F.xxhash64(F.lit("Nation"), "n_name").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "MATCH (c:Customer)-[:FROM]->(n:Nation) "
        "RETURN toLower(n.name) AS nation, substring(n.name, 0, 8) AS pfx, "
        "coalesce(c.seg, 'NONE') AS seg, count(*) AS n_cust, "
        "max(toInteger(c.custkey)) AS max_key "
        "ORDER BY nation, seg",
        nodes,
        edges,
    )


@_q(
    "dedup_paragraphs",
    """
    WITH d AS (SELECT doc_id, text FROM documents),
    mixed AS (
      SELECT a.doc_id AS doc_id,
             a.text || chr(10) || chr(10) || b.text || chr(10) || chr(10)
               || c.text AS text
      FROM d a
      JOIN d b ON b.doc_id = a.doc_id + 1
      JOIN d c ON c.doc_id = a.doc_id + 2
    ),
    paras AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10) || chr(10))) AS para,
             generate_subscripts(
               string_split(text, chr(10) || chr(10)), 1) AS pos
      FROM mixed
    ),
    ranked AS (
      SELECT doc_id, pos, para,
             row_number() OVER (
               PARTITION BY para ORDER BY doc_id, pos) AS rn
      FROM paras WHERE para <> ''
    )
    SELECT doc_id, count(*)::BIGINT AS n_kept,
           string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
    FROM ranked WHERE rn = 1
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_paragraphs_gate(spark, sf_dir):
    """Corpus-wide exact paragraph dedup, keep-first-occurrence (the
    C4/RefinedWeb boilerplate stage). The driver documents are
    single-paragraph, so the gate stitches each doc with its two
    successors (inner joins — both engines drop the same tail docs)
    into 3-paragraph pages where every text appears ~3 times; dedup
    must keep exactly the first copy and reassemble pages in original
    paragraph order. Oracle = row_number window over the paragraph
    string; engine = min(struct(id, pos)) agg keyed by md5 fingerprint
    (partial-agg-friendly — see dedup.dedup_paragraphs docstring)."""
    from kgforge.functions.dedup import dedup_paragraphs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sep = "\n\n"
    mixed = (
        d.alias("a")
        .join(d.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .join(d.alias("c"), F.col("c.doc_id") == F.col("a.doc_id") + 2)
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.concat_ws(sep, "a.text", "b.text", "c.text").alias("text"),
        )
    )
    return dedup_paragraphs(mixed, sep=sep).orderBy("doc_id")


@_q(
    "corpus_mix",
    """
    WITH h AS (
      SELECT doc_id, source, n_chars,
             md5('kgforge-mix' || doc_id::VARCHAR) AS hx
      FROM documents
    ), b(source, budget) AS (
      VALUES ('src0', 4000), ('src1', 2500), ('src7', 6000)
    ), r AS (
      SELECT h.doc_id, h.source, h.n_chars, b.budget,
             coalesce(sum(h.n_chars) OVER (
               PARTITION BY h.source ORDER BY h.hx, h.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run
      FROM h JOIN b ON h.source = b.source
    )
    SELECT doc_id, source, n_chars::BIGINT AS n_chars
    FROM r WHERE run < budget
    ORDER BY source, doc_id
    """,
)
def corpus_mix(spark, sf_dir):
    """Domain mixing with per-source token budgets (mix_corpus): docs
    hash-ordered within each source, kept while the prior running
    weight is under the source budget; unbudgeted sources drop. The
    engine runs the grouped two-phase distributed prefix-sum (no
    per-source window — a hot source would serialize onto one task);
    the oracle is the equivalent per-source window over the same
    md5(salt || key) order. Weight = n_chars (column shared by both
    engines)."""
    from kgforge.functions.sharding import mix_corpus

    d = _t(spark, sf_dir, "documents")
    out = mix_corpus(
        d,
        {"src0": 4000, "src1": 2500, "src7": 6000},
        weight_col="n_chars",
    )
    return out.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    ).orderBy("source", "doc_id")


@_q(
    "cypher_write_replay",
    """
    SELECT n_name AS nation, r_name AS region
    FROM nation JOIN region ON n_regionkey = r_regionkey
    ORDER BY nation
    """,
)
def cypher_write_replay(spark, sf_dir):
    """Write-Cypher replay e2e: the reference's emitted MERGE strings
    (node MERGE+SET, MATCH/MATCH/edge-MERGE — extract_data_step.py:
    218-266) executed via kg.execute_writes (batched to one upsert per
    table), then read back with kg.query. The query strings are built
    driver-side from the nation/region rows — gate-scale metadata (30
    rows), mimicking how the reference emits per-extraction queries;
    the oracle joins the same base tables directly."""
    import os
    import shutil

    from kgforge.kg import KnowledgeGraph
    from kgforge.ontology import Attribute, Entity, Ontology, Relation

    onto = Ontology(
        entities=[
            Entity("Nation", [Attribute("name", "string", True, True)]),
            Entity("Region", [Attribute("name", "string", True, True)]),
        ],
        relations=[Relation("IN_REGION", "Nation", "Region", [])],
    )
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".work", "gate_writes", tag,
    )
    shutil.rmtree(base, ignore_errors=True)
    kg = KnowledgeGraph(spark, onto, base)
    pairs = (
        _t(spark, sf_dir, "nation")
        .join(
            _t(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_name", "r_name")
        .collect()
    )
    queries = [
        f'MERGE (n:Region {{name: "{r}"}})'
        for r in sorted({p["r_name"] for p in pairs})
    ] + [
        f'MERGE (n:Nation {{name: "{p["n_name"]}"}}) RETURN n'
        for p in pairs
    ] + [
        f'MATCH (s:Nation {{name: "{p["n_name"]}"}}) '
        f'MATCH (t:Region {{name: "{p["r_name"]}"}}) '
        "MERGE (s)-[r:IN_REGION]->(t) RETURN r"
        for p in pairs
    ]
    stats = kg.execute_writes(queries)
    assert stats["edges_written"] == len(pairs), stats
    return kg.query(
        "MATCH (n:Nation)-[:IN_REGION]->(r:Region) "
        "RETURN n AS nation, r AS region ORDER BY nation"
    )


@_q("kg_fixture_pr")
def kg_fixture_pr(spark, sf_dir):
    """North-rule P/R gate vs the reference's OWN fixtures (hand-derived
    frozen gold, kgforge/fixtures/): madoff.txt + 8 UFC stat pages + the
    restaurants-KG JSON records through
    the production html->text->wrapper-extraction path. The `relations`
    rows are the (subj, pred, obj) triple match; pytest
    (tests/test_fixture_gold.py) asserts precision/recall >= 0.95 on every
    row. Empty when /root/reference is unavailable."""
    from kgforge.fixtures import fixture_pr_report

    return fixture_pr_report(spark)


@_q("media_features")
def media_features(spark, sf_dir):
    """Multimodal plumbing: binary payloads -> Arrow-batched feature stub."""
    from kgforge.functions.multimodal import extract_features, synth_media

    media = synth_media(spark, n=64, seed=42)
    return extract_features(media, fake=True).select(
        "media_id", "media_type", "n_bytes"
    )


@_q(
    "media_decode_real",
    """
    SELECT * FROM (VALUES
        (0, 'image', 'da14c25f0a71e5766ec84d97450a9eb4'),
        (1, 'image', '53df184290a8d600daa4138e98e9fd47'),
        (2, 'image', 'fbc9ec0cbc2b2fd1c5e0b7f0f6167214'),
        (3, 'audio', '43c2ec0fb1c8e4979a2682b8eafccc87'),
        (4, 'image', 'b7b95d1854cc4d885e8cdc0b0a28e5d6'),
        (5, 'image', '8086d31a874a7c378143872e05887160'),
        (6, 'image', '3565ca99c90a314c272e59cc3eec5c06'),
        (7, 'audio', '95c627c516ac2c626190a5e27c34585b'),
        (8, 'image', '6992a2c8b9644394637f646405ed403d'),
        (9, 'image', '4977ba1da7c5ced0f946be3b89f8177d'),
        (10, 'image', 'd2d02223dc425f6c2adce5f34bbc0cc6'),
        (11, 'audio', 'c660958ad9e9684b7ee42a842e6b5c2c'),
        (12, 'image', 'ba91a0ad6d7b1be5a149f45a4a5fa242'),
        (13, 'image', '27881e35a0ebbe2ece1cbf50b20be537'),
        (14, 'image', 'f0a7262996e67aa34debbeadeb42353a'),
        (15, 'audio', 'b5928c4b164f1b7ddd7f90946e655853'),
        (16, 'image', '05fa4ab0b8918440f50cb02974288b35'),
        (17, 'image', '5e4103ba9147305349e4a5c2697f7972'),
        (18, 'image', '7e96b78d8f54e0954f69440965189c1d'),
        (19, 'audio', '70dc708b51f1ffc8906e7680d40e1c25'),
        (20, 'image', '187d389bd2824d8adec1326322d72684'),
        (21, 'image', '13d7e644226da2df3e9544cfd0cdda18'),
        (22, 'image', 'ca6ffa7626f8d9ad86c67dad6328c59e'),
        (23, 'audio', 'ddf861972497920256ea5277d0f75ef1'),
        (24, 'image', 'eba0ad876e25b57ebda09fbd68188e2a'),
        (25, 'image', 'c20afac7cc4c7dbc4b81e97d8d6d1746'),
        (26, 'image', '01b3a04da35a1266e0b09f64501e6ea5'),
        (27, 'audio', 'bd1ecb00371b7a906beee98b51eda95b'),
        (28, 'image', '0f44de31caf58e3937b4fb88a3219295'),
        (29, 'image', '75c4effea255285bf7b78d7f0ab9bca4'),
        (30, 'image', '73d66a9a6b9d5d30eba2d0ab169f4c21'),
        (31, 'audio', 'a6b308ea7c91269f1cab63cb7af5015e'),
        (32, 'image', '4a6c8c688751676aea3a1375d6014888'),
        (33, 'image', 'bf995e718ca461284b3d0c3cffcbc059'),
        (34, 'image', '09587e5c3747f9c6b66ba7a5621efc4c'),
        (35, 'audio', '113b1c9abfc8037293cabc807e1ccbb4'),
        (36, 'image', '05edf1354cd765a4c8f7c095bee7263f'),
        (37, 'image', '5b9451ad035adb5a6460a32d7972e4c6'),
        (38, 'image', '353795d061ee7c4cb0fbc310d3c23466'),
        (39, 'audio', '274bb7a15254c3ca2800ea7496ed28ab'),
        (40, 'image', 'f3125aa9686a7b2307e9630c595952f4'),
        (41, 'image', '2cafb0e0733b84de0002f91aec7fa78e'),
        (42, 'image', 'b83d65ecfd02e591a03f304537344526'),
        (43, 'audio', 'fcabb9540b883139ac7e918b01598636'),
        (44, 'image', '8b60adaac644e2f9f900e46a7d4e7006'),
        (45, 'image', '5ef4a1854e75bf7a2ec957e0915ab403'),
        (46, 'image', '6daf8286448bceb39a86cda1d90eb205'),
        (47, 'audio', 'f25b8636b84ae96f6b22327d15d72470'),
        (48, 'image', 'c6b96b492aefc318c2808d2ceb70f63e'),
        (49, 'image', '8a91792a0263c46e559a4e824ae5cb71'),
        (50, 'image', '4a810748ee65914d3ef6d6e6f16b8260'),
        (51, 'image', '90f710b8bc78285d364a82ff6143b302'),
        (52, 'image', 'dad155640013bf28991cf7d638c79508'),
        (53, 'image', '73194e11c1519f20011b88d67bf0ad1a'),
        (54, 'image', '72e903323210970c8b0044789e78ff9a'),
        (55, 'image', '605d7d28071d9bdd822494a22f620267'),
        (56, 'image', '48ae1d2786c39dff467bb2735ac9e70c'),
        (57, 'image', '2b00cbded25ae0fa2b44eb89a55cd83b'),
        (58, 'image', '9bb187516dfdcc1fdbc9af85a2684982'),
        (59, 'image', 'a65b6355397a28079207baa7d9c9299e')
    ) AS t(media_id, media_type, digest) ORDER BY media_id
    """,
)
def media_decode_real(spark, sf_dir):
    """REAL pure-numpy/stdlib media decode on the executors, now
    value-hash ORACLED (verdict r04 #6): deterministic PNG (all five
    scanline filters, gray/RGB/RGBA), baseline JPEG (4:4:4/4:2:0/gray,
    quality + restart-interval varied, functions/jpeg.py), PPM,
    16-bit-PCM WAV, and (rows 48+, r5 s7) GIF payloads through the LZW
    decoder, decoded by the `decode_media` decoders; each row returns
    md5(canonical decoded bytes) via `decode_digest`. Rows 0..47 are
    byte-identical to the r5 gold (append-only extension — the review
    anchor); the 12 GIF digests were independently certified against
    SOURCE pixels (no codec) at derivation time.
    The oracle is a FROZEN literal table derived driver-side by
    tools/derive_media_gold.py (same freeze discipline as the fixture
    gold: regenerate only after re-reviewing the decoders) — the gate
    certifies the full executor-side decode path bit-for-bit. pytest
    (test_jpeg, test_multimodal) additionally pins decoder exactness
    against independent spatial references."""
    import pandas as pd

    from kgforge.functions.multimodal import decode_digest, synth_real_media

    media = synth_real_media(spark, n=60, seed=42)

    def digest(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": [m["media_type"] for m in pdf["meta"]],
                    "digest": [
                        decode_digest(bytes(p)) for p in pdf["payload"]
                    ],
                }
            )

    return media.mapInPandas(
        digest, "media_id long, media_type string, digest string"
    ).orderBy("media_id")


@_q(
    "cypher_string_fns",
    """
    SELECT c_custkey::VARCHAR AS custkey,
           ltrim('  ' || c_name || '  ') AS lt,
           rtrim('  ' || c_name || '  ') AS rt,
           reverse(c_name) AS rev,
           length(c_name)::BIGINT AS name_len,
           sqrt(c_custkey::DOUBLE) AS root,
           '["custkey","name","pad"]' AS ks
    FROM customer ORDER BY custkey
    """,
)
def cypher_string_fns(spark, sf_dir):
    """String/metadata scalars in RETURN (plans/cypher_exec.py hidden-
    column framework, r5 batch): lTrim/rTrim over padded names, reverse,
    size(string) = char count (BIGINT, its own guarded regex so the
    size(r) hop-count and size(pattern) degree forms keep their own
    compilers), sqrt (IEEE correctly-rounded, so bit-identical
    cross-engine — unlike exp/log/pow, which stay out), and keys(n) as
    canonical sorted-JSON (same determinism contract as properties())."""
    from kgforge.plans.cypher_exec import run_cypher

    customer = _t(spark, sf_dir, "customer")
    nodes = customer.select(
        F.xxhash64(F.lit("Customer"), "c_custkey").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("key"),
        F.create_map(
            F.lit("custkey"), F.col("c_custkey").cast("string"),
            F.lit("name"), F.col("c_name"),
            F.lit("pad"), F.concat(F.lit("  "), F.col("c_name"), F.lit("  ")),
        ).alias("props"),
    )
    edges = customer.limit(0).select(
        F.lit(0).cast("long").alias("src_id"),
        F.lit("NONE").alias("label"),
        F.lit(0).cast("long").alias("dst_id"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return run_cypher(
        "MATCH (c:Customer) RETURN c.custkey AS custkey, "
        "lTrim(c.pad) AS lt, rTrim(c.pad) AS rt, "
        "reverse(c.name) AS rev, size(c.name) AS name_len, "
        "sqrt(c.custkey) AS root, keys(c) AS ks ORDER BY custkey",
        nodes,
        edges,
    )


@_q(
    "cypher_db_procs",
    """
    SELECT kind, value FROM (
        SELECT DISTINCT 'label' AS kind, p_brand AS value FROM part
        UNION
        SELECT DISTINCT 'relationshipType', o_orderpriority FROM orders
        UNION
        SELECT DISTINCT 'propertyKey',
               lower(split_part(p_type, ' ', 1)) FROM part
        UNION
        SELECT DISTINCT 'propertyKey', o_orderstatus FROM orders
    ) ORDER BY kind, value
    """,
)
def cypher_db_procs(spark, sf_dir):
    """FalkorDB's schema-introspection procedures (the surface GRAPH
    .QUERY clients call before generating queries): standalone
    CALL db.labels() / db.relationshipTypes() / db.propertyKeys(),
    each a distributed DISTINCT over the graph tables (propertyKeys
    explodes BOTH props maps). The gate graph is DATA-DRIVEN so the
    oracle checks real computation: node labels = p_brand, edge labels
    = o_orderpriority, node prop keys = first word of p_type lowered,
    edge prop keys = o_orderstatus."""
    from kgforge.plans.cypher_exec import run_cypher

    part = _t(spark, sf_dir, "part")
    orders = _t(spark, sf_dir, "orders")
    nodes = part.select(
        F.xxhash64(F.lit("P"), "p_partkey").alias("node_id"),
        F.col("p_brand").alias("label"),
        F.col("p_partkey").cast("string").alias("key"),
        F.create_map(
            F.lower(F.split(F.col("p_type"), " ").getItem(0)),
            F.col("p_type"),
        ).alias("props"),
    )
    edges = orders.select(
        F.xxhash64(F.lit("P"), "o_orderkey").alias("src_id"),
        F.col("o_orderpriority").alias("label"),
        F.xxhash64(F.lit("P"), "o_custkey").alias("dst_id"),
        F.create_map(
            F.col("o_orderstatus"), F.col("o_orderkey").cast("string")
        ).alias("props"),
    )
    out = None
    for q, col, kind in [
        ("CALL db.labels()", "label", "label"),
        (
            "CALL db.relationshipTypes() YIELD relationshipType",
            "relationshipType",
            "relationshipType",
        ),
        (
            "CALL db.propertyKeys() YIELD propertyKey "
            "RETURN propertyKey ORDER BY propertyKey",
            "propertyKey",
            "propertyKey",
        ),
    ]:
        part_df = (
            run_cypher(q, nodes, edges)
            .select(
                F.lit(kind).alias("kind"), F.col(col).alias("value")
            )
        )
        out = part_df if out is None else out.unionByName(part_df)
    return out.orderBy("kind", "value")


@_q(
    "graph_node_similarity",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), hot AS (
      SELECT p FROM e GROUP BY p HAVING count(*) > 25
    ), e2 AS (
      SELECT * FROM e ANTI JOIN hot USING (p)
    ), deg AS (
      SELECT s, count(*)::BIGINT AS deg FROM e2 GROUP BY s
    ), pairs AS (
      SELECT x.s AS a, y.s AS b, count(*)::BIGINT AS shared
      FROM e2 x JOIN e2 y ON x.p = y.p AND x.s < y.s
      GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT p.a AS a, p.b AS b, p.shared AS shared,
           da.deg AS deg_a, db.deg AS deg_b
    FROM pairs p
    JOIN deg da ON da.s = p.a
    JOIN deg db ON db.s = p.b
    ORDER BY a, b
    """,
)
def graph_node_similarity(spark, sf_dir):
    """Neighborhood-Jaccard node similarity (plans/graph_query.py::
    node_similarity, r5) over the supplier co-supply graph: src =
    l_suppkey, dst = l_partkey, pairs of suppliers sharing >= 3 parts.
    Output is the all-BIGINT decomposition (a, b, shared, deg_a, deg_b)
    — the float jaccard = shared/(deg_a+deg_b-shared) is a final
    expression, kept out of the hash compare (same craft as
    betweenness_counts). max_dst_degree=25 exercises the viral-hub cap
    on the REAL data path: at sf0.01 it drops ~1054 hub parts before
    the inverted-index self-join (non-vacuous), at sf0.001 it drops
    none; degrees are recomputed over the capped edge list so Jaccard
    stays internally consistent (the oracle replays the cap)."""
    from kgforge.plans.graph_query import node_similarity

    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    out = node_similarity(e, min_shared=3, max_dst_degree=25)
    return out.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        "shared",
        "deg_a",
        "deg_b",
    ).orderBy("a", "b")


@_q(
    "events_funnel",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
    ), u AS (
      SELECT DISTINCT user_id FROM e
    ), s1 AS (
      SELECT user_id, min(ts_us) AS t1 FROM e
      WHERE event_type = 'view' GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
      WHERE event_type = 'click' AND ts_us > t1
        AND ts_us - t1 <= 172800000000 GROUP BY 1
    ), s3 AS (
      SELECT e.user_id, min(ts_us) AS t3
      FROM e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
      WHERE event_type = 'purchase' AND ts_us > t2
        AND ts_us - t1 <= 172800000000 GROUP BY 1
    )
    SELECT u.user_id AS user_id,
           (CASE WHEN t3 IS NOT NULL THEN 3
                 WHEN t2 IS NOT NULL THEN 2
                 WHEN t1 IS NOT NULL THEN 1
                 ELSE 0 END)::BIGINT AS steps_completed,
           (coalesce(t3, t2, t1) - t1)::BIGINT AS funnel_us
    FROM u
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    ORDER BY user_id
    """,
)
def events_funnel(spark, sf_dir):
    """Ordered-funnel conversion (functions/funnel.py): per user, how
    far through view -> click -> purchase within a 48 h window anchored
    at the first view. The Spark side is ONE greedy higher-order-
    function walk over the user's sorted event list (one shuffle, no
    joins); the oracle is the equivalent min-ts SQL cascade — the
    docstring's proof that greedy-earliest == the cascade under the
    strict-inequality advance rule is what this gate checks on real
    data (mixed outcomes at both SFs: 15/8/5 users at sf0.001,
    150/96/41 at sf0.01). Output is the tz-shift-invariant pair
    (steps_completed, funnel_us = t_last - t_first) so the compare is
    exact under any driver session timezone."""
    from kgforge.functions.funnel import funnel

    ev = _t(spark, sf_dir, "events")
    out = funnel(
        ev,
        ["view", "click", "purchase"],
        within_us=172_800_000_000,
    )
    return out.select(
        F.col("user").alias("user_id"),
        "steps_completed",
        (F.col("t_last") - F.col("t_first")).cast("long").alias("funnel_us"),
    ).orderBy("user_id")


@_q(
    "events_retention",
    """
    WITH e AS (
      SELECT user_id, ts::DATE AS d FROM events
    ), f AS (
      SELECT user_id, min(d) AS cohort_date FROM e GROUP BY 1
    ), a AS (
      SELECT DISTINCT e.user_id, cohort_date,
             floor(date_diff('day', cohort_date, d) / 7)::BIGINT AS period_offset
      FROM e JOIN f USING (user_id)
    )
    SELECT cohort_date, period_offset, count(*)::BIGINT AS n_users
    FROM a GROUP BY 1, 2
    """,
)
def events_retention(spark, sf_dir):
    """Cohort retention matrix (functions/funnel.py::retention_cohorts):
    users cohorted by first-event date, counted per 7-day offset they
    return in. All-integer output (dates + counts) so the grid is
    cross-engine exact. Spark shape: map-side min for the cohort table,
    user-keyed join co-partitioned with it, DISTINCT before the tiny
    final count — no windows, no skew-prone key."""
    from kgforge.functions.funnel import retention_cohorts

    out = retention_cohorts(_t(spark, sf_dir, "events"), period_days=7)
    return out.withColumnRenamed("offset", "period_offset")


@_q(
    "events_gapfill",
    """
    WITH a AS (
      SELECT event_type,
             (epoch_us(ts) - epoch_us(ts) % 3600000000)::BIGINT AS bucket_us,
             count(*)::BIGINT AS n,
             sum(CAST(value AS DECIMAL(18,6))) AS total
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT event_type, min(bucket_us) AS lo, max(bucket_us) AS hi
      FROM a GROUP BY 1
    ), g AS (
      SELECT event_type,
             (lo + 3600000000 * unnest(range(0, (hi - lo) // 3600000000 + 1)))::BIGINT AS bucket_us
      FROM s
    ), j AS (
      SELECT g.event_type, g.bucket_us,
             coalesce(a.n, 0)::BIGINT AS n, a.total
      FROM g LEFT JOIN a USING (event_type, bucket_us)
    )
    SELECT event_type, bucket_us, n,
           CAST(total AS DOUBLE) AS total_value,
           CAST(last_value(total IGNORE NULLS) OVER (
                  PARTITION BY event_type ORDER BY bucket_us
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS DOUBLE) AS total_locf,
           (n = 0) AS is_gap
    FROM j
    """,
)
def events_gapfill(spark, sf_dir):
    """Gap-fill + LOCF (functions/rollup.py::gapfill_locf): per event
    type, every hourly bucket between first and last event, missing
    hours carrying the last observed DECIMAL total forward
    (time_bucket_gapfill + locf semantics). Buckets are exact modulo
    arithmetic on epoch micros — float bucket division could tip a
    boundary differently per engine. The grid explodes from ONE
    min/max row per key with a raise-not-truncate bucket-count guard."""
    from kgforge.functions.rollup import gapfill_locf

    out = gapfill_locf(_t(spark, sf_dir, "events"), step_us=3_600_000_000)
    return out.select(
        "event_type",
        "bucket_us",
        "n",
        F.col("total").cast("double").alias("total_value"),
        F.col("total_locf").cast("double").alias("total_locf"),
        "is_gap",
    )


@_q(
    "text_cooccurrence",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ), tok AS (
      SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
      FROM toks WHERE len(t) >= 2
    ), p AS (
      SELECT a.w AS w1, b.w AS w2
      FROM tok a JOIN tok b
        ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 5
    ), c AS (
      SELECT w1, w2, count(*)::BIGINT AS cooc FROM p GROUP BY 1, 2
      HAVING count(*) >= 5
    ), m AS (
      SELECT w, count(*)::BIGINT AS cnt FROM tok GROUP BY 1
    )
    SELECT c.w1, c.w2, c.cooc, m1.cnt AS cnt1, m2.cnt AS cnt2
    FROM c JOIN m m1 ON c.w1 = m1.w JOIN m m2 ON c.w2 = m2.w
    """,
)
def text_cooccurrence(spark, sf_dir):
    """Windowed co-occurrence counts (textstats.py::cooccurrence_counts):
    ordered token pairs within a 5-token window, corpus-counted, with
    marginal counts — the integer substrate of PMI/word2vec tables. The
    Spark side GENERATES pairs with higher-order functions in one pass
    over the projected token array; the oracle is the equivalent
    positional self-join (which is exactly the shuffle-twice shape the
    operator avoids). min_count=5 prunes the hapax tail before the
    marginal joins on both sides."""
    from kgforge.functions.textstats import cooccurrence_counts

    return cooccurrence_counts(
        _t(spark, sf_dir, "documents"), window=5, min_count=5
    )


@_q(
    "graph_ktruss",
    """
    WITH pe AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e0 AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM pe
    ), tri0 AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e0 e1 JOIN e0 e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b
    ), sup0 AS (
      SELECT a, b, count(*)::BIGINT AS sup FROM (
        SELECT x AS a, y AS b FROM tri0
        UNION ALL SELECT x, z FROM tri0
        UNION ALL SELECT y, z FROM tri0
      ) GROUP BY a, b
    ), kk AS (
      SELECT (sum(coalesce(s.sup, 0)) // count(*))::BIGINT AS kv
      FROM e0 e LEFT JOIN sup0 s USING (a, b)
    ), e1 AS (
      SELECT e.a, e.b FROM e0 e LEFT JOIN sup0 s USING (a, b)
      WHERE coalesce(s.sup, 0) >= (SELECT kv FROM kk) - 2
    ), tri1 AS (
      SELECT e1_.a AS x, e1_.b AS y, e2_.b AS z
      FROM e1 e1_ JOIN e1 e2_ ON e1_.a = e2_.a AND e1_.b < e2_.b
      JOIN e1 e3_ ON e3_.a = e1_.b AND e3_.b = e2_.b
    ), sup1 AS (
      SELECT a, b, count(*)::BIGINT AS sup FROM (
        SELECT x AS a, y AS b FROM tri1
        UNION ALL SELECT x, z FROM tri1
        UNION ALL SELECT y, z FROM tri1
      ) GROUP BY a, b
    ), e2 AS (
      SELECT e.a, e.b FROM e1 e LEFT JOIN sup1 s USING (a, b)
      WHERE coalesce(s.sup, 0) >= (SELECT kv FROM kk) - 2
    )
    SELECT a::BIGINT AS a, b::BIGINT AS b FROM e2 ORDER BY a, b
    """,
)
def graph_ktruss(spark, sf_dir):
    """Bounded k-truss peeling (plans/graph_query.py k_truss) on the
    parts co-purchase graph — the edge-level analogue of graph_kcore:
    two removal rounds of edges with fewer than k-2 triangle witnesses.
    k is DATA-ADAPTIVE (floor of the mean edge support, an exact BIGINT
    both engines derive identically) because this graph's support
    distribution shifts with scale — a fixed k is vacuous at one SF.
    Non-vacuous peeling at both scales: 8,899 -> 1,344 edges at
    sf0.001 (k=42), 115,729 -> 67,430 at sf0.01 (k=10). The oracle
    unrolls both rounds (triangle witness x<y<z, exploded to member
    edges) — a fixpoint is not recursive-CTE-expressible, the fixed
    unroll is (the graph_kcore/graph_lpa contract)."""
    from kgforge.plans.graph_query import _edge_support, k_truss

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pe = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .dropDuplicates()
    )
    und = pe.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).dropDuplicates()
    stat = (
        und.join(_edge_support(und), on=["a", "b"], how="left")
        .agg(
            F.sum(F.coalesce("sup", F.lit(0))).alias("t"),
            F.count("*").alias("n"),
        )
        .first()
    )
    k = int(stat.t // stat.n)
    out = k_truss(pe, k=k, rounds=2)
    return out.select(
        F.col("a").cast("long"), F.col("b").cast("long")
    ).orderBy("a", "b")


@_q(
    "graph_hyperball",
    """
    WITH pe AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e0 AS (SELECT src, dst FROM pe UNION SELECT dst, src FROM pe),
    nodes AS (SELECT DISTINCT src AS v FROM e0),
    b1 AS (
      SELECT v, v AS u FROM nodes
      UNION
      SELECT src, dst FROM e0
    ), b2 AS (
      SELECT v, u FROM b1
      UNION
      SELECT b.v, e.dst AS u FROM b1 b JOIN e0 e ON e.src = b.u
    ), h AS (
      SELECT DISTINCT v, md5(u::VARCHAR) AS h FROM b2
    ), t AS (
      SELECT v,
             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket,
             substr(h, 3, 12) AS tail
      FROM h
    ), z AS (
      SELECT v, bucket, tail,
             length(regexp_extract(tail, '^(0*)', 1)) AS lz
      FROM t
    ), r AS (
      SELECT v, bucket,
             CASE WHEN lz >= 12 THEN 49
                  ELSE lz * 4
                       + (CASE WHEN substr(tail, lz + 1, 1) >= '8' THEN 0
                               WHEN substr(tail, lz + 1, 1) >= '4' THEN 1
                               WHEN substr(tail, lz + 1, 1) >= '2' THEN 2
                               ELSE 3 END)
                       + 1
             END AS rho
      FROM z
    ), reg AS (
      SELECT v, bucket, max(rho) AS max_rho FROM r GROUP BY 1, 2
    )
    SELECT v::BIGINT AS id, count(*)::BIGINT AS n_regs,
           sum(max_rho)::BIGINT AS sum_rho
    FROM reg GROUP BY 1
    """,
)
def graph_hyperball(spark, sf_dir):
    """HyperBall radius-2 neighborhood sketches (plans/graph_query.py::
    hyperball_registers) on the symmetrized parts co-purchase graph —
    the web-scale effective-diameter primitive. Spark carries per-node
    HLL registers and merges neighbors' sketches for two rounds
    (join + (id, bucket) max per round, state bounded at 2^p per node);
    the oracle materializes the EXACT distance-<=2 closure and derives
    registers from it directly — they must agree bit-for-bit because
    per-bucket max is set-union and registers are a pure function of
    the reachable set. Output is compressed to per-node integer
    (n_regs, sum_rho) so the artifact stays node-sized."""
    from kgforge.plans.graph_query import hyperball_registers

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pe = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .dropDuplicates()
    )
    edges = pe.unionByName(
        pe.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    regs = hyperball_registers(edges, rounds=2, p=8)
    return regs.groupBy("id").agg(
        F.count("*").cast("long").alias("n_regs"),
        F.sum("max_rho").cast("long").alias("sum_rho"),
    ).select(F.col("id").cast("long"), "n_regs", "sum_rho")


@_q(
    "text_nb_model",
    r"""
    WITH d AS (
      SELECT lang AS cls, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ), wc AS (
      SELECT cls, unnest(t) AS w FROM d
    ), c AS (
      SELECT cls, w, count(*)::BIGINT AS cnt FROM wc GROUP BY 1, 2
      HAVING count(*) >= 5
    ), m AS (
      SELECT cls, count(*)::BIGINT AS n_docs,
             sum(len(t))::BIGINT AS n_tokens
      FROM d GROUP BY 1
    )
    SELECT c.cls, c.w, c.cnt, m.n_docs, m.n_tokens
    FROM c JOIN m USING (cls)
    """,
)
def text_nb_model(spark, sf_dir):
    """Naive-Bayes training statistics (functions/classify.py::nb_train)
    with documents.lang as the class: per-class token counts (the model
    IS these integers — NB needs no gradient loop, so training is one
    map-side-combining aggregate) plus class doc/token totals. The gate
    re-flattens the broadcastable word->count-map model table, proving
    the pivot lost nothing; prediction (broadcast join + log-sum
    argmax) is pytest-pinned against a pure-Python twin."""
    from kgforge.functions.classify import nb_train

    model = nb_train(_t(spark, sf_dir, "documents"), "lang")
    flat = (
        model.token_df.select(
            "w", F.explode("cnts").alias("cls", "cnt")
        ).where(F.col("cnt") >= 5)
    )
    meta = spark.createDataFrame(
        [
            (c, model.n_docs[c], model.n_tokens[c])
            for c in model.classes
        ],
        "cls string, n_docs long, n_tokens long",
    )
    return flat.join(meta, "cls").select(
        "cls", "w", "cnt", "n_docs", "n_tokens"
    )


# 12-hex-char -> BIGINT as a strpos polynomial (DuckDB has no conv());
# generated once and inlined into the sketch_cm_heavy oracle below.
_HEX12_POLY = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1) * {16 ** (12 - i)}"
    for i in range(1, 13)
)


@_q(
    "sketch_cm_heavy",
    f"""
    WITH v AS (
      SELECT o_orderstatus AS g, o_custkey AS value
      FROM orders WHERE o_custkey IS NOT NULL
    ), hh AS (
      SELECT g, value, rr,
             md5('cm' || rr::VARCHAR || '|' || value::VARCHAR) AS h
      FROM v CROSS JOIN (SELECT unnest(range(0, 4)) AS rr) r
    ), b AS (
      SELECT g, value, rr,
             ({_HEX12_POLY}) % 64 AS bucket
      FROM hh
    ), cells AS (
      SELECT g, rr, bucket, count(*)::BIGINT AS cnt
      FROM b GROUP BY 1, 2, 3
    ), q AS (
      SELECT DISTINCT g, value, rr, bucket FROM b
    )
    SELECT q.g AS o_orderstatus, q.value::BIGINT AS value,
           min(coalesce(c.cnt, 0))::BIGINT AS est
    FROM q LEFT JOIN cells c USING (g, rr, bucket)
    GROUP BY 1, 2
    """,
)
def sketch_cm_heavy(spark, sf_dir):
    """Count-Min heavy-hitter sketch (functions/sketch.py::cm_sketch +
    cm_query): 4x64 counter cells per order status over customer keys,
    then every distinct customer point-queried back (est = min of its 4
    counters). Unlike Misra-Gries/SpaceSaving, CM state is ORDER-
    independent sums, so both the counters and the integer estimates
    are exactly reproducible in SQL — the oracle re-derives the cells
    via an inlined strpos hex polynomial (no conv() in DuckDB).
    Overestimation (est >= true count) and merge-by-addition are
    pytest-pinned."""
    from kgforge.functions.sketch import cm_query, cm_sketch

    orders = _t(spark, sf_dir, "orders")
    sk = cm_sketch(orders, "o_orderstatus", "o_custkey", width=64, depth=4)
    items = orders.select("o_orderstatus", "o_custkey").dropDuplicates()
    out = cm_query(
        sk, items, "o_orderstatus", "o_custkey", width=64, depth=4
    )
    return out.select(
        "o_orderstatus", F.col("value").cast("long").alias("value"), "est"
    )


@_q(
    "sketch_bloom_probe",
    f"""
    WITH s AS (
      SELECT DISTINCT l_returnflag AS g, l_partkey AS v FROM lineitem
    ), sh AS (
      SELECT g, v, rr, md5('bf' || rr::VARCHAR || '|' || v::VARCHAR) AS h
      FROM s CROSS JOIN (SELECT unnest(range(0, 4)) AS rr) r
    ), bits AS (
      SELECT DISTINCT g, ({_HEX12_POLY}) % 4096 AS bit FROM sh
    ), ph AS (
      SELECT f.g, p.p_partkey AS value, rr,
             md5('bf' || rr::VARCHAR || '|' || p.p_partkey::VARCHAR) AS h
      FROM part p
      CROSS JOIN (SELECT DISTINCT g FROM s) f
      CROSS JOIN (SELECT unnest(range(0, 4)) AS rr) r
    ), pb AS (
      SELECT g, value, rr, ({_HEX12_POLY}) % 4096 AS bit FROM ph
    ), hits AS (
      SELECT pb.g, pb.value, count(b.bit)::BIGINT AS nh
      FROM pb LEFT JOIN bits b ON b.g = pb.g AND b.bit = pb.bit
      GROUP BY 1, 2
    )
    SELECT g AS l_returnflag, value::BIGINT AS value, (nh = 4) AS maybe
    FROM hits
    """,
)
def sketch_bloom_probe(spark, sf_dir):
    """Bloom-filter build + probe (functions/sketch.py::bloom_build/
    bloom_probe): per return flag, the set-bit table over that flag's
    part keys (4096 bits, 4 seed-prefixed md5 hashes), then EVERY part
    key probed against every flag's filter — members must read true (no
    false negatives), absentees split true/false per the fp budget, and
    both engines derive identical bits so the whole boolean matrix is
    exact. The scale use is a shipped semi-join pre-filter: a few KB of
    bits instead of shuffling the big side."""
    from kgforge.functions.sketch import bloom_build, bloom_probe

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    bits = bloom_build(li, "l_returnflag", "l_partkey", m_bits=4096, k=4)
    flags = li.select("l_returnflag").dropDuplicates()
    items = _t(spark, sf_dir, "part").select("p_partkey").crossJoin(flags)
    out = bloom_probe(
        bits, items, "l_returnflag", "p_partkey", m_bits=4096, k=4
    )
    return out.select(
        "l_returnflag", F.col("value").cast("long").alias("value"), "maybe"
    )


@_q(
    "graph_luby_mis",
    """
    WITH pe AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), sym AS (
      SELECT src, dst FROM pe UNION SELECT dst, src FROM pe
    ), prs AS (
      SELECT DISTINCT src AS v,
             md5('mis|' || src::VARCHAR) || lpad(src::VARCHAR, 20, '0') AS pr
      FROM sym
    ), m0 AS (
      SELECT e.src AS v, min(p.pr) AS mn
      FROM sym e JOIN prs p ON p.v = e.dst GROUP BY 1
    ), w0 AS (
      SELECT a.v FROM prs a LEFT JOIN m0 ON m0.v = a.v
      WHERE m0.mn IS NULL OR a.pr < m0.mn
    ), d0 AS (
      SELECT v FROM w0
      UNION
      SELECT e.src FROM sym e JOIN w0 ON e.dst = w0.v
    ), a1 AS (
      SELECT v FROM prs EXCEPT SELECT v FROM d0
    ), e1 AS (
      SELECT e.src, e.dst FROM sym e
      JOIN a1 x ON e.src = x.v JOIN a1 y ON e.dst = y.v
    ), p1 AS (
      SELECT p.v, p.pr FROM prs p JOIN a1 USING (v)
    ), m1 AS (
      SELECT e.src AS v, min(p.pr) AS mn
      FROM e1 e JOIN p1 p ON p.v = e.dst GROUP BY 1
    ), w1 AS (
      SELECT a.v FROM p1 a LEFT JOIN m1 ON m1.v = a.v
      WHERE m1.mn IS NULL OR a.pr < m1.mn
    )
    SELECT v::BIGINT AS id
    FROM (SELECT v FROM w0 UNION SELECT v FROM w1) u ORDER BY id
    """,
)
def graph_luby_mis(spark, sf_dir):
    """Derandomized Luby MIS (plans/graph_query.py::
    maximal_independent_set), two fixed rounds on the symmetrized parts
    co-purchase graph. Priorities are md5-of-id with a zero-padded id
    tiebreak — strictly distinct, so winners (priority beats every
    alive neighbor) are a pure function of the graph and the oracle
    unrolls both rounds exactly. Independence + maximality at the
    fixpoint are pytest-pinned against a Python replay."""
    from kgforge.plans.graph_query import maximal_independent_set

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pe = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .dropDuplicates()
    )
    out = maximal_independent_set(pe, rounds=2)
    return out.select(F.col("id").cast("long")).orderBy("id")


# Morton interleave of the low 16 bits of x (even positions) and y (odd)
# as a (v // 2^i) % 2 polynomial — DuckDB-portable twin of
# sinks/zorder.py::zorder_key's shiftright/bitwiseAND form.
_Z16_POLY = " + ".join(
    f"((x // {1 << i}) % 2) * {1 << (2 * i)}"
    f" + ((y // {1 << i}) % 2) * {1 << (2 * i + 1)}"
    for i in range(16)
)


@_q(
    "layout_zorder_key",
    f"""
    WITH v AS (
      SELECT o_orderkey, o_custkey % 65536 AS x, o_orderkey % 65536 AS y
      FROM orders
    )
    SELECT o_orderkey::BIGINT AS o_orderkey, ({_Z16_POLY})::BIGINT AS zkey
    FROM v
    """,
)
def layout_zorder_key(spark, sf_dir):
    """Morton/Z-order clustering key (sinks/zorder.py::zorder_key): the
    Delta/Iceberg OPTIMIZE ZORDER primitive — interleaved bits of
    (custkey, orderkey) so a range-partitioned write gives every file a
    small RECTANGLE in key space and footer min/max prune on EITHER
    dimension. Spark derives it with shiftright/bitwiseAND, the oracle
    with a generated (v // 2^i) %% 2 polynomial — bit-identical BIGINTs.
    The layout itself (files = Morton rectangles, two-dimensional
    skipping beats a one-column sort) is pytest-pinned via parquet
    footers in test_sharding."""
    from kgforge.sinks.zorder import zorder_key

    o = _t(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        zorder_key(F.col("o_custkey"), F.col("o_orderkey"), bits=16).alias(
            "zkey"
        ),
    )


@_q(
    "snapshot_diff_cdc",
    """
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
      FROM orders WHERE o_orderkey % 3 <> 0
    ), n AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             o_orderpriority
      FROM orders WHERE o_orderkey % 4 <> 0
    ), j AS (
      SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
             o.o_orderkey AS ok, n.o_orderkey AS nk,
             (o.o_custkey IS DISTINCT FROM n.o_custkey) AS d1,
             (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus) AS d2,
             (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority) AS d3
      FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    )
    SELECT k::BIGINT AS o_orderkey,
           CASE WHEN ok IS NULL THEN 'added'
                WHEN nk IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           CASE WHEN ok IS NOT NULL AND nk IS NOT NULL THEN
             concat_ws(',', CASE WHEN d1 THEN 'o_custkey' END,
                            CASE WHEN d2 THEN 'o_orderstatus' END,
                            CASE WHEN d3 THEN 'o_orderpriority' END)
           ELSE '' END AS changed_cols
    FROM j WHERE ok IS NULL OR nk IS NULL OR d1 OR d2 OR d3
    ORDER BY o_orderkey
    """,
)
def snapshot_diff_cdc(spark, sf_dir):
    """Snapshot diff / change-data capture (operators/diff.py::
    snapshot_diff): two deterministic versions of orders (drop-by-mod
    membership, status rewrite on a third mod class) diffed into
    added/removed/changed rows with the exact NULL-safe changed-column
    set. ONE co-partitioned full-outer join + codegen compares — the
    relational Delta-CDF audit, whose output drives incremental
    downstream refreshes (only changed keys re-enter the pipeline)."""
    from kgforge.operators.diff import snapshot_diff

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    k = F.col("o_orderkey")
    old = base.where(k % 3 != 0)
    new = base.where(k % 4 != 0).withColumn(
        "o_orderstatus",
        F.when(k % 5 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")),
    )
    out = snapshot_diff(
        old, new, "o_orderkey",
        ["o_custkey", "o_orderstatus", "o_orderpriority"],
    )
    return out.select(
        F.col("o_orderkey").cast("long"), "change", "changed_cols"
    ).orderBy("o_orderkey")


@_q(
    "stats_equidepth_hist",
    """
    WITH v AS (
      SELECT o_totalprice AS val, o_orderkey AS k
      FROM orders WHERE o_totalprice IS NOT NULL
    ), r AS (
      SELECT val, (row_number() OVER (ORDER BY val, k) - 1) AS rn,
             count(*) OVER () AS tot
      FROM v
    )
    SELECT ((rn * 16) // tot)::BIGINT AS bucket,
           count(*)::BIGINT AS cnt, min(val) AS lo, max(val) AS hi
    FROM r GROUP BY 1
    """,
)
def stats_equidepth_hist(spark, sf_dir):
    """Exact equi-depth histogram (functions/sharding.py::
    equidepth_histogram): 16 buckets over order totals, sizes within
    one row of each other. Global rank via the shared two-phase
    distributed prefix-sum — the oracle's row_number() OVER (ORDER BY
    ...) is the single-task shape the operator exists to avoid; this
    gate proves the distributed ranks equal it. Tie-break on
    o_orderkey makes the boundary assignment deterministic."""
    from kgforge.functions.sharding import equidepth_histogram

    return equidepth_histogram(
        _t(spark, sf_dir, "orders"),
        "o_totalprice",
        n_buckets=16,
        key_col="o_orderkey",
    )


_SOUNDEX_ALPHA = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_SOUNDEX_CODES = ".123.12-.22455.12623.1-2.2"
_SOUNDEX_COLLAPSE_SQL = "t"
for _d in "123456":
    _SOUNDEX_COLLAPSE_SQL = (
        f"regexp_replace({_SOUNDEX_COLLAPSE_SQL},"
        f" '{_d}(?:-*{_d})+', '{_d}', 'g')"
    )


@_q(
    "text_soundex_keys",
    rf"""
    WITH w AS (
      SELECT DISTINCT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      FROM documents WHERE text IS NOT NULL
    ), u AS (
      SELECT w, upper(regexp_replace(w, '[^A-Za-z]', '', 'g')) AS u FROM w
    ), t0 AS (
      SELECT w, u, translate(u, '{_SOUNDEX_ALPHA}', '{_SOUNDEX_CODES}') AS t
      FROM u WHERE length(u) > 0
    ), c AS (
      SELECT w, u, {_SOUNDEX_COLLAPSE_SQL} AS t FROM t0
    )
    SELECT w,
           substr(u, 1, 1)
           || rpad(substr(regexp_replace(substr(t, 2), '[.-]', '', 'g'),
                          1, 3), 3, '0') AS sdx
    FROM c
    """,
)
def text_soundex_keys(spark, sf_dir):
    """Portable American Soundex (functions/phonetic.py::
    soundex_portable) over the distinct corpus vocabulary — the
    record-linkage blocking key. RE2 has no backreferences, so the
    duplicate-collapse runs as six per-digit backref-free
    regexp_replace steps; H/W transparency (the NARA rule) rides a '-'
    sentinel and vowels block via '.'. The oracle executes the SAME
    translate + regexp chain; the NARA test vector and the blocking
    join are pytest-pinned."""
    from kgforge.functions.phonetic import soundex_portable
    from kgforge.functions.textstats import _WS

    docs = _t(spark, sf_dir, "documents")
    w = (
        docs.where(F.col("text").isNotNull())
        .select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), _WS)
            ).alias("w")
        )
        .dropDuplicates()
    )
    return w.select("w", soundex_portable(F.col("w")).alias("sdx")).where(
        F.col("sdx").isNotNull()
    )


def _sdx_sql(col: str) -> str:
    """DuckDB Soundex chain over a column expression (the
    text_soundex_keys stages as one nested expression)."""
    u = f"upper(regexp_replace({col}, '[^A-Za-z]', '', 'g'))"
    t = f"translate({u}, '{_SOUNDEX_ALPHA}', '{_SOUNDEX_CODES}')"
    for _d in "123456":
        t = f"regexp_replace({t}, '{_d}(?:-*{_d})+', '{_d}', 'g')"
    return (
        f"CASE WHEN length({u}) > 0 THEN substr({u}, 1, 1)"
        f" || rpad(substr(regexp_replace(substr({t}, 2),"
        f" '[.-]', '', 'g'), 1, 3), 3, '0') END"
    )


@_q(
    "text_fuzzy_join",
    rf"""
    WITH w AS (
      SELECT DISTINCT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      FROM documents WHERE text IS NOT NULL
    ), lft AS (
      SELECT w AS w_left FROM w
    ), rgt AS (
      SELECT w || 'e' AS w_right FROM w
      UNION
      SELECT substr(w, 1, length(w) - 1) FROM w WHERE length(w) > 2
    ), lk AS (
      SELECT w_left, {_sdx_sql('w_left')} AS sdx,
             substr(lower(w_left), 1, 4) AS pfx FROM lft
    ), rk AS (
      SELECT w_right, {_sdx_sql('w_right')} AS sdx,
             substr(lower(w_right), 1, 4) AS pfx FROM rgt
    ), cand AS (
      SELECT DISTINCT w_left, w_right FROM (
        SELECT lk.w_left, rk.w_right FROM lk JOIN rk ON lk.sdx = rk.sdx
        UNION ALL
        SELECT lk.w_left, rk.w_right FROM lk JOIN rk ON lk.pfx = rk.pfx
      )
    )
    SELECT w_left, w_right,
           levenshtein(w_left, w_right)::BIGINT AS lev_dist
    FROM cand WHERE levenshtein(w_left, w_right) <= 2
    """,
)
def text_fuzzy_join(spark, sf_dir):
    """Blocked edit-distance record linkage (functions/phonetic.py::
    fuzzy_join): corpus vocabulary fuzzy-joined against a
    deterministically perturbed variant set (plural 'e' suffix +
    last-char truncation) under soundex+prefix blocking, verified
    with JVM ``levenshtein`` <= 2. Reference parity: the SDK resolves
    entity aliases before MERGE (graphrag_sdk/steps/extract_data_step.py
    dedups by name match); this is the scalable string-edit
    counterpart — candidates come from two equi-joins, NEVER the
    |L|x|R| cross product. The oracle replays the identical blocking
    channels (portable Soundex chain + prefix4) and DuckDB's
    levenshtein, which matches Spark's classic DP semantics exactly
    (integer, case-sensitive)."""
    from kgforge.functions.phonetic import fuzzy_join
    from kgforge.functions.textstats import _WS

    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.where(F.col("text").isNotNull())
        .select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), _WS)
            ).alias("w")
        )
        .dropDuplicates()
    )
    left = vocab.select(F.col("w").alias("w_left"))
    right = (
        vocab.select(F.concat(F.col("w"), F.lit("e")).alias("w_right"))
        .unionByName(
            vocab.where(F.length("w") > 2).select(
                F.expr("substr(w, 1, length(w) - 1)").alias("w_right")
            )
        )
        .dropDuplicates()
    )
    out = fuzzy_join(
        left, right, "w_left", "w_right", max_dist=2,
        blocks=("soundex", "prefix"), prefix_len=4,
    )
    return out.select(
        "w_left", "w_right", F.col("lev_dist").cast("long").alias("lev_dist")
    )


@_q(
    "sketch_kmv_setops",
    r"""
    WITH tok AS (
      SELECT DISTINCT lang,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ), pts AS (
      SELECT DISTINCT lang, substr(md5(w), 1, 12) AS h FROM tok
    ), bk AS (
      SELECT lang, h FROM (
        SELECT lang, h,
               row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
        FROM pts
      ) WHERE rn <= 128
    ), langs AS (SELECT DISTINCT lang FROM bk),
    pr AS (
      SELECT a.lang AS la, b.lang AS lb
      FROM langs a JOIN langs b ON a.lang < b.lang
    ), m AS (
      SELECT DISTINCT pr.la, pr.lb, bk.h
      FROM pr JOIN bk ON bk.lang = pr.la OR bk.lang = pr.lb
    ), cut AS (
      SELECT la, lb, h FROM (
        SELECT la, lb, h,
               row_number() OVER (PARTITION BY la, lb ORDER BY h) AS rn
        FROM m
      ) WHERE rn <= 128
    )
    SELECT c.la AS lang_a, c.lb AS lang_b,
           count(*)::BIGINT AS n_union,
           sum(CASE WHEN EXISTS (SELECT 1 FROM bk x
                                 WHERE x.lang = c.la AND x.h = c.h)
                     AND EXISTS (SELECT 1 FROM bk y
                                 WHERE y.lang = c.lb AND y.h = c.h)
                THEN 1 ELSE 0 END)::BIGINT AS inter_cnt,
           max(c.h) AS union_kth
    FROM cut c GROUP BY 1, 2
    """,
)
def sketch_kmv_setops(spark, sf_dir):
    """Theta-sketch set operations (functions/sketch.py::
    kmv_intersect_count): per language pair, the union bottom-128
    sample of word hashes and how many of its points occur in BOTH
    languages' sketches — the cross-corpus vocabulary-overlap estimate
    computed from sketch state alone (the two corpora never join).
    All artifacts (cut size, intersection count, k-th point) are pure
    data functions; jaccard/intersection ESTIMATES derive from them
    (pytest-pinned against exact overlaps)."""
    from kgforge.functions.sketch import kmv_intersect_count, kmv_merge
    from kgforge.functions.textstats import _WS

    k = 128
    words = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select(
            "lang",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), _WS)
            ).alias("w"),
        )
    )
    from kgforge.functions.sketch import kmv_sketch

    sk = kmv_sketch(words, "lang", "w", k=k)
    a = sk.select(F.col("lang").alias("lang_a"), F.col("kmv").alias("ka"))
    b = sk.select(F.col("lang").alias("lang_b"), F.col("kmv").alias("kb"))
    pairs = a.join(b, F.col("lang_a") < F.col("lang_b"))
    cut = kmv_merge(F.col("ka"), F.col("kb"), k)
    return pairs.select(
        "lang_a",
        "lang_b",
        F.size(cut).cast("long").alias("n_union"),
        kmv_intersect_count(F.col("ka"), F.col("kb"), k).alias("inter_cnt"),
        F.element_at(cut, F.size(cut)).alias("union_kth"),
    )


_HEX12_POLY_H = _HEX12_POLY.replace("substr(h,", "substr(hh,").replace(
    "substr(h ", "substr(hh "
)


@_q(
    "embedding_hash_features",
    rf"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      FROM documents WHERE text IS NOT NULL
    ), hx AS (
      SELECT id, md5('fh|' || w) AS hh, substr(md5('fs|' || w), 1, 1) AS s
      FROM toks
    ), cell AS (
      SELECT id, ({_HEX12_POLY_H}) % 1024 AS idx,
             CASE WHEN s >= '8' THEN 1 ELSE -1 END AS v
      FROM hx
    )
    SELECT id, idx::BIGINT AS idx, sum(v)::BIGINT AS val
    FROM cell GROUP BY 1, 2
    """,
)
def embedding_hash_features(spark, sf_dir):
    """Feature hashing (functions/embeddings.py::hash_features): signed
    hashing-trick doc vectors at dim=1024 — idx and +-1 sign both from
    seed-prefixed md5, so the vectorizer has NO fitted state (nothing
    to broadcast, nothing to drift between train and serve) and the
    whole sparse matrix is cross-engine-exact integers. One explode +
    one map-side-combining groupBy."""
    from kgforge.functions.embeddings import hash_features

    return hash_features(_t(spark, sf_dir, "documents"), dim=1024)


@_q(
    "text_textrank",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ), tok AS (
      SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
      FROM toks WHERE len(t) >= 2
    ), p AS (
      SELECT a.w AS w1, b.w AS w2
      FROM tok a JOIN tok b
        ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 5
    ), c AS (
      SELECT w1, w2 FROM p GROUP BY 1, 2 HAVING count(*) >= 5
    ), e AS (
      SELECT w1 AS src, w2 AS dst FROM c
      UNION
      SELECT w2, w1 FROM c
    ), nodes AS (
      SELECT DISTINCT src AS id FROM e
    ), deg AS (
      SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY src
    ), r0 AS (
      SELECT id, 1000000000::BIGINT AS rank FROM nodes
    ), c1 AS (
      SELECT e.dst AS id, sum(r.rank // d.outdeg) AS s
      FROM r0 r JOIN e ON r.id = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ), r1 AS (
      SELECT n.id,
             (150000000 + (85 * coalesce(c1.s, 0)) // 100)::BIGINT AS rank
      FROM nodes n LEFT JOIN c1 ON n.id = c1.id
    ), c2 AS (
      SELECT e.dst AS id, sum(r.rank // d.outdeg) AS s
      FROM r1 r JOIN e ON r.id = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ), r2 AS (
      SELECT n.id,
             (150000000 + (85 * coalesce(c2.s, 0)) // 100)::BIGINT AS rank
      FROM nodes n LEFT JOIN c2 ON n.id = c2.id
    ), c3 AS (
      SELECT e.dst AS id, sum(r.rank // d.outdeg) AS s
      FROM r2 r JOIN e ON r.id = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    )
    SELECT n.id AS w,
           (150000000 + (85 * coalesce(c3.s, 0)) // 100)::BIGINT AS rank
    FROM nodes n LEFT JOIN c3 ON n.id = c3.id
    """,
)
def text_textrank(spark, sf_dir):
    """TextRank keyword scores (textstats.py::textrank_keywords): the
    co-occurrence graph (window 5, min_cooc 5 — the text_cooccurrence
    edge set, symmetrized) ranked by 3 iterations of BIGINT fixed-point
    PageRank. Two scale primitives composed end-to-end; the oracle
    chains the co-occurrence self-join into the unrolled PageRank CTEs
    — every rank is an exact integer."""
    from kgforge.functions.textstats import textrank_keywords

    return textrank_keywords(
        _t(spark, sf_dir, "documents"), window=5, min_cooc=5, n_iter=3
    )


@_q(
    "graph_ppr",
    """
    WITH e0 AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), e AS (
      SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
    ), nodes AS (
      SELECT DISTINCT src AS id,
             (src < 1000000 AND src % 97 = 0) AS is_seed
      FROM e
    ), deg AS (
      SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY src
    ), r0 AS (
      SELECT id, is_seed,
             (CASE WHEN is_seed THEN 1000000000 ELSE 0 END)::BIGINT AS rank
      FROM nodes
    ), c1 AS (
      SELECT e.dst AS id, sum(r.rank // d.outdeg) AS s
      FROM r0 r JOIN e ON r.id = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ), r1 AS (
      SELECT n.id, n.is_seed,
             ((CASE WHEN n.is_seed THEN 150000000 ELSE 0 END)
              + (85 * coalesce(c1.s, 0)) // 100)::BIGINT AS rank
      FROM nodes n LEFT JOIN c1 ON n.id = c1.id
    ), c2 AS (
      SELECT e.dst AS id, sum(r.rank // d.outdeg) AS s
      FROM r1 r JOIN e ON r.id = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ), r2 AS (
      SELECT n.id, n.is_seed,
             ((CASE WHEN n.is_seed THEN 150000000 ELSE 0 END)
              + (85 * coalesce(c2.s, 0)) // 100)::BIGINT AS rank
      FROM nodes n LEFT JOIN c2 ON n.id = c2.id
    ), c3 AS (
      SELECT e.dst AS id, sum(r.rank // d.outdeg) AS s
      FROM r2 r JOIN e ON r.id = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    )
    SELECT n.id::BIGINT AS id,
           ((CASE WHEN n.is_seed THEN 150000000 ELSE 0 END)
            + (85 * coalesce(c3.s, 0)) // 100)::BIGINT AS rank
    FROM nodes n LEFT JOIN c3 ON n.id = c3.id
    """,
)
def graph_ppr(spark, sf_dir):
    """Personalized PageRank (plans/graph_query.py::
    personalized_pagerank): teleport mass restricted to seed customers
    (custkey % 97 = 0) on the symmetrized customer—supplier graph —
    the GraphRAG local-expansion primitive (rank the neighborhood
    around query entities; scores decay with distance from the seed
    set). BIGINT fixed-point recurrence, 3 rounds, oracle = the
    pagerank CTE unroll with the seed CASE in the teleport term."""
    from kgforge.plans.graph_query import personalized_pagerank, symmetrize

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .dropDuplicates()
    )
    sym = symmetrize(edges)
    seeds = (
        sym.select(F.col("src").alias("id"))
        .where((F.col("id") < 1_000_000) & (F.col("id") % 97 == 0))
        .dropDuplicates()
    )
    out = personalized_pagerank(sym, seeds, n_iter=3, scaled=True, dedup=False)
    return out.select(F.col("id").cast("long"), F.col("rank").cast("long"))


@_q(
    "events_path_ngrams",
    """
    WITH e AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), g AS (
      SELECT event_type || '->' || e2 || '->' || e3 AS gram
      FROM e WHERE e3 IS NOT NULL
    )
    SELECT gram, count(*)::BIGINT AS cnt FROM g GROUP BY 1
    """,
)
def events_path_ngrams(spark, sf_dir):
    """Frequent event paths (functions/funnel.py::event_ngrams): every
    3-step run of consecutive events per user, corpus-counted — the
    sequenceCount/path-analysis primitive. Spark generates grams with
    higher-order functions over each user's sorted event list (one
    shuffle, no window cascade); the oracle is the equivalent double-
    lead window. (ts, event_id) ordering is the funnel module's
    deterministic tie rule."""
    from kgforge.functions.funnel import event_ngrams

    return event_ngrams(_t(spark, sf_dir, "events"), n=3)


@_q(
    "snapshot_scd2",
    """
    WITH h AS (
      SELECT o_orderkey AS k, v,
             CASE WHEN v >= 2 AND o_orderkey % 10 = 0 THEN 'Y'
                  WHEN v >= 1 AND o_orderkey % 5 = 0 THEN 'X'
                  ELSE o_orderstatus END AS status
      FROM orders CROSS JOIN (SELECT unnest(range(0, 3)) AS v) r
    ), f AS (
      SELECT k, v, status,
             CASE WHEN lag(v) OVER w IS NULL
                    OR lag(status) OVER w IS DISTINCT FROM status
                  THEN 1 ELSE 0 END AS chg
      FROM h WINDOW w AS (PARTITION BY k ORDER BY v)
    ), i AS (
      SELECT k, v, status,
             sum(chg) OVER (PARTITION BY k ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS isl
      FROM f
    ), p AS (
      SELECT k, isl, min(v) AS valid_from, min(status) AS status
      FROM i GROUP BY 1, 2
    )
    SELECT k::BIGINT AS o_orderkey, status,
           valid_from::BIGINT AS valid_from,
           (lead(valid_from) OVER w2)::BIGINT AS valid_to,
           (lead(valid_from) OVER w2 IS NULL) AS is_current
    FROM p WINDOW w2 AS (PARTITION BY k ORDER BY valid_from)
    """,
)
def snapshot_scd2(spark, sf_dir):
    """SCD-type-2 interval assembly (operators/diff.py::scd2_intervals)
    from a deterministic 3-version order-status history: consecutive
    identical states collapse into [valid_from, valid_to) intervals
    with the open interval flagged is_current. Gaps-and-islands over
    ONE (key, ts) sort order (lag change flag -> running island id ->
    per-island aggregate + lead close) — the temporal-table builder
    that turns CDC feeds into point-in-time-queryable dimensions
    (asof_join's natural input)."""
    from kgforge.operators.diff import scd2_intervals

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    v = spark.range(3).select(F.col("id").alias("v"))
    k = F.col("o_orderkey")
    h = o.crossJoin(v).select(
        "o_orderkey",
        "v",
        F.when((F.col("v") >= 2) & (k % 10 == 0), F.lit("Y"))
        .when((F.col("v") >= 1) & (k % 5 == 0), F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
    )
    out = scd2_intervals(h, "o_orderkey", "v", ["status"])
    return out.select(
        F.col("o_orderkey").cast("long"),
        "status",
        F.col("valid_from").cast("long"),
        F.col("valid_to").cast("long"),
        "is_current",
    )


@_q(
    "embedding_random_projection",
    """
    WITH q AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             floor(unnest(embedding) * 8)::BIGINT AS qv
      FROM embeddings
    ), s AS (
      SELECT i, j,
             CASE WHEN substr(md5('rp|' || (i - 1)::VARCHAR || '|'
                                  || j::VARCHAR), 1, 1) >= '8'
                  THEN 1 ELSE -1 END AS sgn
      FROM (SELECT unnest(range(1, 65)) AS i) a
      CROSS JOIN (SELECT unnest(range(0, 16)) AS j) b
    )
    SELECT q.vec_id AS id, s.j::BIGINT AS j,
           sum(q.qv * s.sgn)::BIGINT AS val
    FROM q JOIN s ON q.i = s.i
    GROUP BY 1, 2
    """,
)
def embedding_random_projection(spark, sf_dir):
    """JL ±1 random projection (functions/embeddings.py::
    random_projection): 64 -> 16 dims with a sign matrix that is a pure
    md5 function of (seed, i, j) — precomputed driver-side and inlined
    as literals so the data plane pays only zip_with/aggregate folds
    (no hashing, no shuffle); the oracle re-derives the same matrix
    from the md5 rule in SQL. quantize=8 (exponent shift, exact) makes
    every output an exact BIGINT."""
    from kgforge.functions.embeddings import random_projection

    out = random_projection(
        _t(spark, sf_dir, "embeddings"), in_dim=64, out_dim=16, quantize=8
    )
    return out.select(
        "id", F.posexplode("proj").alias("j", "val")
    ).select("id", F.col("j").cast("long"), F.col("val").cast("long"))


@_q(
    "sketch_hll_rollup",
    """
    WITH h AS (
      SELECT (epoch_us(ts) - epoch_us(ts) % 86400000000)::BIGINT AS day_us,
             event_type, md5(user_id::VARCHAR) AS h
      FROM events WHERE user_id IS NOT NULL
    ), t AS (
      SELECT day_us, event_type,
             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket,
             substr(h, 3, 12) AS tail
      FROM h
    ), z AS (
      SELECT day_us, event_type, bucket, tail,
             length(regexp_extract(tail, '^(0*)', 1)) AS lz
      FROM t
    ), r AS (
      SELECT day_us, event_type, bucket,
             CASE WHEN lz >= 12 THEN 49
                  ELSE lz * 4
                       + (CASE WHEN substr(tail, lz + 1, 1) >= '8' THEN 0
                               WHEN substr(tail, lz + 1, 1) >= '4' THEN 1
                               WHEN substr(tail, lz + 1, 1) >= '2' THEN 2
                               ELSE 3 END)
                       + 1
             END AS rho
      FROM z
    )
    SELECT day_us, event_type, bucket::BIGINT AS bucket,
           max(rho)::BIGINT AS max_rho
    FROM r GROUP BY 1, 2, 3
    """,
)
def sketch_hll_rollup(spark, sf_dir):
    """Sketch rollup cascade: daily distinct-user registers
    RE-AGGREGATED from hourly HLL partials (per-bucket max), vs the
    oracle's direct-from-raw daily derivation — the sketch-algebra twin
    of events_rollup_cascade's DECIMAL partials. This is the continuous-
    aggregate pattern for COUNT DISTINCT, which plain partials cannot
    express: a monthly unique-users report reads 30 tiny register
    tables, never the raw events."""
    from kgforge.functions.sketch import hll_registers

    ev = _t(spark, sf_dir, "events")
    m = F.unix_micros(F.col("ts").cast("timestamp"))
    hour = ev.withColumn("hour_us", (m - m % 3_600_000_000).cast("long"))
    hregs = hll_registers(
        hour, ["hour_us", "event_type"], "user_id", p=8
    )
    day = hregs.withColumn(
        "day_us",
        (F.col("hour_us") - F.col("hour_us") % 86_400_000_000).cast("long"),
    )
    return (
        day.groupBy("day_us", "event_type", "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )


def _scc_test_graph(spark, sf_dir):
    """Shared directed test graph for the SCC family (graph_scc /
    graph_condensation / graph_topo_layers): one ring per region (one
    SCC each), one-way bridges between consecutive regions' ring minima
    (no wraparound -> rings stay separate), one-way nation->supplier
    spokes (singleton SCCs). Returns (edges, nodes)."""
    from pyspark.sql import Window

    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("id"),
        F.col("n_regionkey").alias("rk"),
    )
    w = Window.partitionBy("rk").orderBy("id")
    ring = n.select(
        F.col("id").alias("src"),
        F.coalesce(
            F.lead("id").over(w),
            F.min("id").over(Window.partitionBy("rk")),
        ).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    rmin = n.groupBy("rk").agg(F.min("id").alias("mid"))
    cross_e = (
        rmin.alias("a")
        .join(rmin.alias("b"), F.col("b.rk") == F.col("a.rk") + 1)
        .select(F.col("a.mid").alias("src"), F.col("b.mid").alias("dst"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < 10)
        .select(
            F.col("s_nationkey").cast("long").alias("src"),
            (F.lit(1000) + F.col("s_suppkey")).cast("long").alias("dst"),
        )
    )
    edges = ring.unionByName(cross_e).unionByName(supp).dropDuplicates()
    nodes = (
        n.select("id")
        .unionByName(supp.select(F.col("dst").alias("id")))
        .dropDuplicates()
    )
    return edges, nodes


@_q(
    "graph_scc",
    """
    WITH RECURSIVE n AS (
      SELECT n_nationkey::BIGINT AS id, n_regionkey AS rk FROM nation
    ), ring AS (
      SELECT id AS src,
             coalesce(lead(id) OVER (PARTITION BY rk ORDER BY id),
                      min(id) OVER (PARTITION BY rk)) AS dst
      FROM n
    ), rmin AS (
      SELECT rk, min(id) AS mid FROM n GROUP BY rk
    ), cross_e AS (
      SELECT a.mid AS src, b.mid AS dst
      FROM rmin a JOIN rmin b ON b.rk = a.rk + 1
    ), supp AS (
      SELECT s_nationkey::BIGINT AS src, 1000 + s_suppkey AS dst
      FROM supplier WHERE s_suppkey < 10
    ), edges AS (
      SELECT src, dst FROM ring WHERE src <> dst
      UNION SELECT src, dst FROM cross_e
      UNION SELECT src, dst FROM supp
    ), nd AS (
      SELECT id FROM n UNION SELECT DISTINCT dst AS id FROM supp
    ), reach(a, b) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
    ), mutual AS (
      SELECT r1.a AS id, min(r1.b) AS mb
      FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
      GROUP BY r1.a
    )
    SELECT nd.id AS id,
           least(nd.id, coalesce(m.mb, nd.id))::BIGINT AS scc
    FROM nd LEFT JOIN mutual m ON m.id = nd.id
    ORDER BY id
    """,
)
def graph_scc(spark, sf_dir):
    """Strongly connected components (plans/graph_query.py::
    strongly_connected_components, FW-BW coloring — trim singleton
    in/out-degree-0 nodes, forward min-label coloring to fixpoint,
    color-restricted backward sweep from every color root in parallel).
    Test graph from the nation/supplier tables: a directed ring per
    region (one SCC per region), one-way bridges between consecutive
    regions' ring minima (keeps the rings separate — no wraparound, so
    no giant SCC), and one-way nation->supplier spokes (singleton
    SCCs). Oracle = DuckDB recursive-CTE transitive closure: scc(v) =
    min over {v} + mutually-reachable partners. Directed min-label
    (F,B)-pair equality alone is NOT sufficient for SCC — pinned in
    tests/test_graph_analytics.py::
    test_scc_fb_label_equality_counterexample."""
    from kgforge.plans.graph_query import strongly_connected_components

    edges, nodes = _scc_test_graph(spark, sf_dir)
    return strongly_connected_components(edges, nodes).orderBy("id")


@_q(
    "events_ohlc",
    """
    SELECT date_trunc('day', ts)::TIMESTAMP AS bucket, event_type,
           arg_min(value, lpad(epoch_us(ts)::VARCHAR, 20, '0')
                          || lpad(event_id::VARCHAR, 12, '0')) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, lpad(epoch_us(ts)::VARCHAR, 20, '0')
                          || lpad(event_id::VARCHAR, 12, '0')) AS close,
           count(*)::BIGINT AS n,
           sum(value::DECIMAL(18,6)) AS volume
    FROM events
    GROUP BY 1, 2
    """,
)
def events_ohlc(spark, sf_dir):
    """OHLC candlestick bars (functions/rollup.py::ohlc_bars): daily
    open/high/low/close/volume per event_type — one map-side-combining
    hash aggregate; open/close are min_by/max_by picks on a zero-padded
    (epoch_us, event_id) STRING key (lexicographic == numeric order,
    deterministic under timestamp ties; DuckDB's arg_min takes the same
    VARCHAR key but no struct keys). high/low/open/close are raw value
    picks — no float arithmetic — and volume sums in DECIMAL, so every
    column hash-compares exactly."""
    from kgforge.functions.rollup import ohlc_bars

    return ohlc_bars(_t(spark, sf_dir, "events"), bucket="day")


@_q(
    "events_anomaly",
    """
    WITH v AS (
      SELECT event_id AS id, user_id AS key,
             CAST(round(value * 100) AS BIGINT) AS v_cents
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    ), st AS (
      SELECT key, count(*)::BIGINT AS n, sum(v_cents)::BIGINT AS s,
             sum(v_cents * v_cents)::BIGINT AS s2
      FROM v GROUP BY key
    )
    SELECT v.id, v.key, v.v_cents, st.n
    FROM v JOIN st USING (key)
    WHERE st.n >= 2
      AND (st.n * v.v_cents - st.s) * (st.n * v.v_cents - st.s)
          * (st.n - 1)
          > 4 * st.n * (st.n * st.s2 - st.s * st.s)
    """,
)
def events_anomaly(spark, sf_dir):
    """Per-user z-score outliers (functions/rollup.py::anomaly_flags,
    threshold=2 sigmas): |v - mean| > 2·stddev cross-multiplied to the
    all-BIGINT predicate (n·v − s)²·(n−1) > 4·n·(n·s2 − s²) — no float
    division, no sqrt, hash-exact in both engines (the standing
    stDev-gate craft). Shape: one moment aggregate + one broadcastable
    stats join + a scan-side Filter. 49 flagged rows at sf0.001 / 531
    at sf0.01 — non-vacuous at both scales."""
    from kgforge.functions.rollup import anomaly_flags

    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    return anomaly_flags(ev, threshold=2)


@_q(
    "corpus_cdc_chunks",
    """
    WITH d AS (
      SELECT doc_id, text AS t, length(text) AS L
      FROM documents WHERE text IS NOT NULL
    ), pos AS (
      SELECT doc_id, t, L, unnest(range(2, greatest(L - 14, 2))) AS i
      FROM d
    ), b AS (
      SELECT doc_id, i FROM pos
      WHERE substr(md5(substr(t, i, 16)), 1, 1) = '0'
    ), st AS (
      SELECT doc_id, 1 AS s FROM d
      UNION ALL SELECT doc_id, i FROM b
    ), w AS (
      SELECT st.doc_id, st.s, d.t, d.L,
             coalesce(lead(st.s) OVER (PARTITION BY st.doc_id
                                       ORDER BY st.s),
                      d.L + 1) AS e
      FROM st JOIN d USING (doc_id)
    )
    SELECT doc_id,
           (row_number() OVER (PARTITION BY doc_id ORDER BY s)
            - 1)::BIGINT AS chunk_idx,
           s::BIGINT AS chunk_start,
           (e - s)::BIGINT AS chunk_len,
           md5(substr(t, s, e - s)) AS chunk_md5
    FROM w
    """,
)
def corpus_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (sources/chunk.py::cdc_chunks,
    FastCDC-family): boundary wherever md5 of the next 16 chars has a
    leading hex zero (expected chunk ~16 chars at gate scale) — the
    chunk-fingerprint table that powers delta/revision dedup, since a
    one-word edit re-chunks only its neighborhood (edit-stability
    pytest-pinned). Engine side is pure built-in expressions: one scan,
    the boundary array materialized once (HOF-CSE rule), zero shuffles,
    zero Python; the oracle replays every qualifying window position.
    ~9.6k chunks / 864 cross-doc shared fingerprints at both SFs."""
    from kgforge.sources.chunk import cdc_chunks

    return cdc_chunks(_t(spark, sf_dir, "documents"))


@_q(
    "sketch_moments",
    """
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS HUGEINT) AS v
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           count(*)::BIGINT AS n,
           sum(v)::DECIMAL(38,0) AS m1,
           sum(v * v)::DECIMAL(38,0) AS m2,
           sum(v * v * v)::DECIMAL(38,0) AS m3,
           sum(v * v * v * v)::DECIMAL(38,0) AS m4
    FROM v GROUP BY 1
    """,
)
def sketch_moments(spark, sf_dir):
    """Moments sketch (functions/sketch.py::moments_sketch, Gan et al.
    VLDB'18): per event_type the exact integer power sums (n, Σv..Σv⁴)
    of the cent-scaled value — the cheapest mergeable distribution
    summary (merge = column adds, so rollup cascades and CRDT streams
    come free; mean/var/skew/kurtosis derive exactly, quantiles via
    Cornish-Fisher are the pytest-pinned estimate). v⁴ overflows BIGINT
    after ~60 cent-scale rows, hence DECIMAL(38,0) accumulators — the
    oracle's HUGEINT twin casts to the same type. Mergeability law
    (partials == direct) is pytest-pinned in test_curate."""
    from kgforge.functions.sketch import moments_sketch

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return moments_sketch(ev, ["event_type"], "value")


@_q(
    "graph_condensation",
    """
    WITH RECURSIVE n AS (
      SELECT n_nationkey::BIGINT AS id, n_regionkey AS rk FROM nation
    ), ring AS (
      SELECT id AS src,
             coalesce(lead(id) OVER (PARTITION BY rk ORDER BY id),
                      min(id) OVER (PARTITION BY rk)) AS dst
      FROM n
    ), rmin AS (
      SELECT rk, min(id) AS mid FROM n GROUP BY rk
    ), cross_e AS (
      SELECT a.mid AS src, b.mid AS dst
      FROM rmin a JOIN rmin b ON b.rk = a.rk + 1
    ), supp AS (
      SELECT s_nationkey::BIGINT AS src, 1000 + s_suppkey AS dst
      FROM supplier WHERE s_suppkey < 10
    ), edges AS (
      SELECT src, dst FROM ring WHERE src <> dst
      UNION SELECT src, dst FROM cross_e
      UNION SELECT src, dst FROM supp
    ), nd AS (
      SELECT id FROM n UNION SELECT DISTINCT dst AS id FROM supp
    ), reach(a, b) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
    ), mutual AS (
      SELECT r1.a AS id, min(r1.b) AS mb
      FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
      GROUP BY r1.a
    ), scc AS (
      SELECT nd.id AS id,
             least(nd.id, coalesce(m.mb, nd.id))::BIGINT AS scc
      FROM nd LEFT JOIN mutual m ON m.id = nd.id
    )
    SELECT DISTINCT s.scc AS src_scc, d.scc AS dst_scc
    FROM edges e
    JOIN scc s ON s.id = e.src
    JOIN scc d ON d.id = e.dst
    WHERE s.scc <> d.scc
    ORDER BY src_scc, dst_scc
    """,
)
def graph_condensation(spark, sf_dir):
    """Condensation / SCC quotient DAG (plans/graph_query.py::
    condensation over strongly_connected_components): one edge per pair
    of distinct components connected in the original graph — acyclic by
    construction, the reachability skeleton DAG-only analyses run on.
    Same nation-ring + region-bridge + supplier-spoke test graph as
    graph_scc; expected edges = the 4 inter-ring bridges + one
    ring->singleton edge per spoke supplier."""
    from kgforge.plans.graph_query import (
        condensation,
        strongly_connected_components,
    )

    edges, nodes = _scc_test_graph(spark, sf_dir)
    scc = strongly_connected_components(edges, nodes)
    return condensation(edges, scc).orderBy("src_scc", "dst_scc")


@_q(
    "events_lifecycle",
    """
    SELECT user_id AS key,
           min(CASE WHEN event_type = 'signup'
                    THEN epoch_us(ts) END)::BIGINT AS ts_signup,
           min(CASE WHEN event_type = 'view'
                    THEN epoch_us(ts) END)::BIGINT AS ts_view,
           min(CASE WHEN event_type = 'purchase'
                    THEN epoch_us(ts) END)::BIGINT AS ts_purchase,
           (min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
            - min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
           )::BIGINT AS us_signup_to_view,
           (min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
            - min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
           )::BIGINT AS us_view_to_purchase
    FROM events
    GROUP BY user_id
    """,
)
def events_lifecycle(spark, sf_dir):
    """Accumulating-snapshot lifecycle table (functions/funnel.py::
    lifecycle_snapshot): one row per user with the FIRST signup / view /
    purchase microsecond timestamps pivoted to columns and the lags
    between consecutive milestones — k conditional MINs in ONE hash
    aggregate, never k self-joins. Integer picks/diffs only; negative
    lags (reordered funnels) and missing-stage NULLs are semantics, not
    errors (pytest-pinned)."""
    from kgforge.functions.funnel import lifecycle_snapshot

    return lifecycle_snapshot(
        _t(spark, sf_dir, "events"), ["signup", "view", "purchase"]
    )


@_q(
    "robots_admission",
    """
    WITH rules AS (
      SELECT lower(n_name) || '.example' AS host, '*' AS agent,
             'disallow' AS rule,
             '/c' || (n_nationkey % 10)::VARCHAR AS path
      FROM nation
      UNION ALL
      SELECT lower(n_name) || '.example', '*', 'allow',
             '/c' || (n_nationkey % 10)::VARCHAR || '/pub'
      FROM nation
    ), urls AS (
      SELECT c_custkey,
             'https://' || lower(n.n_name) || '.example/c'
             || (c.c_custkey % 10)::VARCHAR
             || CASE WHEN c.c_custkey % 3 = 0
                     THEN '/pub/x' ELSE '/y' END AS url
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ), parsed AS (
      SELECT c_custkey, url,
             regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)
               AS host,
             regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+([^#]*)', 1)
               AS pth
      FROM urls
    ), j AS (
      SELECT p.c_custkey, p.url, r.rule, r.path,
             row_number() OVER (
               PARTITION BY p.c_custkey
               ORDER BY length(r.path) DESC NULLS LAST, r.rule ASC
             ) AS rn
      FROM parsed p
      LEFT JOIN rules r
        ON r.host = p.host
       AND substr(p.pth, 1, length(r.path)) = r.path
    )
    SELECT c_custkey, url,
           (rule IS NULL OR rule = 'allow') AS allowed
    FROM j WHERE rn = 1 ORDER BY c_custkey
    """,
)
def robots_admission(spark, sf_dir):
    """robots.txt admission filtering (sources/robots.py::
    robots_filter, REP core subset): per-host rule tables joined
    broadcast against the URL corpus, longest matching path prefix
    wins, Allow beats Disallow on equal length, no rule = allowed.
    Hosts/rules derive from nation (disallow '/cN', allow '/cN/pub'),
    URLs from customers — every path hits a real precedence case:
    '/cK/pub/x' matches BOTH rules and the longer Allow must win.
    Group-selection semantics (exact agent shadows '*', wildcard-rule
    subset, duplicate rows) are pytest-pinned in tests/test_robots."""
    from kgforge.sources.robots import robots_filter

    n = _t(spark, sf_dir, "nation")
    host = F.concat(F.lower(F.col("n_name")), F.lit(".example"))
    dis = n.select(
        host.alias("host"), F.lit("*").alias("agent"),
        F.lit("disallow").alias("rule"),
        F.concat(F.lit("/c"), (F.col("n_nationkey") % 10).cast("string"))
        .alias("path"),
    )
    allow = n.select(
        host.alias("host"), F.lit("*").alias("agent"),
        F.lit("allow").alias("rule"),
        F.concat(F.lit("/c"), (F.col("n_nationkey") % 10).cast("string"),
                 F.lit("/pub")).alias("path"),
    )
    rules = dis.unionByName(allow)
    cust = _t(spark, sf_dir, "customer").join(
        _t(spark, sf_dir, "nation"),
        F.col("n_nationkey") == F.col("c_nationkey"),
    )
    urls = cust.select(
        "c_custkey",
        F.concat(
            F.lit("https://"), F.lower(F.col("n_name")),
            F.lit(".example/c"),
            (F.col("c_custkey") % 10).cast("string"),
            F.when(F.col("c_custkey") % 3 == 0, F.lit("/pub/x"))
            .otherwise(F.lit("/y")),
        ).alias("url"),
    )
    out = robots_filter(urls, rules, agent="kgforge-bot")
    return out.select("c_custkey", "url", "allowed").orderBy("c_custkey")


@_q(
    "link_survivorship",
    """
    WITH n AS (
      SELECT c_nationkey::BIGINT AS cid, count(*)::BIGINT AS n_members
      FROM customer GROUP BY 1
    ), seg AS (
      SELECT cid, c_mktsegment FROM (
        SELECT c_nationkey::BIGINT AS cid, c_mktsegment,
               row_number() OVER (
                 PARTITION BY c_nationkey
                 ORDER BY count(*) DESC, c_mktsegment ASC) AS rn
        FROM customer WHERE c_mktsegment IS NOT NULL
        GROUP BY c_nationkey, c_mktsegment
      ) WHERE rn = 1
    ), nm AS (
      SELECT cid, c_name FROM (
        SELECT c_nationkey::BIGINT AS cid, c_name,
               row_number() OVER (
                 PARTITION BY c_nationkey
                 ORDER BY count(*) DESC, c_name ASC) AS rn
        FROM customer WHERE c_name IS NOT NULL
        GROUP BY c_nationkey, c_name
      ) WHERE rn = 1
    )
    SELECT n.cid, n.n_members, seg.c_mktsegment, nm.c_name
    FROM n LEFT JOIN seg USING (cid) LEFT JOIN nm USING (cid)
    ORDER BY cid
    """,
)
def link_survivorship(spark, sf_dir):
    """Golden-record survivorship (operators/canon.py::survivorship):
    per cluster each attribute resolves independently to its majority
    non-null value, ties to the smallest — the deterministic last mile
    of entity resolution after blocking + transitive clustering.
    Clusters here are customers by nationkey: c_mktsegment exercises a
    real majority vote, c_name is an all-distinct full tie so the
    lexicographic rule is load-bearing. k attributes = k cheap
    count+top-1 passes + cluster-keyed joins, never a row explosion."""
    from kgforge.operators.canon import survivorship

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("cid"),
        "c_mktsegment",
        "c_name",
    )
    out = survivorship(cust, "cid", ["c_mktsegment", "c_name"])
    return out.orderBy("cid")


@_q(
    "events_winsorize",
    """
    WITH v AS (
      SELECT event_id, event_type, value FROM events
      WHERE value IS NOT NULL
    ), r AS (
      SELECT event_id, event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ), b AS (
      SELECT event_type,
             min(CASE WHEN rn = greatest((n * 10 + 99) // 100, 1)
                      THEN value END) AS plo,
             min(CASE WHEN rn = greatest((n * 90 + 99) // 100, 1)
                      THEN value END) AS phi
      FROM r GROUP BY event_type
    )
    SELECT v.event_id, v.event_type, v.value,
           least(greatest(v.value, b.plo), b.phi) AS v_winsor
    FROM v JOIN b USING (event_type)
    """,
)
def events_winsorize(spark, sf_dir):
    """Per-type winsorization (functions/sharding.py::winsorize) of the
    events value at the exact 10th/90th discrete percentiles — outlier
    clamping for curation/quality averaging. Percentile indexes are
    pure integer arithmetic (max(ceil(n*q/100),1) as (n*q+99)//100 —
    the cypher percentileDisc rule), bounds are raw value PICKS and the
    clamp is least/greatest, so every double column hash-compares
    exactly (no float arithmetic anywhere). One window shuffle + a
    2-rows-per-key bounds aggregate + a broadcastable join back."""
    from kgforge.functions.sharding import winsorize

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    out = winsorize(
        ev.select("event_id", "event_type", "value"),
        ["event_type"], "value", lo_pct=10, hi_pct=90,
    )
    return out.select("event_id", "event_type", "value", "v_winsor")


@_q(
    "skyline_parts",
    """
    SELECT a.p_partkey, a.p_retailprice, a.p_size::BIGINT AS p_size
    FROM part a
    WHERE a.p_retailprice IS NOT NULL AND a.p_size IS NOT NULL
      AND NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice IS NOT NULL AND q.p_size IS NOT NULL
          AND q.p_retailprice <= a.p_retailprice
          AND q.p_size >= a.p_size
          AND (q.p_retailprice < a.p_retailprice
               OR q.p_size > a.p_size)
      )
    ORDER BY p_partkey
    """,
)
def skyline_parts(spark, sf_dir):
    """2-D skyline / Pareto front (operators/skyline.py::skyline_2d):
    parts no other part beats on BOTH (cheaper-or-equal retail price,
    larger-or-equal size, strictly better on one) — the multi-criteria
    shortlist. Engine side is ONE range-shuffle ordered pass (per-
    partition window minima + the _prior_running-style prefix-min
    carried through the driver, one row per partition — never the
    quadratic self-join); the oracle IS the quadratic NOT EXISTS
    definition, so the pass is verified against first principles.
    Duplicate points survive together; partition-count invariance is
    pytest-pinned (tests/test_skyline.py)."""
    from kgforge.operators.skyline import skyline_2d

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", F.col("p_size").cast("long").alias("p_size")
    )
    out = skyline_2d(part, "p_retailprice", "p_size",
                     x_dir="min", y_dir="max")
    return out.select("p_partkey", "p_retailprice", "p_size").orderBy(
        "p_partkey"
    )


@_q(
    "graph_matching",
    """
    WITH pe AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e0 AS (
      SELECT a, b,
             md5('mm|' || a::VARCHAR || '|' || b::VARCHAR)
             || lpad(a::VARCHAR, 20, '0')
             || lpad(b::VARCHAR, 20, '0') AS pr
      FROM pe
    ), inc0 AS (
      SELECT v, min(pr) AS mn FROM (
        SELECT a AS v, pr FROM e0 UNION ALL SELECT b AS v, pr FROM e0
      ) GROUP BY v
    ), w0 AS (
      SELECT e.a, e.b FROM e0 e
      JOIN inc0 x ON x.v = e.a JOIN inc0 y ON y.v = e.b
      WHERE e.pr = x.mn AND e.pr = y.mn
    ), m0 AS (
      SELECT a AS v FROM w0 UNION SELECT b AS v FROM w0
    ), e1 AS (
      SELECT e.a, e.b, e.pr FROM e0 e
      WHERE e.a NOT IN (SELECT v FROM m0)
        AND e.b NOT IN (SELECT v FROM m0)
    ), inc1 AS (
      SELECT v, min(pr) AS mn FROM (
        SELECT a AS v, pr FROM e1 UNION ALL SELECT b AS v, pr FROM e1
      ) GROUP BY v
    ), w1 AS (
      SELECT e.a, e.b FROM e1 e
      JOIN inc1 x ON x.v = e.a JOIN inc1 y ON y.v = e.b
      WHERE e.pr = x.mn AND e.pr = y.mn
    )
    SELECT a::BIGINT AS a, b::BIGINT AS b
    FROM (SELECT a, b FROM w0 UNION SELECT a, b FROM w1) u
    ORDER BY a, b
    """,
)
def graph_matching(spark, sf_dir):
    """Derandomized parallel greedy maximal matching
    (plans/graph_query.py::maximal_matching), two fixed rounds on the
    parts co-purchase graph — the edge-side twin of graph_luby_mis (a
    matching IS an independent set of the line graph). An edge wins a
    round iff its md5 priority is the strict min at BOTH endpoints;
    distinct priorities make winners vertex-disjoint and the fixpoint
    equal to sequential greedy by priority (pytest-pinned). The ER use:
    pick one pairing per entity from a candidate-pair table."""
    from kgforge.plans.graph_query import maximal_matching

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pe = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .dropDuplicates()
    )
    out = maximal_matching(pe, rounds=2)
    return out.select(
        F.col("a").cast("long"), F.col("b").cast("long")
    ).orderBy("a", "b")


@_q(
    "graph_topo_layers",
    """
    WITH RECURSIVE n AS (
      SELECT n_nationkey::BIGINT AS id, n_regionkey AS rk FROM nation
    ), ring AS (
      SELECT id AS src,
             coalesce(lead(id) OVER (PARTITION BY rk ORDER BY id),
                      min(id) OVER (PARTITION BY rk)) AS dst
      FROM n
    ), rmin AS (
      SELECT rk, min(id) AS mid FROM n GROUP BY rk
    ), cross_e AS (
      SELECT a.mid AS src, b.mid AS dst
      FROM rmin a JOIN rmin b ON b.rk = a.rk + 1
    ), supp AS (
      SELECT s_nationkey::BIGINT AS src, 1000 + s_suppkey AS dst
      FROM supplier WHERE s_suppkey < 10
    ), edges AS (
      SELECT src, dst FROM ring WHERE src <> dst
      UNION SELECT src, dst FROM cross_e
      UNION SELECT src, dst FROM supp
    ), nd AS (
      SELECT id FROM n UNION SELECT DISTINCT dst AS id FROM supp
    ), reach(a, b) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
    ), mutual AS (
      SELECT r1.a AS id, min(r1.b) AS mb
      FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
      GROUP BY r1.a
    ), scc AS (
      SELECT nd.id AS id,
             least(nd.id, coalesce(m.mb, nd.id))::BIGINT AS scc
      FROM nd LEFT JOIN mutual m ON m.id = nd.id
    ), qn AS (
      SELECT DISTINCT scc AS id FROM scc
    ), qe AS (
      SELECT DISTINCT s.scc AS src, d.scc AS dst
      FROM edges e
      JOIN scc s ON s.id = e.src
      JOIN scc d ON d.id = e.dst
      WHERE s.scc <> d.scc
    ), walk(v, d) AS (
      SELECT id, 0 FROM qn WHERE id NOT IN (SELECT dst FROM qe)
      UNION
      SELECT qe.dst, w.d + 1 FROM walk w JOIN qe ON qe.src = w.v
    )
    SELECT v AS id, max(d)::BIGINT AS layer
    FROM walk GROUP BY v ORDER BY id
    """,
)
def graph_topo_layers(spark, sf_dir):
    """DAG layering (plans/graph_query.py::topological_layers) over the
    condensation of the SCC-family test graph — the full cycle-safe
    scheduling composition: strongly_connected_components collapses the
    region rings, condensation yields the quotient DAG, Kahn peeling
    stamps layer = longest dependency depth (ring r sits at layer r,
    its supplier spokes at r+1). Oracle = recursive-CTE max-depth walk
    from the in-degree-0 quotient sources; cycle input raises
    (pytest-pinned) instead of looping."""
    from kgforge.plans.graph_query import (
        condensation,
        strongly_connected_components,
        topological_layers,
    )

    edges, nodes = _scc_test_graph(spark, sf_dir)
    scc = strongly_connected_components(edges, nodes)
    cond = condensation(edges, scc).select(
        F.col("src_scc").alias("src"), F.col("dst_scc").alias("dst")
    )
    qnodes = scc.select(F.col("scc").alias("id")).dropDuplicates()
    return topological_layers(cond, qnodes).orderBy("id")


@_q(
    "sketch_kmv_anotb",
    r"""
    WITH tok AS (
      SELECT DISTINCT lang,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ), pts AS (
      SELECT DISTINCT lang, substr(md5(w), 1, 12) AS h FROM tok
    ), bk AS (
      SELECT lang, h FROM (
        SELECT lang, h,
               row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
        FROM pts
      ) WHERE rn <= 128
    ), langs AS (SELECT DISTINCT lang FROM bk),
    pr AS (
      SELECT a.lang AS la, b.lang AS lb
      FROM langs a JOIN langs b ON a.lang < b.lang
    ), m AS (
      SELECT DISTINCT pr.la, pr.lb, bk.h
      FROM pr JOIN bk ON bk.lang = pr.la OR bk.lang = pr.lb
    ), cut AS (
      SELECT la, lb, h FROM (
        SELECT la, lb, h,
               row_number() OVER (PARTITION BY la, lb ORDER BY h) AS rn
        FROM m
      ) WHERE rn <= 128
    )
    SELECT c.la AS lang_a, c.lb AS lang_b,
           sum(CASE WHEN EXISTS (SELECT 1 FROM bk x
                                 WHERE x.lang = c.la AND x.h = c.h)
                     AND NOT EXISTS (SELECT 1 FROM bk y
                                     WHERE y.lang = c.lb AND y.h = c.h)
                THEN 1 ELSE 0 END)::BIGINT AS a_not_b,
           sum(CASE WHEN EXISTS (SELECT 1 FROM bk y
                                 WHERE y.lang = c.lb AND y.h = c.h)
                     AND NOT EXISTS (SELECT 1 FROM bk x
                                     WHERE x.lang = c.la AND x.h = c.h)
                THEN 1 ELSE 0 END)::BIGINT AS b_not_a
    FROM cut c GROUP BY 1, 2
    """,
)
def sketch_kmv_anotb(spark, sf_dir):
    """Theta-sketch difference (functions/sketch.py::
    kmv_difference_count): per language pair, how many union-bottom-128
    sample points sit in exactly one side — the a-not-b estimator
    numerator, computed from sketch state alone (the corpora never
    join). With kmv_intersect_count (sketch_kmv_setops gate) this
    completes the mergeable set-algebra: union / intersect / difference
    all from the same bottom-k arrays."""
    from kgforge.functions.sketch import kmv_difference_count, kmv_sketch
    from kgforge.functions.textstats import _WS

    k = 128
    words = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select(
            "lang",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), _WS)
            ).alias("w"),
        )
    )
    sk = kmv_sketch(words, "lang", "w", k=k)
    a = sk.select(F.col("lang").alias("lang_a"), F.col("kmv").alias("ka"))
    b = sk.select(F.col("lang").alias("lang_b"), F.col("kmv").alias("kb"))
    pairs = a.join(b, F.col("lang_a") < F.col("lang_b"))
    return pairs.select(
        "lang_a",
        "lang_b",
        kmv_difference_count(F.col("ka"), F.col("kb"), k).alias("a_not_b"),
        kmv_difference_count(F.col("kb"), F.col("ka"), k).alias("b_not_a"),
    )


_GAZETTEER_PATTERNS = ["scan", "table scan", "join", "filter", "the fast"]


@_q(
    "text_gazetteer",
    r"""
    WITH pats AS (
      SELECT * FROM (VALUES ('scan'), ('table scan'), ('join'),
                            ('filter'), ('the fast')) p(pattern)
    ), d AS (
      SELECT doc_id, lower(text) AS t FROM documents
      WHERE text IS NOT NULL
    ), gen AS (
      SELECT d.doc_id, d.t, p.pattern FROM d CROSS JOIN pats p
    ), pos AS (
      SELECT doc_id, t, pattern,
             unnest(range(1, length(t) - length(pattern) + 2)) AS i
      FROM gen
    ), hit AS (
      SELECT doc_id, pattern, i FROM pos
      WHERE substr(t, i, length(pattern)) = pattern
    )
    SELECT doc_id, pattern, count(*)::BIGINT AS cnt
    FROM hit GROUP BY 1, 2
    """,
)
def text_gazetteer(spark, sf_dir):
    """Gazetteer tagging (functions/gazetteer.py::match_counts):
    Aho-Corasick multi-pattern occurrence counts over the corpus — ONE
    pass per document regardless of dictionary size (goto/fail/output
    automaton in mapInPandas), vs the oracle's |docs|x|patterns|
    positional replay (every start position; overlapping AND nested
    matches count — 'scan' fires inside every 'table scan' via the
    fail-link output chain, which is exactly what positional substr
    equality counts). The pattern set includes a nested pair so the
    fail-chain semantics are load-bearing at both SFs."""
    from kgforge.functions.gazetteer import match_counts

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("text")
    )
    return match_counts(docs, _GAZETTEER_PATTERNS)


@_q(
    "events_cusum",
    """
    WITH v AS (
      SELECT user_id AS key, event_id AS id, epoch_us(ts) AS ts_us,
             CAST(round(value * 100) AS BIGINT) - 10000 AS a
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    ), p AS (
      SELECT key,
             row_number() OVER (PARTITION BY key ORDER BY ts_us, id) AS rn,
             sum(a) OVER (PARTITION BY key ORDER BY ts_us, id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS p
      FROM v
    ), s AS (
      SELECT key, rn,
             p - least(0, min(p) OVER (PARTITION BY key ORDER BY rn
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)) AS s
      FROM p
    )
    SELECT key, count(*)::BIGINT AS n,
           sum(CASE WHEN s > 15000 THEN 1 ELSE 0 END)::BIGINT AS n_alarms,
           max(s)::BIGINT AS max_stat,
           min(CASE WHEN s > 15000 THEN rn END)::BIGINT AS first_alarm_rn
    FROM s GROUP BY key
    """,
)
def events_cusum(spark, sf_dir):
    """Per-user CUSUM change detection (functions/rollup.py::
    cusum_stats, Page 1954). The sequential recurrence
    S_i = max(0, S_{i-1} + v_i - k) is rewritten to its prefix-sum
    closed form S_i = P_i - min(0, running-min P) — two stacked window
    functions sharing ONE sort on the key, no recursion, no Python;
    cent-scaled integers end to end (the standing float rule). Alarm
    threshold h=15000 cents over drift k=10000 is non-vacuous at both
    SFs (some-but-not-all users alarm); the oracle replays the same
    two-window algebra."""
    from kgforge.functions.rollup import cusum_stats

    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    return cusum_stats(ev, drift_cents=10_000, threshold_cents=15_000)


@_q(
    "events_concurrency",
    """
    WITH iv AS (
      SELECT event_type, epoch_us(ts) AS s,
             epoch_us(ts)
               + greatest(1, floor(value * 1000)::BIGINT) * 1000 * 3600 AS e
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), d AS (
      SELECT event_type, s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT event_type, e AS t, -1 AS d FROM iv
    ), c AS (
      SELECT event_type,
             sum(d) OVER (PARTITION BY event_type ORDER BY t, d
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS c
      FROM d
    )
    SELECT event_type, (count(*) / 2)::BIGINT AS n_intervals,
           max(c)::BIGINT AS max_concurrent
    FROM c GROUP BY event_type
    """,
)
def events_concurrency(spark, sf_dir):
    """Sweep-line max-concurrency (functions/rollup.py::
    interval_concurrency): each event an interval [ts, ts+dur), max
    overlapping intervals per event_type. The +1/-1 delta explode +
    one window sum is the classic O(n log n) shape — one Exchange on
    the key, no self-join (the naive interval-overlap join is
    quadratic). The -1<+1 tie order encodes half-open semantics;
    max is invariant within equal-(t,d) ties so the window result is
    a pure data function. dur_scale=3600 stretches value-ms to hours
    so the 30-day gate window genuinely overlaps (peaks 20-300 at the
    two SFs)."""
    from kgforge.functions.rollup import interval_concurrency

    ev = _t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    return interval_concurrency(ev, dur_scale=3600)


@_q(
    "stats_linfit",
    """
    WITH v AS (
      SELECT l_returnflag, l_linestatus,
             CAST(l_quantity AS HUGEINT) AS x,
             CAST(round(l_extendedprice * 100) AS HUGEINT) AS y
      FROM lineitem
    ), a AS (
      SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
      FROM v GROUP BY 1, 2
    )
    SELECT l_returnflag, l_linestatus, n,
           sx::DECIMAL(38,0) AS sx, sy::DECIMAL(38,0) AS sy,
           (n * sxy - sx * sy)::DECIMAL(38,0) AS slope_num,
           (n * sxx - sx * sx)::DECIMAL(38,0) AS slope_den,
           (n * syy - sy * sy)::DECIMAL(38,0) AS syy_det
    FROM a
    """,
)
def stats_linfit(spark, sf_dir):
    """Grouped exact OLS sufficient statistics (functions/regress.py::
    linfit_sums): slope/intercept/r² of extendedprice-cents vs quantity
    per (returnflag, linestatus) as integer DETERMINANTS
    (n·Σxy−ΣxΣy, n·Σx²−(Σx)², n·Σy²−(Σy)²) — ONE map-side-combining
    hash aggregate, six numbers of state per group, floats only at
    read time (linfit_eval). Σy² at cent scale exceeds BIGINT, hence
    DECIMAL(38,0) accumulators and the HUGEINT oracle twin (the
    sketch_moments craft)."""
    from kgforge.functions.regress import linfit_sums

    li = _t(spark, sf_dir, "lineitem")
    return linfit_sums(
        li,
        ["l_returnflag", "l_linestatus"],
        F.col("l_quantity").cast("long"),
        F.round(F.col("l_extendedprice") * 100).cast("long"),
    )


@_q(
    "profile_table",
    """
    SELECT 'c_custkey' AS col_name, count(*)::BIGINT AS n_rows,
           sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_nulls,
           count(DISTINCT c_custkey)::BIGINT AS n_distinct,
           min(c_custkey)::VARCHAR AS min_str,
           max(c_custkey)::VARCHAR AS max_str
    FROM customer
    UNION ALL
    SELECT 'c_name', count(*)::BIGINT,
           sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT c_name)::BIGINT,
           min(c_name), max(c_name)
    FROM customer
    UNION ALL
    SELECT 'c_nationkey', count(*)::BIGINT,
           sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT c_nationkey)::BIGINT,
           min(c_nationkey)::VARCHAR, max(c_nationkey)::VARCHAR
    FROM customer
    UNION ALL
    SELECT 'c_mktsegment', count(*)::BIGINT,
           sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT c_mktsegment)::BIGINT,
           min(c_mktsegment), max(c_mktsegment)
    FROM customer
    """,
)
def profile_table(spark, sf_dir):
    """Single-pass table profiling (operators/profile.py::
    profile_columns): exact per-column (rows, nulls, distincts,
    min/max-as-string) from ONE hash aggregate over ONE scan — the
    DuckDB SUMMARIZE surface, exact. The gate profiles the integer and
    string columns of customer; DOUBLE columns are profiled too in
    production but excluded here because float-to-string RENDERING is
    engine-specific (Java vs DuckDB shortest-roundtrip) — the values
    agree, their text does not; pinned instead in
    tests/test_profile.py."""
    from kgforge.operators.profile import profile_columns

    cust = _t(spark, sf_dir, "customer")
    return profile_columns(
        cust, ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
    )


@_q(
    "profile_inclusion",
    """
    WITH oc AS (SELECT DISTINCT o_custkey AS v FROM orders
                WHERE o_custkey IS NOT NULL),
         cc AS (SELECT DISTINCT c_custkey AS v FROM customer
                WHERE c_custkey IS NOT NULL),
         lp AS (SELECT DISTINCT l_partkey AS v FROM lineitem
                WHERE l_partkey IS NOT NULL),
         pp AS (SELECT DISTINCT p_partkey AS v FROM part
                WHERE p_partkey IS NOT NULL),
         eu AS (SELECT DISTINCT user_id AS v FROM events
                WHERE user_id IS NOT NULL)
    SELECT 'orders_in_customer' AS pair,
           (SELECT count(*) FROM oc)::BIGINT AS n_child_distinct,
           (SELECT count(*) FROM cc)::BIGINT AS n_parent_distinct,
           (SELECT count(*) FROM oc WHERE EXISTS
              (SELECT 1 FROM cc WHERE cc.v = oc.v))::BIGINT AS n_contained
    UNION ALL
    SELECT 'lineitem_in_part',
           (SELECT count(*) FROM lp)::BIGINT,
           (SELECT count(*) FROM pp)::BIGINT,
           (SELECT count(*) FROM lp WHERE EXISTS
              (SELECT 1 FROM pp WHERE pp.v = lp.v))::BIGINT
    UNION ALL
    SELECT 'customer_in_events',
           (SELECT count(*) FROM cc)::BIGINT,
           (SELECT count(*) FROM eu)::BIGINT,
           (SELECT count(*) FROM cc WHERE EXISTS
              (SELECT 1 FROM eu WHERE eu.v = cc.v))::BIGINT
    """,
)
def profile_inclusion(spark, sf_dir):
    """FK-candidate discovery (operators/profile.py::inclusion_stats):
    distinct-set containment counts for two true foreign keys
    (orders→customer, lineitem→part: n_contained == n_child_distinct)
    and one deliberately FAILING pair (customer→events.user_id: only
    a tenth of customers appear as event users at both SFs, so
    containment fails non-vacuously). Distinct sets first, then a LEFT SEMI probe — the
    raw tables are never joined row-to-row."""
    from kgforge.operators.profile import inclusion_stats

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    legs = [
        ("orders_in_customer",
         inclusion_stats(orders, "o_custkey", cust, "c_custkey")),
        ("lineitem_in_part",
         inclusion_stats(li, "l_partkey", part, "p_partkey")),
        ("customer_in_events",
         inclusion_stats(cust, "c_custkey",
                         _t(spark, sf_dir, "events"), "user_id")),
    ]
    out = None
    for name, df in legs:
        leg = df.select(F.lit(name).alias("pair"), "*")
        out = leg if out is None else out.unionByName(leg)
    return out


@_q(
    "events_forecast_baseline",
    """
    WITH v AS (
      SELECT event_type, event_id, epoch_us(ts) AS ts_us,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
        AND ts IS NOT NULL
    ), lg AS (
      SELECT event_type, v,
             lag(v, 1) OVER (PARTITION BY event_type
                             ORDER BY ts_us, event_id) AS naive,
             lag(v, 24) OVER (PARTITION BY event_type
                              ORDER BY ts_us, event_id) AS seasonal
      FROM v
    )
    SELECT event_type, count(*)::BIGINT AS n,
           count(naive)::BIGINT AS n_naive,
           sum(abs(v - naive))::BIGINT AS sum_abs_naive,
           count(seasonal)::BIGINT AS n_seasonal,
           sum(abs(v - seasonal))::BIGINT AS sum_abs_seasonal
    FROM lg GROUP BY event_type
    """,
)
def events_forecast_baseline(spark, sf_dir):
    """Forecast-baseline MASE decomposition (functions/rollup.py::
    forecast_error_sums): per event_type, exact cent-integer absolute
    error sums of the one-step-naive and season-24 forecasts — two lag
    windows on ONE sort, one aggregate; the scale-free MASE ratio is a
    read-time float over these sums. The oracle replays the window
    algebra."""
    from kgforge.functions.rollup import forecast_error_sums

    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    return forecast_error_sums(ev, ("event_type",), season=24)


@_q(
    "events_state_runs",
    """
    WITH v AS (
      SELECT user_id AS key, event_type AS state, event_id,
             epoch_us(ts) AS ts_us
      FROM events WHERE user_id IS NOT NULL
    ), f AS (
      SELECT key, state, event_id, ts_us,
             CASE WHEN row_number() OVER (PARTITION BY key
                                          ORDER BY ts_us, event_id) = 1
                    OR lag(state) OVER (PARTITION BY key
                                        ORDER BY ts_us, event_id)
                       IS DISTINCT FROM state
                  THEN 1 ELSE 0 END AS chg
      FROM v
    ), r AS (
      SELECT key, state, ts_us,
             sum(chg) OVER (PARTITION BY key ORDER BY ts_us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS run_index
      FROM f
    )
    SELECT key, run_index::BIGINT AS run_index, min(state) AS state,
           count(*)::BIGINT AS n_events,
           min(ts_us)::BIGINT AS start_us, max(ts_us)::BIGINT AS end_us
    FROM r GROUP BY key, run_index
    """,
)
def events_state_runs(spark, sf_dir):
    """Run-length encoding of per-user event-type sequences
    (functions/funnel.py::state_runs): consecutive same-state events
    collapse to (key, run_index, state, n_events, start_us, end_us) —
    the value-change twin of the gaps-and-islands interval merge, two
    windows on ONE sort. The lag compare is null-safe (IS DISTINCT
    FROM / eqNullSafe), so unknown-state stretches form runs too. At
    both SFs some users repeat an event type consecutively
    (multi-event runs exist) and some never do — non-vacuous."""
    from kgforge.functions.funnel import state_runs

    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    return state_runs(ev)


@_q(
    "geo_geohash_buckets",
    f"""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey * 9973) % 180000001 - 90000000 AS lat,
             (c_custkey * 31337) % 360000001 - 180000000 AS lon
      FROM customer
    ), enc AS (
      SELECT c_custkey, {_GH7_SQL} AS gh7 FROM pts
    )
    SELECT c_custkey, gh7, substr(gh7, 1, 4) AS gh4 FROM enc
    """,
)
def geo_geohash_buckets(spark, sf_dir):
    """Geohash spatial bucketing (functions/geo.py::geohash_col):
    customer-derived micro-degree points encoded to precision-7 hashes
    plus their precision-4 blocking prefix — the spatial-join blocking
    key, all integer bit algebra in WholeStageCodegen. The oracle is
    GENERATED by geohash_sql (the _HEX12_POLY technique): both engines
    run the identical quantization + interleave + base32 polynomial;
    the encoder itself is certified against the textbook bisection
    reference in tests/test_geo.py (poles, antimeridian, randomized).
    """
    from kgforge.functions.geo import geohash_col

    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey",
        ((F.col("c_custkey") * 9973) % 180_000_001 - 90_000_000).alias(
            "lat"
        ),
        ((F.col("c_custkey") * 31337) % 360_000_001 - 180_000_000).alias(
            "lon"
        ),
    )
    gh = geohash_col(F.col("lat"), F.col("lon"), 7)
    return pts.select(
        "c_custkey",
        gh.alias("gh7"),
        F.substring(gh, 1, 4).alias("gh4"),
    )


@_q(
    "geo_distance_pairs",
    """
    WITH pts AS (
      SELECT c_custkey AS id,
             (c_custkey * 37) % 2000001 - 1000000 AS lat,
             (c_custkey * 73) % 2000001 - 1000000 AS lon
      FROM customer
    ), cells AS (
      SELECT id, lat, lon,
        least(((lat::BIGINT + 90000000) * 1024) // 180000000, 1023)
          AS cy,
        least(((lon::BIGINT + 180000000) * 1024) // 360000000, 1023)
          AS cx
      FROM pts
    ), probe AS (
      SELECT id AS ida, lat AS lata, lon AS lona,
             cy + dy AS cy, cx + dx AS cx
      FROM cells,
           (VALUES (-1), (0), (1)) dys(dy),
           (VALUES (-1), (0), (1)) dxs(dx)
      WHERE cy + dy BETWEEN 0 AND 1023 AND cx + dx BETWEEN 0 AND 1023
    ), j AS (
      SELECT p.ida AS id_a, c.id AS id_b,
             (p.lata - c.lat) * (p.lata - c.lat)
               + (p.lona - c.lon) * (p.lona - c.lon) AS dist2
      FROM probe p
      JOIN cells c ON c.cy = p.cy AND c.cx = p.cx AND p.ida < c.id
    )
    SELECT id_a, id_b, dist2::BIGINT AS dist2
    FROM j WHERE dist2 <= 10000000000
    """,
)
def geo_distance_pairs(spark, sf_dir):
    """Spatial distance self-join (functions/geo.py::neighbor_pairs):
    customers mapped to a dense ±1° micro-degree box, all pairs within
    a 0.1° planar radius found by geohash-CELL blocking — each point
    probes its 3x3 cell neighborhood (cell size >= radius makes the
    cover complete, guard-checked), equi-join on the cell key, exact
    BIGINT squared-distance refine. Never the all-pairs cross product;
    the oracle replays quantization, the 3x3 explode, and the refine.
    Brute-force parity is pinned in tests/test_geo.py."""
    from kgforge.functions.geo import neighbor_pairs

    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 37) % 2_000_001 - 1_000_000).alias("lat"),
        ((F.col("c_custkey") * 73) % 2_000_001 - 1_000_000).alias("lon"),
    )
    return neighbor_pairs(pts, "id", "lat", "lon", 100_000, 4)


@_q(
    "text_kn_counts",
    """
    WITH dd AS (
      SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ), dd2 AS (
      SELECT t FROM dd WHERE len(t) >= 2
    ), pos AS (
      SELECT t, unnest(range(1, len(t))) AS i FROM dd2
    ), pr AS (
      SELECT t[i] AS w1, t[i + 1] AS w2 FROM pos
    ), counts AS (
      SELECT w1, w2, count(*)::BIGINT AS c FROM pr GROUP BY 1, 2
    ), l AS (
      SELECT w1, sum(c)::BIGINT AS c_left,
             count(*)::BIGINT AS n_right
      FROM counts GROUP BY 1
    ), r AS (
      SELECT w2, count(*)::BIGINT AS n_left FROM counts GROUP BY 1
    ), nb AS (
      SELECT count(*)::BIGINT AS n_bigrams FROM counts
    )
    SELECT c.w1, c.w2, c.c, l.c_left, l.n_right, r.n_left, nb.n_bigrams
    FROM counts c JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN nb
    WHERE c.c >= 2
    """,
)
def text_kn_counts(spark, sf_dir):
    """Kneser-Ney bigram count tables (functions/textstats.py::
    kn_bigram_counts): per surviving bigram the exact (c, c_left,
    N1+(w1·), N1+(·w2), total bigram types) — everything an
    interpolated-KN LM needs; `kn_prob` derives the float model at
    read time (pytest pins per-context mass = 1 exactly). Pair
    generation is HOF expressions over the projected token array (no
    exploded self-join); marginals derive from the bigram table, not a
    second scan; min_count=2 prunes AFTER marginals so the statistics
    stay unbiased."""
    from kgforge.functions.textstats import kn_bigram_counts

    docs = _t(spark, sf_dir, "documents")
    return kn_bigram_counts(docs, min_count=2)


@_q(
    "mbox_ingest",
    """
    WITH docs AS (
      SELECT 'From s' || s_suppkey || '@ex.com Thu Jan  1 00:00:01 2024'
             || chr(10) || 'From: ' || s_name || ' <s' || s_suppkey
             || '@ex.com>' || chr(10) || 'To: list@ex.com' || chr(10)
             || 'Subject: report ' || s_name || chr(10)
             || 'Date: 2024-01-'
             || lpad((s_suppkey % 27 + 1)::VARCHAR, 2, '0') || chr(10)
             || chr(10) || 'body for ' || s_name || chr(10)
             || '>From the vault' || chr(10) || chr(10)
             || 'From relay@ex.com Thu Jan  2 00:00:02 2024' || chr(10)
             || 'Message-ID: <' || s_suppkey || '@ex.com>' || chr(10)
             || CASE WHEN s_suppkey % 3 = 0 THEN ''
                     ELSE 'Subject: fwd ' || s_suppkey || chr(10)
                          || chr(10) || 'short body ' || s_suppkey
                          || chr(10) END
               AS doc
      FROM supplier
    ), split AS (
      SELECT string_split(chr(10) || doc, chr(10) || 'From ') AS l
      FROM docs
    ), pos AS (
      SELECT l, unnest(range(2, len(l) + 1)) AS i FROM split
    ), msg AS (
      SELECT (i - 2)::BIGINT AS msg_index, l[i] AS m FROM pos
    ), cut AS (
      SELECT msg_index, m, strpos(m, chr(10)) AS fnl FROM msg
    ), fl AS (
      SELECT msg_index,
             CASE WHEN fnl > 0 THEN substr(m, 1, fnl - 1) ELSE m END
               AS from_line,
             CASE WHEN fnl > 0 THEN substr(m, fnl + 1) ELSE '' END
               AS rest
      FROM cut
    ), bl AS (
      SELECT msg_index, from_line, rest,
             strpos(rest, chr(10) || chr(10)) AS bk
      FROM fl
    ), parts AS (
      SELECT msg_index, from_line,
             CASE WHEN bk > 0 THEN substr(rest, 1, bk - 1)
                  ELSE rest END AS hdr,
             CASE WHEN bk > 0 THEN substr(rest, bk + 2) END AS body_raw
      FROM bl
    )
    SELECT msg_index, from_line,
           nullif(regexp_extract(hdr,
             '(?:^|\\n)From: ([^\\n]*)', 1), '') AS hdr_from,
           nullif(regexp_extract(hdr,
             '(?:^|\\n)To: ([^\\n]*)', 1), '') AS hdr_to,
           nullif(regexp_extract(hdr,
             '(?:^|\\n)Subject: ([^\\n]*)', 1), '') AS hdr_subject,
           nullif(regexp_extract(hdr,
             '(?:^|\\n)Date: ([^\\n]*)', 1), '') AS hdr_date,
           nullif(regexp_extract(hdr,
             '(?:^|\\n)Message-ID: ([^\\n]*)', 1), '') AS hdr_message_id,
           regexp_replace(body_raw, '(^|\\n)>From ', '\\1From ', 'g')
             AS body
    FROM parts
    """,
)
def mbox_ingest(spark, sf_dir):
    """mbox mailbox parsing (sources/mbox.py::parse_mbox), the
    sitemap_ingest certification pattern: two messages per supplier —
    a full message with mboxrd ``>From `` body escaping, and a second
    that is HEADERS-ONLY for every third supplier (body NULL) —
    synthesized identically from supplier columns in both engines and
    parsed with the same literal splits + RE2 header extracts. The
    engines' regexp_replace backreference dialects differ ($1 vs \\1,
    'g' flag) — the one spot the oracle text can't be copied verbatim
    from the Spark expression, pinned here."""
    from kgforge.sources.mbox import parse_mbox

    k = F.col("s_suppkey").cast("string")
    nl = F.lit("\n")
    doc = F.concat(
        F.lit("From s"), k, F.lit("@ex.com Thu Jan  1 00:00:01 2024"),
        nl,
        F.lit("From: "), F.col("s_name"), F.lit(" <s"), k,
        F.lit("@ex.com>"), nl,
        F.lit("To: list@ex.com"), nl,
        F.lit("Subject: report "), F.col("s_name"), nl,
        F.lit("Date: 2024-01-"),
        F.lpad((F.col("s_suppkey") % 27 + 1).cast("string"), 2, "0"), nl,
        nl,
        F.lit("body for "), F.col("s_name"), nl,
        F.lit(">From the vault"), nl, nl,
        F.lit("From relay@ex.com Thu Jan  2 00:00:02 2024"), nl,
        F.lit("Message-ID: <"), k, F.lit("@ex.com>"), nl,
        F.when(F.col("s_suppkey") % 3 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit("Subject: fwd "), k, nl, nl,
                F.lit("short body "), k, nl,
            )
        ),
    )
    boxes = _t(spark, sf_dir, "supplier").select(doc.alias("mbox"))
    return parse_mbox(boxes, "mbox")


@_q(
    "dedup_keep_best",
    f"""
    WITH corpus AS (
      SELECT doc_id, text, n_chars AS q FROM documents
      UNION ALL
      SELECT doc_id + {_VARIANT_OFFSET},
             replace(upper(text), ' ', '  '),
             n_chars + doc_id % 7 - 3
      FROM documents
    ), fps AS (
      SELECT doc_id AS id, q,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM corpus
    ), ranked AS (
      SELECT id, fp, q,
             row_number() OVER (PARTITION BY fp
                                ORDER BY q DESC, id ASC) AS rk,
             count(*) OVER (PARTITION BY fp) AS n
      FROM fps
    ), kept AS (
      SELECT fp, id AS kept_id FROM ranked WHERE rk = 1 AND n >= 2
    )
    SELECT f.id, k.kept_id, f.fp
    FROM fps f JOIN kept k USING (fp)
    WHERE f.id <> k.kept_id
    """,
)
def dedup_keep_best(spark, sf_dir):
    """Quality-aware cluster-representative selection (functions/
    dedup.py::keep_best): within each exact-dup cluster the HIGHEST-
    quality member survives (ties to smallest id), everything else
    becomes a drop row (id, kept_id, fp) — the Lee et al. "keep the
    best copy" refinement of keep-first. The variant corpus carries a
    doc_id-dependent quality delta so the quality argmax genuinely
    decides (sometimes the variant wins, sometimes the original —
    non-vacuous at both SFs); the argmax is a struct max_by (one
    map-side-combining aggregate, no window on the Spark side), the
    oracle replays with a rank window."""
    from kgforge.functions.dedup import keep_best

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "text", F.col("n_chars").alias("q")
    ).unionByName(
        docs.select(
            (F.col("doc_id") + F.lit(_VARIANT_OFFSET)).alias("doc_id"),
            F.replace(
                F.upper(F.col("text")), F.lit(" "), F.lit("  ")
            ).alias("text"),
            (F.col("n_chars") + F.col("doc_id") % 7 - 3).alias("q"),
        )
    )
    return keep_best(corpus, "doc_id", "text", "q")


@_q(
    "events_quantiles",
    """
    WITH v AS (
      SELECT event_type, value FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
    ), r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ), p AS (
      SELECT unnest([25, 50, 75, 95]) AS pct
    )
    SELECT r.event_type, p.pct::BIGINT AS pct, r.value AS pick
    FROM r JOIN p ON r.rn = greatest((r.n * p.pct + 99) // 100, 1)
    """,
)
def events_quantiles(spark, sf_dir):
    """Grouped multi-quantile summary (functions/sharding.py::
    quantile_picks): p25/p50/p75/p95 per event_type as exact
    discrete-percentile PICKS from ONE window pass — k percentiles
    cost the same single Exchange as one (the winsorize/mad_stats
    index rule generalized; a higher-order array filter replaces k
    windows). Picks are raw doubles, hash-exact cross-engine because
    no arithmetic ever touches them."""
    from kgforge.functions.sharding import quantile_picks

    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    out = quantile_picks(ev, ["event_type"], "value")
    return out.select(
        "event_type", F.col("pct").cast("long"), "pick"
    )


@_q(
    "graph_local_clustering",
    """
    WITH pe AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e0 AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM pe
    ), tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e0 e1 JOIN e0 e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b
    ), mem AS (
      SELECT x AS v FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ), t AS (
      SELECT v, count(*)::BIGINT AS triangles FROM mem GROUP BY v
    ), deg AS (
      SELECT v, count(*)::BIGINT AS deg FROM (
        SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0
      ) GROUP BY v
    )
    SELECT deg.v::BIGINT AS id,
           coalesce(t.triangles, 0)::BIGINT AS triangles, deg.deg
    FROM deg LEFT JOIN t ON t.v = deg.v ORDER BY id
    """,
)
def graph_local_clustering(spark, sf_dir):
    """Per-node local clustering decomposition (plans/graph_query.py::
    local_clustering) on the parts co-purchase graph: (id, triangles,
    deg) all-BIGINT; C(v) = 2·tri/(deg·(deg−1)) is read-time. Node
    triangle counts come from `_edge_support`'s degree-oriented wedge
    join (each triangle meets a node through exactly TWO incident
    edges → Σ incident support / 2, exact) — never a per-node
    neighborhood enumeration. The oracle counts triangle witnesses
    x<y<z and explodes members."""
    from kgforge.plans.graph_query import local_clustering

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pe = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .dropDuplicates()
    )
    return (
        local_clustering(pe)
        .select(F.col("id").cast("long"), "triangles", "deg")
        .orderBy("id")
    )


@_q(
    "text_rake_scores",
    f"""
    WITH dd AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ), dd2 AS (
      SELECT doc_id, t FROM dd WHERE len(t) >= 1
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM dd2
    ), tok AS (
      SELECT doc_id, i, t[i] AS w FROM pos
    ), fl AS (
      SELECT doc_id, i, w,
             CASE WHEN NOT regexp_full_match(w, '[a-z]+')
                    OR list_contains({_STOPLIST_SQL}, w)
                  THEN 1 ELSE 0 END AS delim
      FROM tok
    ), ph AS (
      SELECT doc_id, i, w, delim,
             sum(delim) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS phrase
      FROM fl
    ), cw AS (
      SELECT doc_id, w, phrase FROM ph WHERE delim = 0
    ), pl AS (
      SELECT doc_id, w,
             count(*) OVER (PARTITION BY doc_id, phrase) AS plen
      FROM cw
    )
    SELECT w AS word, count(*)::BIGINT AS freq, sum(plen)::BIGINT AS deg
    FROM pl GROUP BY w HAVING count(*) >= 3
    """,
)
def text_rake_scores(spark, sf_dir):
    """RAKE keyword statistics (functions/textstats.py::
    rake_word_scores, Rose et al. 2010): candidate phrases = maximal
    content-token runs between delimiters (stopwords / non-alpha), per
    word the exact (freq, deg=Σ phrase length) pair; score = deg/freq
    is read-time. Phrase ids are the gaps-and-islands running sum —
    one window sort per doc, no self-join; the oracle replays
    tokenization (string_split_regex = the \\s+ split), the RE2 alpha
    test, both windows, and the min_freq=3 prune."""
    from kgforge.functions.textstats import rake_word_scores

    docs = _t(spark, sf_dir, "documents")
    return rake_word_scores(docs, min_freq=3)


@_q(
    "events_mad",
    """
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), r1 AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ), med AS (
      SELECT event_type, v AS median_cents, n FROM r1
      WHERE rn = greatest((n * 50 + 99) // 100, 1)
    ), dev AS (
      SELECT v.event_type, abs(v.v - m.median_cents) AS d
      FROM v JOIN med m ON m.event_type = v.event_type
    ), r2 AS (
      SELECT event_type, d,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM dev
    ), mad AS (
      SELECT event_type, d AS mad_cents FROM r2
      WHERE rn = greatest((n * 50 + 99) // 100, 1)
    )
    SELECT med.event_type, med.n::BIGINT AS n, med.median_cents,
           mad.mad_cents
    FROM med JOIN mad ON mad.event_type = med.event_type
    """,
)
def events_mad(spark, sf_dir):
    """Exact per-key median + MAD (functions/rollup.py::mad_stats):
    the robust anomaly-detection scale, both medians as discrete
    PICKS (the winsorize integer index rule — never interpolation, so
    cent values hash-compare exactly). Two window-rank passes with a
    broadcastable per-key median join between them; the oracle replays
    both windows."""
    from kgforge.functions.rollup import mad_stats

    ev = _t(spark, sf_dir, "events")
    return mad_stats(ev, ("event_type",))


@_q(
    "media_audio_stats",
    """
    WITH s AS (
      SELECT s_name AS name, s_suppkey AS k,
             (8000 + (s_suppkey % 5) * 1000)::BIGINT AS rate,
             (200 + (s_suppkey % 57))::BIGINT AS n
      FROM supplier
    ), idx AS (
      SELECT name, k, rate, n, unnest(range(0, n)) AS i FROM s
    ), v AS (
      SELECT name, rate, n, i,
             ((k * 31 + i * 17) % 201 - 100)::BIGINT AS v
      FROM idx
    ), lg AS (
      SELECT name, rate, n, v,
             lag(v) OVER (PARTITION BY name ORDER BY i) AS pv
      FROM v
    )
    SELECT name, rate, max(n)::BIGINT AS n_samples,
           sum(v)::BIGINT AS sum_v, sum(abs(v))::BIGINT AS sum_abs,
           min(v)::BIGINT AS min_v, max(v)::BIGINT AS max_v,
           sum(CASE WHEN pv IS NOT NULL AND (pv < 0) <> (v < 0)
                    THEN 1 ELSE 0 END)::BIGINT AS zero_crossings
    FROM lg GROUP BY name, rate
    """,
)
def media_audio_stats(spark, sf_dir):
    """Audio sample statistics through the REAL WAV codec
    (functions/multimodal.py::decode_wav) — the media_probe_mp4
    certification pattern: per supplier a deterministic PCM series
    v_i = (k·31 + i·17) % 201 − 100 is WRITTEN as a real WAV on the
    executors (8-bit unsigned PCM when k%3==0, else 16-bit — both
    decoder paths), DECODED back through the wave codec across the
    Arrow boundary, and reduced to exact BIGINT stats (n, Σv, Σ|v|,
    min, max, sign-transition zero crossings). The int->float->int
    round trip is lossless by construction (v/2^7 and v/2^15 are
    dyadic), so the oracle COMPUTES the same stats from the formula
    via unnest(range) + one lag window — no frozen gold."""
    import numpy as np
    import pandas as pd

    from kgforge.functions.multimodal import decode_wav

    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.col("s_suppkey").alias("k")
    )

    def build_and_stat(batches):
        import io
        import wave

        for pdf in batches:
            rows = []
            for name, k in zip(pdf["name"], pdf["k"]):
                k = int(k)
                rate = 8000 + (k % 5) * 1000
                n = 200 + (k % 57)
                v = (k * 31 + np.arange(n) * 17) % 201 - 100
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    if k % 3 == 0:
                        wf.setsampwidth(1)
                        wf.setframerate(rate)
                        wf.writeframes(
                            (v + 128).astype(np.uint8).tobytes()
                        )
                        scale = 128.0
                    else:
                        wf.setsampwidth(2)
                        wf.setframerate(rate)
                        wf.writeframes(
                            v.astype("<i2").tobytes()
                        )
                        scale = 32768.0
                samples, got_rate = decode_wav(buf.getvalue())
                iv = np.rint(samples[:, 0] * scale).astype(np.int64)
                neg = iv < 0
                zc = int((neg[1:] != neg[:-1]).sum())
                rows.append(
                    (
                        name, int(got_rate), int(len(iv)),
                        int(iv.sum()), int(np.abs(iv).sum()),
                        int(iv.min()), int(iv.max()), zc,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "name", "rate", "n_samples", "sum_v", "sum_abs",
                    "min_v", "max_v", "zero_crossings",
                ],
            )

    return sup.mapInPandas(
        build_and_stat,
        "name string, rate long, n_samples long, sum_v long, "
        "sum_abs long, min_v long, max_v long, zero_crossings long",
    )


@_q(
    "link_pair_scores",
    """
    WITH r AS (
      SELECT c_custkey AS id, c_nationkey, c_mktsegment,
             (CAST(round(c_acctbal * 100) AS BIGINT) + 10000000)
               // 100000 AS bal_bucket,
             length(c_name)::BIGINT AS name_len,
             c_custkey % 7 AS key_mod
      FROM customer
    ), p AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CASE WHEN a.bal_bucket = b.bal_bucket THEN 1 ELSE 0 END
               ::BIGINT AS agree_bal,
             CASE WHEN a.name_len = b.name_len THEN 1 ELSE 0 END
               ::BIGINT AS agree_len,
             CASE WHEN a.key_mod = b.key_mod THEN 1 ELSE 0 END
               ::BIGINT AS agree_mod
      FROM r a JOIN r b
        ON a.c_nationkey = b.c_nationkey
       AND a.c_mktsegment = b.c_mktsegment
       AND a.id < b.id
    )
    SELECT id_a, id_b, agree_bal, agree_len, agree_mod,
           (agree_bal * 7 + agree_len * 3 + agree_mod * 2)::BIGINT AS score
    FROM p
    WHERE agree_bal * 7 + agree_len * 3 + agree_mod * 2 >= 5
    """,
)
def link_pair_scores(spark, sf_dir):
    """Blocked pairwise record-linkage scoring (operators/canon.py::
    pair_scores) — the deterministic Fellegi-Sunter stage between
    blocking and transitive clustering: customers blocked on
    (nation, mktsegment), integer agreement weights 7/3/2 over
    acctbal-bucket (floor-division via +offset so negative balances
    floor identically cross-engine — Spark `div` truncates, DuckDB
    `//` floors), name length, and custkey%7; threshold 5 keeps
    "balance-bucket agreement or both weak features". All-integer
    output hash-compares exactly; the oracle replays the blocked
    self-join. Pair count = sum over blocks of |block|² — never
    all-pairs (125 blocks at both SFs)."""
    from kgforge.operators.canon import pair_scores

    cust = _t(spark, sf_dir, "customer")
    feats = [
        (
            "bal",
            F.expr(
                "(cast(round(c_acctbal * 100) as bigint) + 10000000)"
                " div 100000"
            ),
            7,
        ),
        ("len", F.length("c_name").cast("long"), 3),
        ("mod", (F.col("c_custkey") % 7).cast("long"), 2),
    ]
    out = pair_scores(
        cust, "c_custkey", ["c_nationkey", "c_mktsegment"], feats,
        min_score=5,
    )
    return out.select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.col("agree_bal"),
        F.col("agree_len"),
        F.col("agree_mod"),
        "score",
    )


@_q(
    "sitemap_ingest",
    """
    WITH docs AS (
      SELECT '<?xml version="1.0"?><urlset>'
             || '<url><loc> https://example.com/sup/' || s_name
             || '?n=' || s_nationkey || '&amp;k=' || s_suppkey
             || ' </loc><lastmod>2024-01-'
             || lpad((s_suppkey % 27 + 1)::VARCHAR, 2, '0')
             || '</lastmod><priority>0.' || (s_suppkey % 10)
             || '</priority></url>'
             || '<url><loc>https://example.com/plain/' || s_suppkey
             || '</loc><changefreq>daily</changefreq></url>'
             || '<url><lastmod>2025-01-01</lastmod></url></urlset>'
               AS xml
      FROM supplier
      UNION ALL
      SELECT '<sitemapindex><sitemap><loc>https://example.com/sm/'
             || r_regionkey || '.xml</loc><lastmod>2024-02-0'
             || (r_regionkey + 1)
             || '</lastmod></sitemap></sitemapindex>'
      FROM region
    ), b AS (
      SELECT 'url' AS kind,
             unnest(regexp_extract_all(xml,
               '<url>([\\s\\S]*?)</url>', 1)) AS blk
      FROM docs
      UNION ALL
      SELECT 'sitemap',
             unnest(regexp_extract_all(xml,
               '<sitemap>([\\s\\S]*?)</sitemap>', 1))
      FROM docs
    ), p AS (
      SELECT kind,
        nullif(regexp_extract(blk,
          '<loc>\\s*([\\s\\S]*?)\\s*</loc>', 1), '') AS loc,
        nullif(regexp_extract(blk,
          '<lastmod>\\s*([\\s\\S]*?)\\s*</lastmod>', 1), '') AS lastmod,
        nullif(regexp_extract(blk,
          '<changefreq>\\s*([\\s\\S]*?)\\s*</changefreq>', 1), '')
          AS changefreq,
        nullif(regexp_extract(blk,
          '<priority>\\s*([\\s\\S]*?)\\s*</priority>', 1), '') AS priority
      FROM b
    )
    SELECT kind,
           replace(replace(replace(replace(replace(loc,
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             '&apos;', ''''), '&amp;', '&') AS loc,
           lastmod, changefreq, priority
    FROM p WHERE loc IS NOT NULL
    """,
)
def sitemap_ingest(spark, sf_dir):
    """Sitemap-protocol parsing (sources/sitemap.py::parse_sitemaps),
    the warc_ingest pattern: synthesize urlset docs (three entries per
    supplier — full fields with an entity-escaped query string and
    leading/trailing loc whitespace, a minimal loc+changefreq entry,
    and a loc-LESS entry that must be dropped) plus sitemapindex docs
    per region, entirely from table columns across both engines, then
    parse with the identical RE2-portable regexps. Exercises: block
    extraction, optional-child NULLs, whitespace trim, XML entity
    unescape, the urlset/sitemapindex split, and loc-missing
    admission."""
    from kgforge.sources.sitemap import parse_sitemaps

    sup = _t(spark, sf_dir, "supplier")
    urlset = sup.select(
        F.concat(
            F.lit('<?xml version="1.0"?><urlset>'),
            F.lit("<url><loc> https://example.com/sup/"),
            F.col("s_name"),
            F.lit("?n="),
            F.col("s_nationkey").cast("string"),
            F.lit("&amp;k="),
            F.col("s_suppkey").cast("string"),
            F.lit(" </loc><lastmod>2024-01-"),
            F.lpad((F.col("s_suppkey") % 27 + 1).cast("string"), 2, "0"),
            F.lit("</lastmod><priority>0."),
            (F.col("s_suppkey") % 10).cast("string"),
            F.lit("</priority></url>"),
            F.lit("<url><loc>https://example.com/plain/"),
            F.col("s_suppkey").cast("string"),
            F.lit("</loc><changefreq>daily</changefreq></url>"),
            F.lit("<url><lastmod>2025-01-01</lastmod></url></urlset>"),
        ).alias("xml")
    )
    index = _t(spark, sf_dir, "region").select(
        F.concat(
            F.lit("<sitemapindex><sitemap><loc>https://example.com/sm/"),
            F.col("r_regionkey").cast("string"),
            F.lit(".xml</loc><lastmod>2024-02-0"),
            (F.col("r_regionkey") + 1).cast("string"),
            F.lit("</lastmod></sitemap></sitemapindex>"),
        ).alias("xml")
    )
    return parse_sitemaps(urlset.unionByName(index), "xml")


@_q(
    "events_interval_merge",
    """
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts)
               + greatest(1, floor(value * 1000)::BIGINT) * 1000 * 3600 AS e
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    ), p AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pm
      FROM iv
    ), f AS (
      SELECT user_id, s, e,
             CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS opens
      FROM p
    ), g AS (
      SELECT user_id, s, e,
             sum(opens) OVER (PARTITION BY user_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS island
      FROM f
    )
    SELECT user_id, min(s)::BIGINT AS start_us, max(e)::BIGINT AS end_us,
           count(*)::BIGINT AS n_intervals
    FROM g GROUP BY user_id, island
    """,
)
def events_interval_merge(spark, sf_dir):
    """Gaps-and-islands interval coalescing (functions/rollup.py::
    merge_intervals): per-user CLOSED intervals [ts, ts+dur] merged
    into maximal busy blocks — running-max-of-end closed form (two
    windows sharing ONE sort), never the quadratic overlap self-join
    and never a merge-until-fixpoint loop. Same dur_scale=3600 stretch
    as events_concurrency so islands genuinely coalesce at both SFs
    (multi-interval islands exist, single-interval islands too). The
    oracle replays the window algebra verbatim."""
    from kgforge.functions.rollup import merge_intervals

    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    return merge_intervals(ev, ("user_id",), dur_scale=3600)


@_q(
    "stats_chisq",
    """
    WITH v AS (
      SELECT event_type AS row_key,
             (epoch_us(ts) // 3600000000) % 24 AS col_key
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
    ), cells AS (
      SELECT row_key, col_key, count(*)::BIGINT AS o
      FROM v GROUP BY 1, 2
    ), rt AS (
      SELECT row_key, sum(o)::BIGINT AS row_tot FROM cells GROUP BY 1
    ), ct AS (
      SELECT col_key, sum(o)::BIGINT AS col_tot FROM cells GROUP BY 1
    ), nn AS (
      SELECT sum(o)::BIGINT AS n FROM cells
    )
    SELECT rt.row_key, ct.col_key, coalesce(cells.o, 0)::BIGINT AS o,
           rt.row_tot, ct.col_tot, nn.n,
           (nn.n::HUGEINT * coalesce(cells.o, 0)
              - rt.row_tot::HUGEINT * ct.col_tot)::DECIMAL(38,0) AS det
    FROM rt CROSS JOIN ct CROSS JOIN nn
    LEFT JOIN cells ON cells.row_key = rt.row_key
                   AND cells.col_key = ct.col_key
    """,
)
def stats_chisq(spark, sf_dir):
    """Chi-square contingency decomposition (functions/regress.py::
    chisq_sums) of event_type x hour-of-day — the feature-vs-label
    independence screen as exact integer determinants
    det = n·o − row_tot·col_tot over the FULL category grid (absent
    cells emitted with o=0: their expected counts belong in chi²).
    Hour derives from epoch integer division, never an engine-local
    calendar. One data-scale hash aggregate; marginals and the grid
    come from the cell table (category-cardinality scale). chi² and
    Cramér's V are read-time floats (chisq_eval), outside the hash
    compare."""
    from kgforge.functions.regress import chisq_sums

    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    d = ev.select(
        "event_type",
        F.expr(
            "(unix_micros(cast(ts as timestamp)) div 3600000000) % 24"
        ).alias("hour"),
    )
    return chisq_sums(d, "event_type", "hour")


@_q(
    "graph_assortativity",
    """
    WITH und AS (
      SELECT DISTINCT l_suppkey AS a, l_partkey + 10000000 AS b
      FROM lineitem
    ), o AS (
      SELECT a AS u, b AS v FROM und
      UNION ALL SELECT b AS u, a AS v FROM und
    ), deg AS (
      SELECT u, count(*)::BIGINT AS deg FROM o GROUP BY u
    ), s AS (
      SELECT du.deg::HUGEINT AS x, dv.deg::HUGEINT AS y
      FROM o JOIN deg du ON du.u = o.u JOIN deg dv ON dv.u = o.v
    ), a2 AS (
      SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM s
    )
    SELECT n, sx::DECIMAL(38,0) AS sx, sy::DECIMAL(38,0) AS sy,
           (n::HUGEINT * sxy - sx * sy)::DECIMAL(38,0) AS slope_num,
           (n::HUGEINT * sxx - sx * sx)::DECIMAL(38,0) AS slope_den,
           (n::HUGEINT * syy - sy * sy)::DECIMAL(38,0) AS syy_det
    FROM a2
    """,
)
def graph_assortativity(spark, sf_dir):
    """Degree assortativity of the supplier-part bipartite graph
    (plans/graph_query.py::degree_assortativity) — Newman's r as exact
    integer DETERMINANTS, by delegating to functions/regress.py::
    linfit_sums over the (deg(u), deg(v)) edge-endpoint samples (both
    orientations, the symmetric Pearson form). Part ids are offset by
    1e7 so the two key spaces are disjoint. ONE row of six integers;
    the float r = slope_num / sqrt(slope_den·syy_det) is read-time.
    Bipartite graphs are disassortative here (hub suppliers attach to
    low-degree parts): slope_num < 0 at both SFs, non-vacuous."""
    from kgforge.plans.graph_query import degree_assortativity

    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + F.lit(10_000_000)).alias("dst"),
    )
    return degree_assortativity(e)


@_q(
    "graph_reciprocity",
    """
    WITH e AS (
      SELECT DISTINCT l_partkey % 50 AS src, l_suppkey % 50 AS dst
      FROM lineitem
    ), s AS (
      SELECT * FROM e WHERE src <> dst
    ), r AS (
      SELECT * FROM s
      WHERE EXISTS (SELECT 1 FROM s t
                    WHERE t.src = s.dst AND t.dst = s.src)
    )
    SELECT (SELECT count(*) FROM s)::BIGINT AS n_edges,
           (SELECT count(*) FROM r)::BIGINT AS n_reciprocated,
           (SELECT count(*) FROM e WHERE src = dst)::BIGINT AS n_self_loops
    """,
)
def graph_reciprocity(spark, sf_dir):
    """Directed reciprocity counts (plans/graph_query.py::
    reciprocity_counts) over a folded lineitem graph (partkey%50 ->
    suppkey%50): ONE row (n_edges, n_reciprocated, n_self_loops), the
    NetworkX `reciprocity` decomposition with the float ratio left to
    read time. The residue fold makes mutual pairs and self-loops
    genuinely present at both SFs (supplier residues 1..10 overlap the
    part residue range) — a raw bipartite key graph would make the
    gate vacuously zero. Scale shape: reversed-key LEFT SEMI self-join
    existence probe, never a row multiplication."""
    from kgforge.plans.graph_query import reciprocity_counts

    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        (F.col("l_partkey") % 50).alias("src"),
        (F.col("l_suppkey") % 50).alias("dst"),
    )
    return reciprocity_counts(e)


@_q(
    "graph_link_prediction",
    """
    WITH e AS (
      SELECT DISTINCT l_suppkey AS a, l_partkey + 10000000 AS b
      FROM lineitem
    ), adj AS (
      SELECT a AS src, b AS dst FROM e
      UNION ALL SELECT b AS src, a AS dst FROM e
    ), hot AS (
      SELECT dst FROM adj GROUP BY dst HAVING count(*) > 50
    ), adj2 AS (
      SELECT * FROM adj ANTI JOIN hot USING (dst)
    ), deg AS (
      SELECT src, count(*)::BIGINT AS deg FROM adj2 GROUP BY src
    ), pairs AS (
      SELECT x.src AS a, y.src AS b, count(*)::BIGINT AS common
      FROM adj2 x JOIN adj2 y ON x.dst = y.dst AND x.src < y.src
      GROUP BY 1, 2 HAVING count(*) >= 3
    ), cand AS (
      SELECT p.* FROM pairs p
      ANTI JOIN e ON e.a = p.a AND e.b = p.b
    )
    SELECT c.a::BIGINT AS a, c.b::BIGINT AS b, c.common,
           da.deg AS deg_a, db.deg AS deg_b
    FROM cand c
    JOIN deg da ON da.src = c.a JOIN deg db ON db.src = c.b
    ORDER BY a, b
    """,
)
def graph_link_prediction(spark, sf_dir):
    """Common-neighbor link prediction (plans/graph_query.py::
    link_prediction_scores) on the supplier-part bipartite graph:
    candidates are distance-2 pairs (suppliers sharing >= 3 parts —
    the KG-completion "suggest missing SIMILAR_TO edges" shape), with
    the all-BIGINT (a, b, common, deg_a, deg_b) decomposition; CN /
    Jaccard / preferential-attachment scores derive at read time.
    max_degree=50 drops supplier-side wedge centers at BOTH SFs
    (suppliers carry hundreds of distinct parts; parts carry tens of
    suppliers), so candidates flow through part centers only and the
    cap is non-vacuous on the real data path; the oracle replays the
    cap, the wedge join, and the existing-edge anti-join. (On a
    bipartite graph the anti-join filters nothing — same-side pairs
    are never edges; the exclusion semantics are pinned in
    tests/test_graph_analytics.py::test_link_prediction_excludes_
    existing_edges on a unipartite fixture.)"""
    from kgforge.plans.graph_query import link_prediction_scores

    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + F.lit(10_000_000)).alias("dst"),
    )
    out = link_prediction_scores(e, min_common=3, max_degree=50)
    return out.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        "common",
        "deg_a",
        "deg_b",
    ).orderBy("a", "b")


@_q(
    "graph_eccentricity",
    """
    WITH RECURSIVE chain AS (
      SELECT n_name AS src,
             lead(n_name) OVER (
               PARTITION BY n_regionkey ORDER BY n_nationkey
             ) AS dst
      FROM nation
    ), pairs AS (
      SELECT src, dst FROM chain WHERE dst IS NOT NULL
      UNION ALL
      SELECT dst, src FROM chain WHERE dst IS NOT NULL
    ), walk(lm, id, d) AS (
      SELECT n_name, n_name, 0 FROM nation
      UNION
      SELECT w.lm, p.dst, w.d + 1
      FROM walk w JOIN pairs p ON p.src = w.id WHERE w.d < 8
    ), md AS (
      SELECT lm, id, min(d) AS d FROM walk GROUP BY lm, id
    )
    SELECT lm AS nation, max(d)::BIGINT AS ecc,
           (count(*) FILTER (WHERE d > 0))::BIGINT AS n_reached
    FROM md GROUP BY lm ORDER BY nation
    """,
)
def graph_eccentricity(spark, sf_dir):
    """Bounded eccentricity per node (graph_query.eccentricity, r5
    s8) — the iFUB/diameter-estimation building block: ecc(v) = max BFS
    distance from v; max over nodes lower-bounds the diameter. Same
    per-region nation-chain fixture and landmark-parallel BFS as
    graph_closeness (one equi-join per level serves ALL landmarks), so
    distances genuinely span 1..4 hops per region; the gate returns the
    all-BIGINT (ecc, n_reached) pair and the derived diameter/radius
    (graph_query.diameter_bound) stays driver-side. Oracle = the same
    recursive-CTE min-distance enumeration aggregated with max."""
    from pyspark.sql import Window

    from kgforge.plans.graph_query import eccentricity

    nation = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    chain = nation.select(
        F.col("n_name").alias("src"), F.lead("n_name").over(w).alias("dst")
    ).filter(F.col("dst").isNotNull())
    edges = chain.unionByName(
        chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    landmarks = nation.select(F.col("n_name").alias("id"))
    out = eccentricity(edges, landmarks, max_hops=8)
    return out.select(
        F.col("id").alias("nation"), "ecc", "n_reached"
    ).orderBy("nation")


@_q(
    "graph_modularity",
    """
    WITH chain AS (
      SELECT n_name AS src,
             lead(n_name) OVER (
               PARTITION BY n_regionkey ORDER BY n_nationkey
             ) AS dst
      FROM nation
    ), pairs AS (
      SELECT src, dst FROM chain WHERE dst IS NOT NULL
      UNION ALL
      SELECT dst, src FROM chain WHERE dst IS NOT NULL
    ), lab AS (
      SELECT n_name AS id, (n_nationkey % 3)::BIGINT AS community
      FROM nation
    ), b AS (
      SELECT ls.community AS src_c, ld.community AS dst_c
      FROM pairs p
      JOIN lab ls ON ls.id = p.src
      JOIN lab ld ON ld.id = p.dst
    ), m AS (
      SELECT count(*)::BIGINT AS two_m FROM b
    ), deg AS (
      SELECT src_c AS community, count(*)::BIGINT AS degree_sum
      FROM b GROUP BY src_c
    ), i AS (
      SELECT src_c AS community, count(*)::BIGINT AS internal
      FROM b WHERE src_c = dst_c GROUP BY src_c
    )
    SELECT d.community,
           COALESCE(i.internal, 0)::BIGINT AS internal,
           d.degree_sum,
           (COALESCE(i.internal, 0) * m.two_m
            - d.degree_sum * d.degree_sum)::BIGINT AS contrib_num
    FROM deg d LEFT JOIN i ON i.community = d.community CROSS JOIN m
    ORDER BY d.community
    """,
)
def graph_modularity(spark, sf_dir):
    """Newman modularity decomposition (graph_query.modularity_parts, r5
    s8): per-community (internal, degree_sum, contrib_num) over the
    symmetrized nation chains with community = nationkey % 3 — a
    DELIBERATELY chain-splitting assignment so internal < degree_sum in
    every community (communities == regions would make the two columns
    always equal and a swap bug invisible). contrib_num = internal·2m −
    degree_sum² is the (2m)²-cross-multiplied BIGINT numerator of Q
    (the closeness/betweenness float-out-of-hash discipline); Q itself =
    Σ contrib_num / (2m)² derives at read time
    (graph_query.modularity_score). Shape: two broadcast-eligible label
    equi-joins + two counts — no all-pairs work."""
    from pyspark.sql import Window

    from kgforge.plans.graph_query import modularity_parts

    nation = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    chain = nation.select(
        F.col("n_name").alias("src"), F.lead("n_name").over(w).alias("dst")
    ).filter(F.col("dst").isNotNull())
    edges = chain.unionByName(
        chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = nation.select(
        F.col("n_name").alias("id"),
        (F.col("n_nationkey") % 3).cast("long").alias("community"),
    )
    out = modularity_parts(edges, labels)
    return out.orderBy("community")


@_q(
    "text_phrase_search",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ), tok AS (
      SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
      FROM toks
    ), ph(phrase, i, n, w) AS (
      VALUES ('table scan', 0, 2, 'table'), ('table scan', 1, 2, 'scan'),
             ('hash join', 0, 2, 'hash'), ('hash join', 1, 2, 'join'),
             ('table scan merge', 0, 3, 'table'),
             ('table scan merge', 1, 3, 'scan'),
             ('table scan merge', 2, 3, 'merge')
    ), m AS (
      SELECT p.phrase, p.n, t.doc_id, t.pos - p.i AS start, p.i
      FROM tok t JOIN ph p ON p.w = t.w
    ), hit AS (
      SELECT phrase, doc_id, start FROM m
      GROUP BY phrase, n, doc_id, start HAVING count(DISTINCT i) = n
    )
    SELECT phrase, doc_id, count(*)::BIGINT AS n_hits,
           min(start)::BIGINT AS first_pos
    FROM hit GROUP BY phrase, doc_id ORDER BY phrase, doc_id
    """,
)
def text_phrase_search(spark, sf_dir):
    """Exact-phrase retrieval over positional postings
    (functions/retrieval.py::phrase_search, r5 s8): each token
    occurrence equal to phrase term i votes for anchor (doc, pos−i);
    anchors collecting all n distinct i's are hits — the Lucene
    positional-query evaluation as two hash aggregates, with the token
    stream filtered to the phrase's terms at the SCAN (never a full
    corpus substring pass). Three phrases in one gate: two bigrams with
    corpus-wide hits at both SFs plus the trigram 'table scan merge'
    (1-5 docs — pins the n≥3 distinct-i logic non-vacuously). Oracle
    replays the vote/anchor shape via generate_subscripts."""
    from kgforge.functions.retrieval import phrase_search

    docs = _t(spark, sf_dir, "documents")
    outs = []
    for ph in ["table scan", "hash join", "table scan merge"]:
        outs.append(
            phrase_search(docs, ph).withColumn("phrase", F.lit(ph))
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select("phrase", "doc_id", "n_hits", "first_pos").orderBy(
        "phrase", "doc_id"
    )


@_q(
    "layout_compaction",
    """
    WITH f AS (
      SELECT 'f' || lpad((doc_id // 50)::VARCHAR, 6, '0') AS path,
             sum(length(text))::BIGINT AS bytes
      FROM documents GROUP BY 1
    ), c AS (
      SELECT path, bytes,
             COALESCE(sum(bytes) OVER (
               ORDER BY path
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS prior
      FROM f
    )
    SELECT path, bytes, (prior // 40000)::BIGINT AS bin
    FROM c ORDER BY path
    """,
)
def layout_compaction(spark, sf_dir):
    """Small-file compaction planning (sinks/compact.py::plan_bins, r5
    s8) — the Iceberg rewriteDataFiles/OPTIMIZE bin-packing math as
    SQL-replayable expressions: files in path order, bin = prior running
    bytes div target (greedy next-fit; a boundary-straddling file joins
    the earlier bin). The prefix sum is the two-phase distributed
    `sharding._prior_running` (one row per PARTITION to the driver — no
    global single-partition window). Fixture = a simulated manifest (10
    'files' of 50 documents each, bytes = summed text lengths) so the
    gate is data-driven at both SFs; the real file mover
    (compact_parquet: broadcast manifest join on input_file_name, one
    shuffle keyed on bin, exactly one output file per bin) is pinned on
    real parquet files in tests/test_compact.py."""
    from kgforge.sinks.compact import plan_bins

    docs = _t(spark, sf_dir, "documents")
    files = docs.groupBy(
        F.concat(
            F.lit("f"),
            F.lpad(F.expr("doc_id div 50").cast("string"), 6, "0"),
        ).alias("path")
    ).agg(F.sum(F.length("text")).cast("long").alias("bytes"))
    out = plan_bins(files, 40000)
    return out.select("path", "bytes", "bin").orderBy("path")


@_q(
    "embedding_pq_codes",
    """
    WITH q AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             floor(unnest(embedding) * 8)::BIGINT AS x
      FROM embeddings
    ), cb_ids AS (
      SELECT vec_id AS cid,
             row_number() OVER (
               ORDER BY md5('pq|' || vec_id::VARCHAR), vec_id
             ) - 1 AS r
      FROM embeddings
      QUALIFY r < 8
    ), cb AS (
      SELECT c.r, q.i, q.x FROM cb_ids c JOIN q ON q.vec_id = c.cid
    ), d AS (
      SELECT q.vec_id, q.i // 8 AS sub, cb.r,
             sum((q.x - cb.x) * (q.x - cb.x))::BIGINT AS dist
      FROM q JOIN cb ON cb.i = q.i
      GROUP BY 1, 2, 3
    )
    SELECT vec_id, sub::BIGINT AS sub, r::BIGINT AS code, dist
    FROM d
    QUALIFY row_number() OVER (
      PARTITION BY vec_id, sub ORDER BY dist, r
    ) = 1
    ORDER BY vec_id, sub
    """,
)
def embedding_pq_codes(spark, sf_dir):
    """Product quantization (embeddings.pq_fit/pq_encode, r5 s8) — the
    billion-vector compression path (Jégou et al.): 64-dim vectors ->
    8 subspace codes against an 8-centroid codebook. The codebook is the
    8 rows with smallest md5('pq|'||vec_id) (deterministic draw, no
    engine RNG — the random_walks discipline) and vectors are quantized
    floor(x*8) (exponent shift, exact in any float width — the
    embedding_covariance craft), so assignment distances are exact
    BIGINTs and argmin ties break to the smallest centroid rank:
    cross-engine row-for-row replayable. Spark side is pure flat
    expression arithmetic (no joins, no Python — the codebook rides as
    literals); the oracle replays the draw, the quantization, and the
    argmin via a positional self-join. ADC query scoring over the codes
    (pq_adc_scores m×k lookup table) is pinned vs an independent Python
    replay in tests/test_embeddings.py."""
    from kgforge.functions.embeddings import pq_encode, pq_fit

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_fit(emb, m=8, k=8)
    out = pq_encode(emb, cb)
    return out.select(
        "vec_id",
        F.col("sub").cast("long"),
        F.col("code").cast("long"),
        F.col("dist").cast("long"),
    ).orderBy("vec_id", "sub")


@_q(
    "tar_ingest",
    """
    SELECT source || '/' || doc_id::VARCHAR || '.txt' AS member,
           length(text)::BIGINT AS size,
           md5(text) AS text_md5
    FROM documents WHERE text IS NOT NULL
    ORDER BY member
    """,
)
def tar_ingest(spark, sf_dir):
    """Tar-archive ingest round trip (sources/tar.py, r5 s8) — the
    warc_ingest pattern for the tarball leg of the loader family:
    documents rows become members ('<source>/<doc_id>.txt') of 4
    deterministic gzipped tarballs (build_tar pins mtime/uid to 0),
    re-ingested DISTRIBUTED (binaryFile -> stdlib tarfile in
    mapInPandas, one task per archive) and md5-compared against
    expectations the oracle computes straight from the table — the
    parser under test never sees the table. Member sizes ride along so
    truncation would break two columns."""
    import os

    from kgforge.sources.tar import build_tar, tar_text_documents

    rows = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "source", "text")
        .collect()
    )
    out_dir = f"/root/repo/.work/tar_gate/{os.path.basename(sf_dir)}"
    os.makedirs(out_dir, exist_ok=True)
    shards: dict[int, list] = {i: [] for i in range(4)}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        shards[r["doc_id"] % 4].append(
            (
                f"{r['source']}/{r['doc_id']}.txt",
                r["text"].encode("utf-8"),
            )
        )
    paths = []
    for i, members in shards.items():
        p = f"{out_dir}/part{i}.tar.gz"
        with open(p, "wb") as f:
            f.write(build_tar(members, gz=True))
        paths.append(p)
    docs = tar_text_documents(spark, paths)
    return docs.select(
        "member",
        F.length(F.col("text")).cast("long").alias("size"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
    ).orderBy("member")


@_q(
    "ann_pq_adc_topk",
    """
    WITH q AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             floor(unnest(embedding) * 8)::BIGINT AS x
      FROM embeddings
    ), cb_ids AS (
      SELECT vec_id AS cid,
             row_number() OVER (
               ORDER BY md5('pq|' || vec_id::VARCHAR), vec_id
             ) - 1 AS r
      FROM embeddings
      QUALIFY r < 8
    ), cb AS (
      SELECT c.r, q.i, q.x FROM cb_ids c JOIN q ON q.vec_id = c.cid
    ), d AS (
      SELECT q.vec_id, q.i // 8 AS sub, cb.r,
             sum((q.x - cb.x) * (q.x - cb.x))::BIGINT AS dist
      FROM q JOIN cb ON cb.i = q.i
      GROUP BY 1, 2, 3
    ), codes AS (
      SELECT vec_id, sub, r AS code
      FROM d
      QUALIFY row_number() OVER (
        PARTITION BY vec_id, sub ORDER BY dist, r
      ) = 1
    ), lut AS (
      SELECT cb.i // 8 AS sub, cb.r,
             sum((qq.x - cb.x) * (qq.x - cb.x))::BIGINT AS w
      FROM cb JOIN q qq ON qq.vec_id = 7 AND qq.i = cb.i
      GROUP BY 1, 2
    )
    SELECT c.vec_id, sum(l.w)::BIGINT AS adc_dist
    FROM codes c JOIN lut l ON l.sub = c.sub AND l.r = c.code
    GROUP BY c.vec_id
    ORDER BY adc_dist, vec_id
    LIMIT 20
    """,
)
def ann_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance top-k (embeddings.pq_adc_scores, r5 s8)
    — the first ORACLE-EXACT ANN gate (the brute/LSH/IVF gates are
    rows-only + recall pytest, because float cosine sums are
    order-sensitive; PQ's integer quantization makes the entire search
    cross-engine exact). Query = vec_id 7's vector; its m×k distance
    table is folded into element_at lookups on the Spark side (scoring
    is one expression scan + a per-id sum — no joins over raw vectors),
    while the oracle recomputes the table relationally from the same
    codebook CTE. Ties break (adc_dist, vec_id) so top-20 is
    deterministic. Note the query vector itself is in the corpus: its
    own code reconstruction need not be at distance 0 (sampled
    codebook), which the gate inherently cross-checks."""
    from kgforge.functions.embeddings import (
        pq_adc_scores,
        pq_encode,
        pq_fit,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_fit(emb, m=8, k=8)
    codes = pq_encode(emb, cb)
    query = list(
        emb.filter(F.col("vec_id") == 7).select("embedding").first()[0]
    )
    out = pq_adc_scores(codes, cb, query)
    return (
        out.select("vec_id", F.col("adc_dist").cast("long"))
        .orderBy("adc_dist", "vec_id")
        .limit(20)
    )


@_q(
    "graph_feature_prop",
    """
    WITH chain AS (
      SELECT n_name AS src,
             lead(n_name) OVER (
               PARTITION BY n_regionkey ORDER BY n_nationkey
             ) AS dst
      FROM nation
    ), pairs AS (
      SELECT src, dst FROM chain WHERE dst IS NOT NULL
      UNION ALL
      SELECT dst, src FROM chain WHERE dst IS NOT NULL
    ), f0 AS (
      SELECT n_name AS id, n_nationkey::BIGINT AS f_sum,
             1::BIGINT AS f_cnt
      FROM nation
    ), s1 AS (
      SELECT n.n_name AS id,
             COALESCE(sum(f.f_sum), 0)::BIGINT AS f_sum,
             COALESCE(sum(f.f_cnt), 0)::BIGINT AS f_cnt
      FROM nation n
      LEFT JOIN pairs p ON p.dst = n.n_name
      LEFT JOIN f0 f ON f.id = p.src
      GROUP BY 1
    ), s2 AS (
      SELECT n.n_name AS id,
             COALESCE(sum(f.f_sum), 0)::BIGINT AS f_sum,
             COALESCE(sum(f.f_cnt), 0)::BIGINT AS f_cnt
      FROM nation n
      LEFT JOIN pairs p ON p.dst = n.n_name
      LEFT JOIN s1 f ON f.id = p.src
      GROUP BY 1
    )
    SELECT id AS nation, f_sum, f_cnt FROM s2 ORDER BY nation
    """,
)
def graph_feature_prop(spark, sf_dir):
    """GNN-style 2-round neighborhood aggregation
    (graph_query.feature_propagation, r5 s8) over the symmetrized
    nation chains, feature = nationkey. State per round is the exact
    BIGINT (sum, support-count) pair — the mean aggregator of
    GraphSAGE/SGC derives at read time, keeping float division OUT of
    the iterated state (the pagerank-fixed-point discipline). One
    equi-join + one hash aggregate per round; the oracle unrolls both
    rounds as LEFT-JOIN aggregates so empty in-neighborhoods pin the
    zero-out semantics (chain endpoints after round 1 never hit zero,
    but f_cnt varies 1..2 per round — interior vs endpoint — so the
    support arithmetic is load-bearing)."""
    from pyspark.sql import Window

    from kgforge.plans.graph_query import feature_propagation

    nation = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    chain = nation.select(
        F.col("n_name").alias("src"), F.lead("n_name").over(w).alias("dst")
    ).filter(F.col("dst").isNotNull())
    edges = chain.unionByName(
        chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    feats = nation.select(
        F.col("n_name").alias("id"), F.col("n_nationkey").alias("f")
    )
    out = feature_propagation(edges, feats, n_rounds=2)
    return out.select(
        F.col("id").alias("nation"), "f_sum", "f_cnt"
    ).orderBy("nation")


@_q(
    "crawl_schedule",
    f"""
    WITH f AS (
      SELECT 'https://' || source || '/doc/' || doc_id::VARCHAR AS url,
             source AS host
      FROM documents
    ), hm AS (
      SELECT url, host, md5('fr|' || host) AS h FROM f
    ), x AS (
      SELECT url, host, ({_HEX12_POLY}) AS hv,
             row_number() OVER (PARTITION BY host ORDER BY url) - 1
               AS slot
      FROM hm
    )
    SELECT url, host, (hv % 4)::BIGINT AS worker, slot::BIGINT AS slot,
           ((hv % 30) + slot * 30)::BIGINT AS fetch_offset_s
    FROM x ORDER BY url
    """,
)
def crawl_schedule(spark, sf_dir):
    """Crawl-frontier politeness scheduling
    (sources/frontier.py::schedule_frontier, r5 s8) — the Mercator/
    Heritrix host-partitioned plan as pure expressions: worker =
    md5-hash(host) mod workers (host affinity — politeness becomes
    worker-local), slot = URL-ordered queue position per host,
    fetch_offset = host phase (hash mod delay — de-synchronizes hosts)
    + slot·delay. One window over one host-keyed shuffle; no RNG, so
    the oracle replays the schedule row-for-row with the 12-hex strpos
    polynomial. Frontier = one URL per document against its source
    host, 4 workers / 30 s delay."""
    from kgforge.sources.frontier import schedule_frontier

    docs = _t(spark, sf_dir, "documents")
    frontier = docs.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit("/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.col("source").alias("host"),
    )
    out = schedule_frontier(frontier, n_workers=4, delay_s=30)
    return out.orderBy("url")


_N2V_STEP_SQL = """
    , c{j} AS (
      SELECT s.walk_id, s.start, s.prev, s.cur, s.route, p.dst,
             CASE WHEN s.prev IS NULL THEN 1
                  WHEN p.dst = s.prev THEN 1
                  WHEN EXISTS (SELECT 1 FROM pairs x
                               WHERE x.src = s.prev AND x.dst = p.dst)
                    THEN 2
                  ELSE 4 END AS w
      FROM s{j} s JOIN pairs p ON p.src = s.cur
    ), t{j} AS (
      SELECT *, sum(w) OVER (PARTITION BY walk_id ORDER BY dst
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum,
             sum(w) OVER (PARTITION BY walk_id) AS tot,
             md5('kgforge|' || walk_id || '|{j}') AS h
      FROM c{j}
    ), u{j} AS (
      SELECT *, (({poly}) % tot) AS u FROM t{j}
    ), s{j1} AS (
      SELECT walk_id, start, cur AS prev, dst AS cur,
             route || '->' || dst AS route
      FROM u{j} WHERE cum - w <= u AND u < cum
      UNION ALL
      SELECT walk_id, start, prev, cur, route FROM s{j} s
      WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.src = s.cur)
    )"""


@_q(
    "graph_node2vec_walks",
    """
    WITH pairs AS (
      SELECT a.n_name AS src, b.n_name AS dst
      FROM nation a JOIN nation b
        ON abs(a.n_nationkey - b.n_nationkey) IN (1, 2)
    ), s0 AS (
      SELECT n_name || '#' || w::VARCHAR AS walk_id, n_name AS start,
             NULL::VARCHAR AS prev, n_name AS cur, n_name AS route
      FROM nation, unnest(range(0, 2)) AS u(w)
    )"""
    + _N2V_STEP_SQL.format(j=0, j1=1, poly=_HEX12_POLY)
    + _N2V_STEP_SQL.format(j=1, j1=2, poly=_HEX12_POLY)
    + _N2V_STEP_SQL.format(j=2, j1=3, poly=_HEX12_POLY)
    + """
    SELECT walk_id, start, route FROM s3 ORDER BY walk_id
    """,
)
def graph_node2vec_walks(spark, sf_dir):
    """node2vec-biased walk corpus (graph_query.node2vec_walks, r5 s8):
    2 walks x 3 steps over the nationkey SKIP graph (i±1, i±2 — the
    graph_betweenness fixture, chosen because it has triangles, so ALL
    THREE 2nd-order weight classes fire: return=1, triangle-step
    common=2, far=4 — DFS-leaning). The hop is a deterministic
    inverse-CDF pick: dst-ordered cumulative integer weights, u =
    md5(seed|walk_id|step) 48-bit mod total — no engine RNG, which is
    exactly what lets the oracle unroll each step as a candidate
    CASE-classification (EXISTS against the edge set = the adjacency
    marker join) + window cumsum + range pick. Every Spark-side draw is
    additionally replayed hop-for-hop in pure Python in
    tests/test_graph_analytics.py."""
    from pyspark.sql import Window

    from kgforge.plans.graph_query import node2vec_walks

    nation = _t(spark, sf_dir, "nation")
    w = Window.orderBy("n_nationkey")
    legs = []
    for k in (1, 2):
        legs.append(
            nation.select(
                F.col("n_name").alias("src"),
                F.lead("n_name", k).over(w).alias("dst"),
            ).filter(F.col("dst").isNotNull())
        )
    fwd = legs[0].unionByName(legs[1])
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    out = node2vec_walks(
        edges, walk_len=3, n_walks=2, w_return=1, w_common=2, w_far=4
    )
    return out.select(
        "walk_id", "start", F.array_join("path", "->").alias("route")
    ).orderBy("walk_id")


@_q(
    "zip_ingest",
    """
    SELECT source || '/' || doc_id::VARCHAR || '.txt' AS member,
           length(text)::BIGINT AS size,
           md5(text) AS text_md5
    FROM documents WHERE text IS NOT NULL
    ORDER BY member
    """,
)
def zip_ingest(spark, sf_dir):
    """ZIP-archive ingest round trip (sources/ziparc.py, r5 s8) — the
    warc/tar pattern for the last archive leg: documents rows become
    members of 4 deterministic DEFLATE zips (build_zip pins DOS-epoch
    timestamps), re-ingested distributed (binaryFile -> stdlib zipfile
    in mapInPandas) and md5+size-compared against oracle expectations
    computed straight from the table."""
    import os

    from kgforge.sources.ziparc import build_zip, zip_text_documents

    rows = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "source", "text")
        .collect()
    )
    out_dir = f"/root/repo/.work/zip_gate/{os.path.basename(sf_dir)}"
    os.makedirs(out_dir, exist_ok=True)
    shards: dict[int, list] = {i: [] for i in range(4)}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        shards[r["doc_id"] % 4].append(
            (
                f"{r['source']}/{r['doc_id']}.txt",
                r["text"].encode("utf-8"),
            )
        )
    paths = []
    for i, members in shards.items():
        p = f"{out_dir}/part{i}.zip"
        with open(p, "wb") as f:
            f.write(build_zip(members, compress=True))
        paths.append(p)
    docs = zip_text_documents(spark, paths)
    return docs.select(
        "member",
        F.length(F.col("text")).cast("long").alias("size"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
    ).orderBy("member")


@_q(
    "cypher_with_distinct",
    """
    SELECT DISTINCT r.r_name AS region
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    ORDER BY region
    """,
)
def cypher_with_distinct(spark, sf_dir):
    """WITH DISTINCT at a stage boundary (r5 s8 — freezing behavior the
    executor supported incidentally): `WITH DISTINCT r.name AS region`
    collapses the 25 (nation, region) rows to 5 BEFORE the final
    projection — without the DISTINCT this query returns 25 rows, so
    the dedup is load-bearing, and the same collapse feeding an
    aggregate (count over the deduped relation) is pinned in
    tests/test_cypher_exec.py."""
    from kgforge.plans.cypher_exec import run_cypher

    nodes, edges = _nation_region_graph(spark, sf_dir)
    return run_cypher(
        "MATCH (n:Nation)-[:IN_REGION]->(r:Region) "
        "WITH DISTINCT r.name AS region "
        "RETURN region ORDER BY region",
        nodes,
        edges,
    )


@_q(
    "events_asof_nearest",
    """
    WITH b AS (
      SELECT l.event_id, l.user_id, l.ts AS lts,
             r.event_id AS pid, r.ts AS rts
      FROM (SELECT * FROM events WHERE event_type = 'signup') l
      ASOF LEFT JOIN
           (SELECT * FROM events WHERE event_type = 'purchase') r
        ON l.user_id = r.user_id AND l.ts >= r.ts
    ), f AS (
      SELECT l.event_id, r.event_id AS pid, r.ts AS rts
      FROM (SELECT * FROM events WHERE event_type = 'signup') l
      ASOF LEFT JOIN
           (SELECT * FROM events WHERE event_type = 'purchase') r
        ON l.user_id = r.user_id AND l.ts <= r.ts
    ), j AS (
      SELECT b.event_id, b.user_id, b.lts,
             CASE WHEN epoch_us(b.lts) - epoch_us(b.rts)
                       <= 259200000000 THEN b.pid END AS bpid,
             CASE WHEN epoch_us(b.lts) - epoch_us(b.rts)
                       <= 259200000000 THEN b.rts END AS brts,
             CASE WHEN epoch_us(f.rts) - epoch_us(b.lts)
                       <= 259200000000 THEN f.pid END AS fpid,
             CASE WHEN epoch_us(f.rts) - epoch_us(b.lts)
                       <= 259200000000 THEN f.rts END AS frts
      FROM b JOIN f ON f.event_id = b.event_id
    )
    SELECT event_id, user_id,
           CASE WHEN brts IS NOT NULL AND (frts IS NULL OR
                     epoch_us(lts) - epoch_us(brts)
                     <= epoch_us(frts) - epoch_us(lts))
                THEN bpid ELSE fpid END AS near_purchase,
           CASE WHEN brts IS NOT NULL AND (frts IS NULL OR
                     epoch_us(lts) - epoch_us(brts)
                     <= epoch_us(frts) - epoch_us(lts))
                THEN brts ELSE frts END AS ts_r
    FROM j ORDER BY event_id
    """,
)
def events_asof_nearest(spark, sf_dir):
    """Nearest-direction as-of join (operators/asof.py::asof_nearest,
    r5 s8) — pandas merge_asof direction='nearest' parity: each signup
    matches whichever purchase (same user) is closer in time within
    ±3 days, exact ties to the earlier row. Composition of the two
    union-sort directional passes (backward, then forward over its
    output — two Exchanges, zero joins) + one row-local CASE; the
    tolerance applies INSIDE each pass before the choice, so a nearer
    out-of-tolerance match can't shadow an in-tolerance one (the
    asymmetry is unit-pinned). Oracle = two native DuckDB ASOF joins +
    the same CASE."""
    from kgforge.operators.asof import asof_nearest

    ev = _t(spark, sf_dir, "events")
    out = asof_nearest(
        ev.where(F.col("event_type") == "signup")
        .select("event_id", "user_id", "ts"),
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.col("event_id").alias("near_purchase")),
        on="user_id",
        tolerance=3 * 86_400_000_000,
    )
    return out.select(
        "event_id", "user_id", "near_purchase_r", "ts_r"
    ).withColumnsRenamed(
        {"near_purchase_r": "near_purchase"}
    ).orderBy("event_id")


_CORE_STEP_SQL = """
    , h{j} AS (
      SELECT p.dst AS id, c.c AS cu
      FROM c{j} c JOIN pairs p ON p.src = c.id
    ), r{j} AS (
      SELECT id, cu,
             row_number() OVER (PARTITION BY id ORDER BY cu DESC) AS rk
      FROM h{j}
    ), c{j1} AS (
      SELECT n.n_name AS id, COALESCE(m.c, 0)::BIGINT AS c
      FROM nation n LEFT JOIN (
        SELECT id, max(least(rk, cu))::BIGINT AS c FROM r{j} GROUP BY id
      ) m ON m.id = n.n_name
    )"""


@_q(
    "graph_coreness",
    """
    WITH pairs AS (
      SELECT a.n_name AS src, b.n_name AS dst
      FROM nation a JOIN nation b
        ON abs(a.n_nationkey - b.n_nationkey) IN (1, 2)
    ), c0 AS (
      SELECT n.n_name AS id, COALESCE(d.c, 0)::BIGINT AS c
      FROM nation n LEFT JOIN (
        SELECT src AS id, count(*)::BIGINT AS c FROM pairs GROUP BY src
      ) d ON d.id = n.n_name
    )"""
    + _CORE_STEP_SQL.format(j=0, j1=1)
    + _CORE_STEP_SQL.format(j=1, j1=2)
    + """
    SELECT id AS nation, c FROM c2 ORDER BY nation
    """,
)
def graph_coreness(spark, sf_dir):
    """Full core decomposition (graph_query.coreness, r5 s8) —
    Montresor's distributed h-index iteration on the nationkey skip
    graph: c0 = degree, each round c(v) = H-index of neighbor values
    (one equi-join + one node-keyed window + one aggregate — the LPA
    per-round shape). Fixed 2 rounds is the cross-engine unroll
    contract (k_core/LPA discipline); the skip graph's end nodes have
    degrees 2..4, so the h-index genuinely tightens round over round
    (end-node values drop — non-vacuous at both SFs, same 25-node
    graph). Convergence to exact coreness (triangle+tail, K4, star
    collapse) is pytest-pinned."""
    from kgforge.plans.graph_query import coreness

    nation = _t(spark, sf_dir, "nation")
    from pyspark.sql import Window

    w = Window.orderBy("n_nationkey")
    legs = []
    for k in (1, 2):
        legs.append(
            nation.select(
                F.col("n_name").alias("src"),
                F.lead("n_name", k).over(w).alias("dst"),
            ).filter(F.col("dst").isNotNull())
        )
    fwd = legs[0].unionByName(legs[1])
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ids = nation.select(F.col("n_name").alias("id"))
    out = coreness(edges, ids, n_rounds=2)
    return out.select(F.col("id").alias("nation"), "c").orderBy("nation")


# =====================================================================
# driver-verification rotation (verdict r04 #1)
# =====================================================================
#
# The driver's CORRECTNESS artifact records 50 rows per round, in
# queries() emission order. This map freezes, per gate, the LATEST round
# whose artifact carries a green row for it (oracle rows count hash/
# schema/rows matches; declared rows-only gates count their rows check).
# queries() emits never-verified gates first, then stalest-first, so
# every gate reaches a driver artifact within two rounds. Regenerate
# with tools/verified_map.py after each round lands; VERIFIED.md is the
# human-readable twin.

_VERIFIED_ROUND: dict[str, int] = {
    "p1_filter_nonempty": 4,
    "p2_truncate": 4,
    "p3p5_sanitize": 4,
    "s5_chunk_docs": 4,
    "j1_resolve_3way": 4,
    "j4_anti_customers_no_orders": 4,
    "j5_semi_parts_in_lineitem": 4,
    "a1_last_event_per_user": 4,
    "a2_distinct_user_event": 4,
    "a3_langs_per_source": 4,
    "w1_top3_orders_per_segment": 4,
    "w2_sessionize_events": 4,
    "w3_session_agg": 4,
    "u1_union_nations": 4,
    "j9_connected_components": 4,
    "dedup_exact": 4,
    "dedup_jaccard": 4,
    "dedup_minhash": 4,
    "dedup_simhash": 4,
    "ann_cosine_topk": 4,
    "ann_lsh_topk": 4,
    "ann_ivf_topk": 4,
    "text_token_counts": 4,
    "text_quality": 4,
    "text_lang_id": 4,
    "text_fingerprint": 4,
    "text_repetition": 4,
    "text_zipf_quality": 4,
    "url_canonical_dedup": 4,
    "pii_scrub": 4,
    "corpus_hash_split": 4,
    "corpus_token_shards": 4,
    "corpus_stratified_sample": 4,
    "corpus_pack_sequences": 4,
    "dedup_incremental": 4,
    "cypher_union": 4,
    "cypher_node_props": 4,
    "cypher_percentile": 4,
    "cypher_math_fns": 4,
    "dedup_minhash_incremental": 4,
    "chunk_text_windows": 4,
    "events_asof_join": 4,
    "events_range_join": 4,
    "events_rollup_cascade": 4,
    "sketch_kmv_distinct": 4,
    "cypher_unwind_with": 4,
    "cypher_percentile_cont": 4,
    "cypher_stdev": 4,
    "warc_ingest": 4,
    "graph_kcore": 4,
    "q1_pricing_summary": 3,
    "q3_shipping_priority": 3,
    "q5_region_revenue": 3,
    "events_hourly_rollup": 3,
    "codec_extract_json": 3,
    "codec_normalize_date": 3,
    "skew_salted_agg": 3,
    "skew_replicated_join": 3,
    "bucketed_cocolated_join": 3,
    "graph_bfs_distances": 3,
    "graph_pagerank": 3,
    "graph_triangles": 3,
    "graph_weighted_sssp": 3,
    "graph_closeness": 3,
    "graph_lpa": 3,
    "graph_match_pattern": 3,
    "kg_triples_e2e": 3,
    "kg_entity_link": 3,
    "cypher_validate": 3,
    "dedup_embedding": 3,
    "curate_docs_audit": 3,
    "cypher_exec_agg": 3,
    "cypher_num_agg": 3,
    "cypher_var_length": 3,
    "kg_fixture_pr": 2,
    "media_features": 2,
}


def _rotation_order() -> list[str]:
    reg = list(QUERIES)
    return sorted(reg, key=lambda n: (_VERIFIED_ROUND.get(n, 0), reg.index(n)))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: QUERIES[n] for n in _rotation_order()}


def oracle_sql() -> dict[str, str]:
    return {n: ORACLES[n] for n in _rotation_order() if n in ORACLES}

"""Entity linking's candidate plan: one keyed blocking table, one self-join,
each pair scored once — checked against a pure-Python oracle, a Spark job
budget, a crash on dot-only tokens and the session cache after a build."""

import random
import re
import uuid
from collections import Counter, defaultdict

from kgforge.operators.link import (
    N_BANDS,
    N_HASHES,
    _minhash_sig,
    link_map,
    name_match_score,
)

# test_link_canon.test_link_map_clusters' alias fixture
ALIAS_ROWS = [
    ("Person", "Mona I."),
    ("Person", "Mona Ivanova"),
    ("Person", "MONA IVANOVA"),
    ("Person", "M. Ivanova"),
    ("Person", "Vera Ueda"),
    ("Person", "Rosa Xu"),
    ("Person", "Ingrid Xu"),
    ("Movie", "The Iron Tide"),
    ("Movie", "The Broken Tide"),
]


def test_score_dot_only_token_is_zero():
    # "." strips to "": compared as an initial it must not index past it
    assert name_match_score("Ann . Lee", "Ann K Lee") == 0.0
    assert name_match_score("Ann K Lee", "Ann . Lee") == 0.0
    assert name_match_score("Ann . Lee", "ann . lee") == 1.0


def test_link_map_survives_dot_only_token(spark):
    # the two names share an LSH band, so the pair reaches the scoring UDF
    mentions = spark.createDataFrame(
        [("Person", "Ann . Lee"), ("Person", "Ann K Lee")],
        "label string, key string",
    )
    got = {(r["key"], r["canon_key"]) for r in link_map(mentions).collect()}
    assert got == {("Ann . Lee", "Ann . Lee"), ("Ann K Lee", "Ann K Lee")}


def _oracle_link_map(mentions, max_bucket=10_000):
    """Plain-Python link_map: bands + skeleton blocking under one bucket cap,
    exact verification, best partner per name, union-find, most complete
    representative. Returns {(label, name): canon}."""
    freq = Counter(mentions)
    rows = N_HASHES // N_BANDS
    buckets = defaultdict(set)
    for label, name in freq:
        sig = _minhash_sig(name)
        for i in range(N_BANDS):
            buckets[(label, i, tuple(sig[i * rows : (i + 1) * rows]))].add(name)
        toks = re.split(r"\s+", name.strip(" ").lower())
        skel = "".join(t[:1] for t in toks) + f"|{len(toks)}"
        buckets[(label, "skel", skel)].add(name)

    pairs = set()
    for (label, *_), members in buckets.items():
        if len(members) > max_bucket:
            continue
        for a in members:
            for b in members:
                if a < b:
                    pairs.add((label, a, b))
    scored = [
        (label, a, b, s)
        for label, a, b in pairs
        if (s := name_match_score(a, b)) > 0.0
    ]

    cands = defaultdict(list)
    for label, a, b, s in scored:
        for m, c in ((a, b), (b, a)):
            if len(c) >= len(m):
                cands[(label, m)].append((-s, -freq[(label, c)], c))
    parent = {v: v for v in freq}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (label, m), cs in cands.items():
        best = min(cs)[2]
        parent[find((label, m))] = find((label, best))

    clusters = defaultdict(list)
    for v in freq:
        clusters[find(v)].append(v[1])
    out = {}
    for root, names in clusters.items():
        rep = max(names, key=lambda n: (len(n), n))
        for n in names:
            out[(root[0], n)] = rep
    return out


def test_link_map_matches_python_oracle(spark):
    from kgforge.sources.pages import generate_corpus

    corpus = generate_corpus(n_pages=40, seed=7, alias_frac=0.6)
    names = {(n["label"], n["key"]) for n in corpus.nodes}
    names |= {(a["label"], a["mention"]) for a in corpus.aliases}
    # repeated mentions, so the frequency tie-break is exercised too
    rng = random.Random(11)
    mentions = [nm for nm in sorted(names) for _ in range(rng.randint(1, 3))]
    want = _oracle_link_map(mentions)
    assert sum(k[1] != v for k, v in want.items()) >= 20  # alias-rich

    df = spark.createDataFrame(mentions, "label string, key string")
    got = {(r["label"], r["key"]): r["canon_key"] for r in link_map(df).collect()}
    assert got == want


def test_link_map_job_budget(spark):
    # one planning of the candidate pairs per link map: 34 jobs measured on
    # this fixture (local[8], 8 shuffle partitions); a plan that evaluates
    # the candidates once per consumer ran 89-91
    sc = spark.sparkContext
    mentions = spark.createDataFrame(ALIAS_ROWS, "label string, key string")
    group = f"link-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "link_map job budget")
    try:
        assert link_map(mentions).count() == len(ALIAS_ROWS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 40, jobs


def test_process_pages_leaves_no_cached_data(spark, workdir):
    from kgforge.kg import KnowledgeGraph
    from kgforge.sources.pages import (
        corpus_to_spark,
        generate_corpus,
        movies_ontology,
    )

    spark.catalog.clearCache()
    pages, _, _ = corpus_to_spark(spark, generate_corpus(n_pages=6, seed=3))
    out = KnowledgeGraph(spark, movies_ontology(), workdir).process_pages(pages)
    assert out["triples"].count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

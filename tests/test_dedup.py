"""Dedup operators: LSH recall vs brute-force truth, determinism, and
behavior on planted duplicates."""

import pytest
from pyspark.sql import functions as F

from azure_kusto_parquet_conv_spark.operators import dedup as D
from azure_kusto_parquet_conv_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def test_exact_dedup_finds_planted_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "Hello   WORLD"), (3, "unique text")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["n_copies"] for r in D.exact_dedup(df).collect()}
    # normalization folds case+whitespace: 1 and 2 are the same content
    assert out == {1: 2, 3: 1}


def test_minhash_recall_against_bruteforce(spark, docs):
    """Every true pair (trigram Jaccard >= 0.8) must be found by the
    MinHash-LSH pipeline; precision is guaranteed by the exact verify."""
    # brute-force trigram jaccard over all pairs (small at sf0.001)
    from azure_kusto_parquet_conv_spark.functions import text as X
    sh = docs.select("doc_id",
                     F.array_distinct(X.token_ngrams("text", 3)).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size(F.array_union("a.sh", "b.sh"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(0.0)
    truth = {(r["ia"], r["ib"])
             for r in pairs.select(F.col("a.doc_id").alias("ia"),
                                   F.col("b.doc_id").alias("ib"),
                                   jac.alias("j"))
                           .where(F.col("j") >= 0.8).collect()}
    found = {(r["id_a"], r["id_b"])
             for r in D.minhash_dedup_pairs(docs, threshold=0.8).collect()}
    assert truth, "fixture should contain at least one near-dup pair"
    missed = truth - found
    assert not missed, f"LSH missed {len(missed)}/{len(truth)} true pairs"
    assert found <= truth | found  # verified pairs all meet the threshold


def test_minhash_signatures_deterministic(spark, docs):
    s1 = {r["doc_id"]: r["signature"]
          for r in D.minhash_signatures(docs.limit(20)).collect()}
    s2 = {r["doc_id"]: r["signature"]
          for r in D.minhash_signatures(docs.limit(20)).collect()}
    assert s1 == s2


def test_simhash_identical_and_near_texts(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "the quick brown fox jumps over the lazy cat"),
         (4, "completely different words entirely here now")],
        "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in D.simhash_pairs(df, max_hamming=10).collect()}
    assert pairs.get((1, 2)) == 0          # identical -> distance 0
    assert (1, 4) not in pairs             # unrelated -> far apart
    assert (2, 4) not in pairs


def test_simhash_deterministic_across_runs(spark):
    df = spark.createDataFrame([(1, "alpha beta gamma delta")],
                               "doc_id long, text string")
    a = D.simhash_signatures(df).collect()[0]["simhash"]
    b = D.simhash_signatures(df).collect()[0]["simhash"]
    assert a == b != 0


def test_embedding_near_dup_finds_planted_pair(spark):
    base = [0.1 * i for i in range(8)]
    near = [v * 1.001 + 0.0001 for v in base]          # cosine ~ 1
    orth = [1.0, -1.0] * 4
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, orth)],
        "vec_id long, embedding array<float>")
    out = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in D.embedding_near_dup(df, threshold=0.99).collect()}
    assert (1, 2) in out and out[(1, 2)] >= 0.99
    assert all(k == (1, 2) for k in out)


def test_dedup_clusters_transitive_chain(spark):
    """a-b and b-c edges must put a,b,c in ONE cluster labeled min(id),
    even though a-c was never a pair; singletons label themselves."""
    ids = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (0, 4)], "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.dedup_clusters(ids, pairs).collect()}
    assert got == {0: 0, 4: 0, 1: 1, 3: 1, 5: 1, 2: 2}


def _components(ids, pairs):
    """Pure-Python union-find: each id -> the min id of its component,
    over the pairs whose two ends are both in ``ids``."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


@pytest.mark.parametrize("seed", range(12))
def test_dedup_clusters_random_differential(spark, seed):
    """dedup_clusters against union-find over seeded random graphs:
    ``ids`` covers a subset of the nodes, pair endpoints fall outside
    ``ids``, pairs come in both orientations and repeated, a cycle is
    planted, and seed 0 has no pairs at all."""
    import random

    rnd = random.Random(seed)
    n = rnd.randint(8, 40)
    nodes = list(range(n))
    ids = sorted(rnd.sample(nodes, rnd.randint(1, n)))
    outside = list(range(n, n + 5))
    pairs = [] if seed == 0 else [
        (rnd.choice(nodes + outside), rnd.choice(nodes))
        for _ in range(rnd.randint(1, 2 * n))]
    if pairs:
        pairs += [(b, a) for a, b in pairs[:3]] + pairs[:2]
        ring = rnd.sample(ids, min(len(ids), 4))
        pairs += list(zip(ring, ring[1:] + ring[:1]))
    rnd.shuffle(pairs)
    ids_df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pairs_df = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = D.dedup_clusters(ids_df, pairs_df, max_iter=n + 1).collect()
    assert len(out) == len(ids)
    assert {r["doc_id"]: r["cluster_id"] for r in out} == \
        _components(ids, pairs)


def test_dedup_clusters_raises_at_round_cap(spark):
    """On a 30-node path the labels change for 29 rounds. Under the
    default cap of 20 the labels are partial (9 nodes wrong), so the
    call must raise, naming the cap. max_iter counts every label-update
    round, the first included: 30 rounds converge (the 30th changes
    nothing), 29 do not."""
    ids = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    path = spark.createDataFrame([(i, i + 1) for i in range(29)],
                                 "id_a long, id_b long")
    with pytest.raises(D.ConvergenceError, match="max_iter=20"):
        D.dedup_clusters(ids, path).collect()
    with pytest.raises(D.ConvergenceError, match="max_iter=29"):
        D.dedup_clusters(ids, path, max_iter=29).collect()
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.dedup_clusters(ids, path, max_iter=30).collect()}
    assert got == {i: 0 for i in range(30)}


def test_minhash_pairs_stages_are_right_sized(spark, sf_dir):
    """The shingle sets and signatures minhash_dedup_pairs persists are
    shuffle outputs. Unless AQE may coalesce persisted plans, they stay
    at spark.sql.shuffle.partitions and every stage reading them runs
    that many tasks over a few hundred documents."""
    sc = spark.sparkContext
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    group = "test-minhash-stage-sizes"
    docs = load_table(spark, sf_dir, "documents")
    sc.setJobGroup(group, "minhash_dedup_pairs stage sizes")
    try:
        D.minhash_dedup_pairs(docs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    tasks = [info.numTasks for job in st.getJobIdsForGroup(group)
             for stage in st.getJobInfo(job).stageIds
             if (info := st.getStageInfo(stage)) is not None]
    assert tasks and n not in tasks, tasks


def test_peek_dim_distrusts_footer_for_aliased_column(spark, sf_dir):
    """If vec_col was ALIASED from a different expression, the on-disk
    column of the same name may have another width — the peek must fall
    back to the LIMIT-1 job instead of silently returning the footer
    width (r4 advice)."""
    from azure_kusto_parquet_conv_spark.operators.dedup import _peek_vector_dim
    from azure_kusto_parquet_conv_spark.sources.parquet import load_table

    e = load_table(spark, sf_dir, "embeddings")
    true_dim = len(e.select("embedding").first()[0])
    truncated = e.select(
        "vec_id", F.slice("embedding", 1, 4).alias("embedding"))
    assert _peek_vector_dim(truncated, "embedding") == 4 != true_dim
    # plan-transparent column still uses the footer (no regression)
    assert _peek_vector_dim(e, "embedding") == true_dim


def test_embedding_near_dup_dim_from_footer_not_limit1(spark, sf_dir):
    """For a parquet-backed input, the hyperplane dim must come from a
    driver-side footer peek — building the plan must not launch a
    LIMIT-1 Spark job (r3 advice; mirrors knn_lsh)."""
    from unittest.mock import patch

    from azure_kusto_parquet_conv_spark.sources.parquet import load_table

    e = load_table(spark, sf_dir, "embeddings")
    with patch.object(type(e), "first",
                      side_effect=AssertionError("LIMIT-1 job launched")):
        plan = D.embedding_near_dup(e, threshold=0.4)
    assert "cosine" in plan.columns  # plan built without touching first()


def test_minhash_incremental_matches_full_cross_pairs(spark, sf_dir):
    """Incremental dedup (new batch vs persisted corpus signature store)
    must report exactly the cross pairs the full self-join finds: same
    coeffs/seed -> identical band buckets -> identical candidates ->
    identical exact verification."""
    from azure_kusto_parquet_conv_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 4 != 0)
    batch = d.where(F.col("doc_id") % 4 == 0)

    corpus_sigs = D.minhash_signatures(corpus)  # the persisted store
    inc = D.minhash_dedup_incremental(batch, corpus_sigs, corpus,
                                      threshold=0.5)
    got = {(r["new_id"], r["corpus_id"], r["jaccard"])
           for r in inc.collect()}

    full = D.minhash_dedup_pairs(d, threshold=0.5)
    want = set()
    for r in full.collect():
        a, b = r["id_a"], r["id_b"]
        if (a % 4 == 0) != (b % 4 == 0):  # exactly one side in the batch
            new_id, cid = (a, b) if a % 4 == 0 else (b, a)
            want.add((new_id, cid, r["jaccard"]))
    assert got == want
    assert len(want) > 0, "fixture produced no cross near-dup pairs"


def test_minhash_incremental_broadcasts_new_side(spark, sf_dir):
    """The batch side must BROADCAST into the band bucket join — the
    corpus band table never shuffles (the whole point of the
    incremental flow at 100 TB)."""
    from azure_kusto_parquet_conv_spark.plans import join_strategies
    from azure_kusto_parquet_conv_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 4 != 0)
    batch = d.where(F.col("doc_id") % 4 == 0)
    inc = D.minhash_dedup_incremental(
        batch, D.minhash_signatures(corpus), corpus, threshold=0.5)
    assert "BroadcastHashJoin" in join_strategies(inc)


def test_dup_spans_finds_planted_shared_window(spark, sf_dir):
    """q_dup_spans: a 20-token span shared verbatim by two documents
    (at different offsets) must surface with n_docs = 2; a unique
    document contributes nothing."""
    from azure_kusto_parquet_conv_spark.queries import QUERIES

    shared = " ".join(f"w{i}" for i in range(20))
    # the stride is 10, so the shared span must start at a multiple
    # of 10 tokens to land exactly on a window: doc1 pads 10 fillers,
    # doc2 starts at 0
    pad10 = " ".join(f"pad{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, pad10 + " " + shared + " gamma delta epsilon zeta eta "
             "theta iota kappa"),
         (2, shared + " " + " ".join(f"x{i}" for i in range(15))),
         (3, " ".join(f"solo{i}" for i in range(40)))],
        "doc_id long, text string")
    import unittest.mock as mock
    with mock.patch(
            "azure_kusto_parquet_conv_spark.queries.load_table",
            return_value=df):
        out = QUERIES["q_dup_spans"](spark, "unused").collect()
    spans = {r["span"]: (r["n_docs"], r["n_occurrences"])
             for r in out}
    # doc1's window #1 (tokens 10..29) and doc2's window #0 are the
    # same TEXT -> one grouped row with both docs
    assert spans.get(shared) == (2, 2), spans
    assert all("solo" not in s for s in spans)


def test_canonical_keep_quality_then_min_id(spark, sf_dir):
    """canonical_keep: per cluster keep the highest-quality doc
    (quality beats id), tie-break smallest id, singletons pass
    through; and the plan carries WindowGroupLimit (rank pushdown —
    no full-cluster buffering at scale)."""
    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (20, 0.1)],
        "doc_id long, q double")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (20, 20)],
        "doc_id long, cluster_id long")
    out = D.canonical_keep(docs, clusters, quality_col="q")
    got = sorted((r["doc_id"], r["cluster_id"])
                 for r in out.collect())
    # cluster 1: quality 0.9 beats id 1's 0.2; tie 2 vs 3 -> min id 2
    assert got == [(2, 1), (10, 10), (20, 20)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    # no-quality mode: smallest id wins
    out2 = D.canonical_keep(docs, clusters)
    assert sorted(r["doc_id"] for r in out2.collect()) == [1, 10, 20]


def test_cut_dup_spans_hand_rows(spark):
    """Hand-sized cut semantics (span_len 4, stride 2): doc 2 repeats
    doc 1's 8-token text, so all of doc 2's windows duplicate doc 1's
    and every covered token of doc 2 is cut; doc 1 (the minimum-key
    first occurrences) keeps everything; a short doc (< span_len) is
    untouched; in-doc self-repetition cuts the second occurrence."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"),
         (2, "a b c d e f g h"),
         (3, "tiny doc"),
         # windows at 0/2/4/6: "p q r s","r s p q","p q r s",... ->
         # window 4 repeats window 0, so tokens 4..7 are cut
         (4, "p q r s p q r s p q")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_cut"], r["cleaned_head"])
           for r in D.cut_dup_spans(docs, span_len=4,
                                    stride=2).collect()}
    assert got[1] == (8, 0, "a b c d e f g h")
    assert got[2] == (8, 8, "")
    assert got[3] == (2, 0, "tiny doc")
    # doc 4: cut windows start at 4 and 6 -> tokens 4..9 cut
    assert got[4] == (10, 6, "p q r s")

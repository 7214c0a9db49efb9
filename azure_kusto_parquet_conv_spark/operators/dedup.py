"""Deduplication operators for LLM training-data pipelines.

Absent from the reference (SURVEY.md §2.4); mandated extensions. Every
variant is designed around the one property that matters at 100 TB: never
materialize the O(n^2) pair space. Candidate generation is always a
bucket/equi-join (LSH band, SimHash block, blocking key); only candidates
pay the exact-verification cost.

- exact_dedup           : hash-groupBy on a content fingerprint (1 shuffle)
- jaccard_pairs         : token-set Jaccard over *blocked* pairs
- minhash_signatures / minhash_lsh_candidates / minhash_dedup_pairs
                        : shingle -> k minhashes -> b bands -> bucket join
- simhash_signatures / simhash_pairs
                        : 64-bit SimHash via a vectorized pandas UDF,
                          Hamming-verified within 16-bit block buckets
- embedding_near_dup    : cosine >= threshold via random-hyperplane LSH

All hash functions are xxhash64 seeded deterministically, so results are
stable across runs and partitionings.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from azure_kusto_parquet_conv_spark.functions import text as X
from azure_kusto_parquet_conv_spark.functions import vectors as V
from azure_kusto_parquet_conv_spark.sources.parquet import rebalance

# Mersenne prime 2^61-1: the classic universal-hash modulus; keeps
# a*h+b arithmetic inside int64 after pmod-bounding h.
_MERSENNE = (1 << 61) - 1


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One representative (min id) per distinct normalized content.
    Single hash-shuffle on the md5 fingerprint; at scale the map-side
    partial aggregation collapses most duplicates before the shuffle."""
    return (df.groupBy(X.fingerprint_md5(text_col).alias("fingerprint"))
              .agg(F.min(id_col).alias(id_col),
                   F.count("*").alias("n_copies")))


def _blocked_pairs(t: DataFrame, block_col: str | None,
                   id_col: str) -> DataFrame:
    a, b = t.alias("a"), t.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    return a.join(b, cond)


def jaccard_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", threshold: float = 0.8,
                  block_col: str | None = None) -> DataFrame:
    """Token-set Jaccard >= threshold pairs. ``block_col`` restricts the
    pair space (e.g. language); for unblocked 100 TB input use
    ``minhash_dedup_pairs`` instead — this operator's equi-join on the
    block key is only as scalable as the block sizes."""
    t = df.select(F.col(id_col),
                  *( [F.col(block_col)] if block_col else [] ),
                  F.array_distinct(X.tokens(text_col)).alias("toks"))
    pairs = _blocked_pairs(t, block_col, id_col)
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (pairs.select(F.col(f"a.{id_col}").alias("id_a"),
                         F.col(f"b.{id_col}").alias("id_b"),
                         F.round(jac, 4).alias("jaccard"))
                 .where(F.col("jaccard") >= threshold))


def shingle_hash_sets(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", shingle_n: int = 3,
                      char_shingles: bool = False) -> DataFrame:
    """(id, distinct shingle-hash array) per document.

    Token shingles are hashed WITHOUT materializing the shingle strings:
    hash each token once, then combine n consecutive token hashes with
    xxhash64 via shifted-array ``zip_with`` — whole-array ops, no
    per-shingle string concat (the concat_ws(slice(...)) formulation
    allocates ~|tokens| strings per doc and measured 6x slower at sf0.1),
    and no shuffle: everything stays in the scan's narrow pipeline.
    MinHash/Jaccard only ever consume the shingle's hash, so the string
    itself is never needed.
    """
    df = rebalance(df)
    if char_shingles:
        sh = F.transform(X.char_ngrams(text_col, shingle_n),
                         lambda s: F.xxhash64(s))
    else:
        toks = X.tokens(text_col)
        th = F.transform(toks, lambda x: F.xxhash64(x))
        n = F.size(toks)
        z = th
        for i in range(1, shingle_n):
            shifted = F.slice(th, i + 1, F.greatest(n - i, F.lit(0)))
            z = F.zip_with(z, shifted, lambda a, b: F.xxhash64(a, b))
        # the trailing i entries combined a null pad; cut them off
        sh = F.when(n >= shingle_n,
                    F.slice(z, 1, F.greatest(n - (shingle_n - 1), F.lit(0)))
                    ).otherwise(F.array().cast("array<bigint>"))
    return df.select(F.col(id_col), F.array_distinct(sh).alias("shingles"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.6,
                        block_col: str | None = None) -> DataFrame:
    """Token n-gram (shingle) Jaccard >= threshold pairs over a blocked
    pair space — the order-sensitive sibling of ``jaccard_pairs`` (token
    SETS ignore word order; shingles catch it). String shingles here so
    the result is SQL-oracleable; the scale path is ``minhash_dedup_pairs``
    which never materializes either the strings or the O(n^2) pairs."""
    t = df.select(F.col(id_col),
                  *([F.col(block_col)] if block_col else []),
                  F.array_distinct(X.token_ngrams(text_col, n)).alias("sh"))
    pairs = _blocked_pairs(t, block_col, id_col)
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (pairs.select(F.col(f"a.{id_col}").alias("id_a"),
                         F.col(f"b.{id_col}").alias("id_b"),
                         F.round(jac, 4).alias("jaccard"))
                 .where(F.col("jaccard") >= threshold))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 64,
                       shingle_n: int = 3, char_shingles: bool = False,
                       seed: int = 42,
                       sets: DataFrame | None = None) -> DataFrame:
    """MinHash signature per document: shingle-hash -> per-hash-function
    min over the shingle set. Hash i is ``(a_i * h + b_i) mod 2^61-1``
    over the 31-bit-bounded shingle hash.

    Pass precomputed ``sets`` (the output of ``shingle_hash_sets`` with
    the same shingle_n, usually persisted) when the caller also needs
    the shingle sets for exact verification — it skips the second
    shingling pass over the text."""
    import random
    rnd = random.Random(seed)
    coeffs = [(rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
              for _ in range(num_hashes)]
    if sets is None:
        sets = shingle_hash_sets(df, text_col, id_col, shingle_n,
                                 char_shingles)
    # Explode shingle hashes to rows, then compute the num_hashes minimums
    # as plain hash aggregates. Higher-order-function folds (aggregate +
    # zip_with over a 64-wide array) are interpreted per element and
    # allocate per step; min() aggregates run in whole-stage codegen with
    # map-side partial aggregation, so the shuffle carries ~one row per
    # (doc, partition), not one per shingle (measured 5x faster at sf0.1).
    # h < 2^31 so (a mod 2^31) * h fits comfortably in int64
    # (ANSI-overflow-safe).
    hashed = sets.select(
        F.col(id_col),
        F.explode_outer("shingles").alias("__s"),
    ).select(
        F.col(id_col),
        F.pmod(F.col("__s"), F.lit(1 << 31)).alias("__h"),
    )
    a31s = [a % (1 << 31) for a, _ in coeffs]
    # empty shingle set (explode_outer null) -> sentinel MERSENNE, matching
    # the fold identity so short docs still get a well-defined signature.
    # Expressions are composed as SQL TEXT (one py4j round trip each, not
    # ~12 per hash function for the Column-algebra form): the 64-wide agg
    # list alone was ~800 driver RPCs ≈ 1.2 s PER QUERY BUILD (cProfile,
    # guide §7.3 driver-side planning cost). Spark parses the text to the
    # exact same expression tree, so results are bit-identical.
    mins = ", ".join(
        f"coalesce(min(pmod({a31} * __h + {b}, {_MERSENNE})), "
        f"CAST({_MERSENNE} AS BIGINT))"
        for a31, (_, b) in zip(a31s, coeffs))
    # one array-of-aggregates expression: physical planning extracts the
    # 64 min() aggregate functions exactly as the aliased-column form
    # does (partial/map-side aggregation unchanged) and assembles the
    # array in the aggregate's result projection — one parsed text
    # instead of 64+1 driver round trips.
    return hashed.groupBy(id_col).agg(
        F.expr(f"array({mins})").alias("signature"))


def _band_hashes(sig_len: int, bands: int) -> list[Column]:
    """One xxhash64 per band over (band index, the band's r signature
    longs) — numeric multi-arg tuple hash, no per-element string cast /
    concat (the old text form allocated r 19-digit strings per band per
    row; at 100 TB banding runs over every corpus signature). Candidate
    semantics are unchanged: two docs share a band iff their r
    signature values are equal, under either hashing, up to the same
    2^-64 collision class; verified output-identical at sf0.001/0.01/
    0.1 (exact verification filters candidates either way)."""
    rows = sig_len // bands
    cols = []
    for b in range(bands):
        parts = ", ".join(f"signature[{b * rows + i}]"
                          for i in range(rows))
        # SQL text (1 RPC per band, not rows+2): signature[i] is
        # 0-based GetArrayItem — same expression element_at(sig, i+1)
        # resolves to for a positive literal index.
        cols.append(F.expr(f"xxhash64({b}, {parts})"))
    return cols


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", threshold: float = 0.8,
                        num_hashes: int = 64, bands: int = 16,
                        shingle_n: int = 3, seed: int = 42) -> DataFrame:
    """Near-duplicate pairs: MinHash -> LSH banding -> bucket join ->
    exact shingle-set Jaccard verification of candidates only (Jaccard
    over the shingle HASH sets — identical to string-shingle Jaccard up
    to 2^-64 collisions, and reuses the hash arrays already computed).

    b=16, r=4 puts the S-curve threshold at (1/16)^(1/4) ~ 0.5, so recall
    at 0.8 similarity is ~1; precision comes from the exact verification.

    Signatures are persisted (memory-and-disk): the LSH self-join scans
    them once per side and exchange reuse does not fire across the join
    aliases, so without the persist the whole scan->shingle->agg chain
    runs twice. At scale this is the step a real pipeline materializes
    to storage anyway (signatures are ~num_hashes longs per doc, tiny
    next to the text).

    The corpus is shingled ONCE: the persisted shingle sets feed both
    the signature aggregation and the exact-verification joins (the
    same shared-pass fix the incremental variant got earlier — this
    path previously ran the full scan->normalize->shingle chain a
    second time just to re-derive the sets it already had).

    Both persisted frames are shuffle outputs. The session lets AQE
    coalesce persisted plans (``session._RUNTIME_CONFS``), so the stages
    that read them run as many tasks as their rows need, not
    ``spark.sql.shuffle.partitions``.
    """
    sets = shingle_hash_sets(df, text_col, id_col, shingle_n).persist()
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n,
                              seed=seed, sets=sets).persist()
    banded = sigs.select(
        F.col(id_col),
        F.explode(F.array(*_band_hashes(num_hashes, bands))).alias("band_hash"),
    )
    cand = (banded.alias("a")
            .join(banded.alias("b"),
                  (F.col("a.band_hash") == F.col("b.band_hash"))
                  & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())
    sh = sets.withColumnRenamed("shingles", "sh")
    withs = (cand
             .join(sh.select(F.col(id_col).alias("id_a"),
                             F.col("sh").alias("sh_a")), "id_a")
             .join(sh.select(F.col(id_col).alias("id_b"),
                             F.col("sh").alias("sh_b")), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (withs.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
                 .where(F.col("jaccard") >= threshold))


def minhash_dedup_incremental(new_df: DataFrame, corpus_sigs: DataFrame,
                              corpus_text: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              threshold: float = 0.8,
                              num_hashes: int = 64, bands: int = 16,
                              shingle_n: int = 3,
                              seed: int = 42) -> DataFrame:
    """Incremental near-dedup: match an INCOMING batch against an
    EXISTING corpus signature store (the production flow — a 100 TB
    corpus is signed once, persisted, and every new crawl/delivery
    dedups against the store without re-signing the corpus).

    ``corpus_sigs`` is the persisted output of ``minhash_signatures``
    over the corpus (same num_hashes/shingle_n/seed — the signature
    algebra must line up); ``corpus_text`` maps corpus ids to text for
    the exact-verification step. Only the new batch is signed here.
    Candidate generation is the LSH band bucket join with the NEW side
    broadcast (a batch is small next to the corpus, so the corpus
    band table never shuffles); exact shingle-Jaccard verification
    touches candidates only, and the corpus text is semi-joined down
    to candidate ids before shingling — the store scan is the only
    corpus-sized read.

    Returns (new_id, corpus_id, jaccard) pairs with jaccard >=
    threshold: identical to what the full self-join
    ``minhash_dedup_pairs`` would report for cross pairs (pinned by
    test)."""
    # One shingling pass over the batch, persisted: the sets feed BOTH
    # the signature aggregate and the exact verification join (without
    # this the batch text is shingled twice — measured ~0.6 s/pass at
    # sf0.1, and at 100 TB the batch scan is the dominant read).
    new_sets = shingle_hash_sets(new_df, text_col, id_col,
                                 shingle_n).persist()
    new_sigs = minhash_signatures(new_df, text_col, id_col, num_hashes,
                                  shingle_n, seed=seed, sets=new_sets)

    def banded(sigs, alias):
        return sigs.select(
            F.col(id_col).alias(alias),
            F.explode(F.array(*_band_hashes(num_hashes, bands)))
             .alias("band_hash"))

    # Materialize the candidate pairs ONCE: cand feeds BOTH the
    # corpus-text semi-join (via its broadcast build below) and the
    # verification join, and without the checkpoint the whole
    # corpus-sized band join + distinct ran twice per invocation (the
    # two subtrees group by different keys, so exchange reuse never
    # fires; q_dedup_incremental's plan is pinned in tests/test_plans.py,
    # test_no_forced_broadcast_of_fact_scale_frames).
    # Candidates are bounded by the batch's LSH collisions, so the
    # checkpoint is tiny; no .distinct() before the semi join — a semi
    # join ignores build-side duplicates.
    cand = (banded(corpus_sigs, "corpus_id")
            .join(F.broadcast(banded(new_sigs, "new_id")), "band_hash")
            .select("new_id", "corpus_id").distinct()
            .localCheckpoint())
    corpus_hit_ids = cand.select(F.col("corpus_id").alias(id_col))
    corpus_sh = (shingle_hash_sets(
                     corpus_text.join(F.broadcast(corpus_hit_ids),
                                      id_col, "left_semi"),
                     text_col, id_col, shingle_n)
                 .select(F.col(id_col).alias("corpus_id"),
                         F.col("shingles").alias("sh_c")))
    new_sh = new_sets.select(F.col(id_col).alias("new_id"),
                             F.col("shingles").alias("sh_n"))
    withs = (cand.join(F.broadcast(new_sh), "new_id")
                 .join(corpus_sh, "corpus_id"))
    inter = F.size(F.array_intersect("sh_n", "sh_c"))
    union = F.size(F.array_union("sh_n", "sh_c"))
    jac = F.when(union > 0, inter.cast("double") / union) \
           .otherwise(F.lit(0.0))
    return (withs.select("new_id", "corpus_id",
                         F.round(jac, 4).alias("jaccard"))
                 .where(F.col("jaccard") >= threshold))


class ConvergenceError(RuntimeError):
    """An iterative operator used up its round cap while its result was
    still changing, so the result it has is not a fixed point."""


def dedup_clusters(ids: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id", max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs: every document gets
    ``cluster_id`` = the min id reachable through dup edges (the cluster's
    canonical representative; keep rows where id == cluster_id to dedup).

    Only edges with both ends in ``ids`` take part: an endpoint outside
    ``ids`` gets no label and carries none across. The output has one
    row per ``ids`` row; a document without such edges labels itself.

    Iterative min-label propagation over the edges in both orientations
    plus one self-loop per endpoint. A round is one join + one
    aggregate: edges ⋈ labels on the source, then ``min`` label per
    destination. The self-loop row carries the node's old label, so the
    old and new label come out of the same aggregate and no join back to
    the label table is needed. Round 1 is fused: every label starts as
    the node's own id, so it is ``min(__src)`` per ``__dst`` over the
    edges alone. Each round is ``localCheckpoint``ed (lineage
    truncation, the standard Spark iterative-algorithm pattern) and the
    convergence check is an ``isEmpty()`` over its changed rows.
    Propagation takes O(component diameter) rounds — dup clusters are
    near-cliques, so 2-3 rounds in practice.

    ``max_iter`` caps the label-update rounds, the fused first round
    included. If the last allowed round still changed a label, the
    labels are not final and :class:`ConvergenceError` is raised
    instead of returning them.

    The end-to-end pipeline this stage sits in (signatures -> pairs ->
    clusters -> canonical keep), its per-stage shuffle count, its skew
    behavior, and the diameter threshold at which to swap this loop for
    the large-star/small-star algorithm are documented in PLANS.md
    ("The dedup end-to-end pipeline at 100 TB").
    """
    if max_iter < 1:
        raise ValueError(f"dedup_clusters: max_iter must be >= 1, "
                         f"got {max_iter}")
    # both orientations and both self-loops via ONE explode, not a
    # self-union: the union form re-executes the whole candidate-
    # generation + verification subtree once per branch (pairs is not
    # persisted — at 100 TB that is a second full LSH bucket join)
    a, b = F.col("id_a"), F.col("id_b")
    e = pairs.select(F.explode(F.array(
        F.struct(a.alias("__src"), b.alias("__dst")),
        F.struct(b.alias("__src"), a.alias("__dst")),
        F.struct(a.alias("__src"), a.alias("__dst")),
        F.struct(b.alias("__src"), b.alias("__dst")))).alias("__e"))
    # Only nodes with at least one dup edge can ever change labels, so
    # the rounds carry |endpoints| rows, not |corpus|; the untouched
    # majority joins once at the end with label = id. No distinct():
    # a repeated edge or self-loop cannot change a min, the rounds'
    # partial aggregates fold repeats before their shuffle, and the
    # distinct cost a shuffle stage per call.
    edges = (e.select("__e.__src", "__e.__dst")
             .join(ids.select(F.col(id_col).alias("__src")), "__src",
                   "left_semi")
             .join(ids.select(F.col(id_col).alias("__dst")), "__dst",
                   "left_semi")
             .localCheckpoint())
    # (__src, __dst, __lab): each edge with its source's current label
    sent = edges.withColumn("__lab", F.col("__src"))
    for _ in range(max_iter):
        labels = (sent.groupBy("__dst").agg(
                      F.min("__lab").alias("__label"),
                      F.min(F.when(F.col("__src") == F.col("__dst"),
                                   F.col("__lab"))).alias("__old"))
                  .localCheckpoint())
        if labels.where(F.col("__label") < F.col("__old")).isEmpty():
            break
        sent = edges.join(
            labels.select(F.col("__dst").alias("__src"),
                          F.col("__label").alias("__lab")), "__src")
    else:
        raise ConvergenceError(
            f"dedup_clusters: labels still changed in round {max_iter}, "
            f"the round cap (max_iter={max_iter}); a component is longer "
            f"than the cap allows")
    return (ids.select(F.col(id_col))
            .join(labels, ids[id_col] == labels["__dst"], "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("__label"), F.col(id_col))
                     .alias("cluster_id")))


def canonical_keep(docs: DataFrame, clusters: DataFrame,
                   id_col: str = "doc_id",
                   quality_col: str | None = None) -> DataFrame:
    """The keep-step every dedup pipeline ends with: given the
    ``(id, cluster_id)`` labels from :func:`dedup_clusters`, keep ONE
    canonical document per near-dup cluster — the highest
    ``quality_col`` (ties and the no-quality case broken by the
    smallest id, a deterministic representative). Returns the kept
    rows of ``docs`` plus their ``cluster_id``.

    Spark-first shape: one equi-join on the id, then a per-cluster
    top-1 via ``row_number`` over (quality DESC, id ASC) — Spark plans
    WindowGroupLimit (rank pushdown), so each shuffle partition keeps
    only its running best per cluster and the full cluster membership
    is never buffered. At 100 TB: one shuffle on cluster_id, no
    driver-side state; singleton clusters (the overwhelming majority)
    pass through untouched by the same plan."""
    from pyspark.sql import Window

    lab = clusters.select(F.col(id_col).alias("__ck_id"),
                          F.col("cluster_id"))
    joined = docs.join(lab, docs[id_col] == lab["__ck_id"],
                       "inner").drop("__ck_id")
    order = ([F.col(quality_col).desc()] if quality_col else []) \
        + [F.col(id_col).asc()]
    w = Window.partitionBy("cluster_id").orderBy(*order)
    return (joined.withColumn("__ck_rn", F.row_number().over(w))
                  .where(F.col("__ck_rn") == 1)
                  .drop("__ck_rn"))


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document via an Arrow-batched pandas UDF (the
    64-way bit unpack is the one kernel genuinely awkward as a SQL
    expression). numpy does the bit-count matrix math per batch."""
    from pyspark.sql.functions import pandas_udf

    df = rebalance(df)

    @pandas_udf("long")
    def simhash(texts: pd.Series) -> pd.Series:
        import numpy as np

        import hashlib

        def h64(tok):
            # blake2b, not builtin hash(): deterministic across workers
            # regardless of PYTHONHASHSEED.
            return int.from_bytes(
                hashlib.blake2b(tok.encode(), digest_size=8).digest(), "big")

        def one(t):
            if t is None:
                return 0
            toks = t.lower().split()
            if not toks:
                return 0
            hs = np.array([np.uint64(h64(tok)) for tok in toks],
                          dtype=np.uint64)
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1)
            votes = bits.sum(axis=0) * 2 - len(toks)
            sig = np.uint64(0)
            for i, v in enumerate(votes):
                if v > 0:
                    sig |= np.uint64(1) << np.uint64(i)
            return int(sig.astype(np.int64))

        return texts.map(one)

    return df.select(F.col(id_col), simhash(F.col(text_col)).alias("simhash"))


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming. Pigeonhole
    blocking: split 64 bits into 4 16-bit blocks; any pair within distance
    3 shares at least one exact block, so candidates come from 4 equi-join
    buckets, never a cross join."""
    sigs = simhash_signatures(df, text_col, id_col)
    blocks = sigs.select(
        F.col(id_col), F.col("simhash"),
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), b * 16).bitwiseAND(F.lit(0xFFFF))
            for b in range(4)
        ])).alias("block_idx", "block_val"),
    )
    cand = (blocks.alias("a")
            .join(blocks.alias("b"),
                  (F.col("a.block_idx") == F.col("b.block_idx"))
                  & (F.col("a.block_val") == F.col("b.block_val"))
                  & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.col("a.simhash").alias("sh_a"),
                    F.col("b.simhash").alias("sh_b"))
            .distinct())
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.select("id_a", "id_b", ham.alias("hamming"))
                .where(F.col("hamming") <= max_hamming))


def _peek_vector_dim(df: DataFrame, vec_col: str) -> int:
    """Vector width from the source parquet footer (one driver-side
    record batch, no Spark job). The footer is only trusted when the
    DataFrame's ``vec_col`` is plan-transparent — i.e. the analyzed plan
    never aliases something else AS vec_col — otherwise the on-disk
    column of the same name could have a different width and the peek
    would silently build wrong-length hyperplane literals. Aliased /
    file-less inputs fall back to a LIMIT-1 job."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        aliased = f"AS {vec_col}#" in plan
    except Exception:
        aliased = True
    if not aliased:
        try:
            import pyarrow.parquet as pq
            fp = df.inputFiles()[0].removeprefix("file:")
            first = next(pq.ParquetFile(fp).iter_batches(
                batch_size=1, columns=[vec_col]))
            return len(first.column(vec_col)[0].as_py())
        except Exception:
            pass
    return len(df.select(vec_col).first()[0])


def embedding_near_dup(df: DataFrame, vec_col: str = "embedding",
                       id_col: str = "vec_id", threshold: float = 0.9,
                       planes: int = 8, seed: int = 42,
                       dim: int | None = None) -> DataFrame:
    """Cosine >= threshold pairs via random-hyperplane LSH buckets + exact
    verification. ``planes`` sign bits form the bucket key; at high
    thresholds near-dup pairs collide in at least one of the two
    complementary-rotation bucket sets with high probability.

    ``dim`` (the vector width, needed to materialize hyperplane literals)
    should be passed by callers that know it; when omitted it comes from
    the source parquet footer via a driver-side one-batch peek — NOT a
    Spark LIMIT-1 job (mirrors knn_lsh)."""
    import random
    rnd = random.Random(seed)
    if dim is None:
        dim = _peek_vector_dim(df, vec_col)
    keys = []
    for _t in range(2):
        plane_lits = [F.array(*[F.lit(rnd.gauss(0, 1)) for _ in range(dim)])
                      for _ in range(planes)]
        bits = [ (V.dot(F.col(vec_col), p) > 0).cast("int") for p in plane_lits ]
        key = bits[0]
        for b in bits[1:]:
            key = key * 2 + b
        keys.append(key)
    # one projection + posexplode instead of a two-way union: the union
    # shape scanned and projected the corpus once per rotation (guide
    # §2.4); posexplode's 0-based position is the old lit(t) table id,
    # so the (table, bucket) candidate space is unchanged.
    bucketed = df.select(F.col(id_col),
                         F.posexplode(F.array(*keys))
                          .alias("table", "bucket"))
    cand = (bucketed.alias("a")
            .join(bucketed.alias("b"),
                  (F.col("a.table") == F.col("b.table"))
                  & (F.col("a.bucket") == F.col("b.bucket"))
                  & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())
    vecs = df.select(F.col(id_col), F.col(vec_col))
    withv = (cand
             .join(vecs.select(F.col(id_col).alias("id_a"),
                               F.col(vec_col).alias("va")), "id_a")
             .join(vecs.select(F.col(id_col).alias("id_b"),
                               F.col(vec_col).alias("vb")), "id_b"))
    sim = V.cosine("va", "vb")
    return (withv.select("id_a", "id_b", F.round(sim, 4).alias("cosine"))
                 .where(F.col("cosine") >= threshold))


def cut_dup_spans(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", span_len: int = 20,
                  stride: int = 10) -> DataFrame:
    """Span-level dedup CUT step (the transform companion to the
    q_dup_spans detection, per the exact-substring-deduplication
    literature): every ``span_len``-token window at ``stride`` over the
    normalized token stream is grouped corpus-wide; for each window
    text occurring more than once, every occurrence EXCEPT the first
    (minimum (doc, position) order — a total order, so the choice is
    deterministic under any partitioning) is cut, and each document's
    remaining tokens are reassembled. Returns one row per input doc:
    id, n_tokens, n_cut, cleaned_head (first ten surviving tokens).

    Scale shape: one explode at stride granularity (~tokens/stride
    rows), ONE hash-shuffle window on the span text for the
    occurrence ranking (at 100 TB swap the span text for xxhash64 with
    a sampled verify — identical plan shape), one bounded per-doc
    collect of cut offsets (at most tokens/stride entries), and one
    AQE-decided join back to the corpus; token surgery is per-row
    array math. No driver-side anything.
    """
    from pyspark.sql import Window

    staged = df.select(F.col(id_col), X.tokens(text_col).alias("__cd_toks"))
    n = F.size("__cd_toks")
    k = F.floor((n - span_len) / stride).cast("int")
    spans = (staged
             .where(n >= span_len)
             .withColumn("__cd_k", k)
             .select(
                 F.col(id_col),
                 F.explode(F.expr(
                     f"transform(sequence(0, __cd_k), __cd_i -> "
                     f"named_struct('start', __cd_i * {stride}, "
                     f"'span', array_join(slice(__cd_toks, "
                     f"__cd_i * {stride} + 1, {span_len}), ' ')))"))
                 .alias("__cd_s"))
             .select(F.col(id_col),
                     F.col("__cd_s.start").alias("start"),
                     F.col("__cd_s.span").alias("span")))
    # total order as a STRUCT key (lexicographic (doc, start) min /
    # compare) — the earlier doc_id*1e6+start long key collided once a
    # document's span start reached 1e6 (~10M tokens at stride 10),
    # breaking the deterministic first-occurrence choice at exactly the
    # corpus sizes the docstring targets (r10 ADVICE item).
    key = F.struct(F.col(id_col).cast("long").alias("d"),
                   F.col("start").cast("long").alias("s")).alias("__cd_key")
    occ = spans.select(F.col(id_col), "start", "span", key)
    w = Window.partitionBy("span")
    ranked = occ.select(
        F.col(id_col), F.col("start"),
        F.count("*").over(w).alias("__cd_n"),
        F.col("__cd_key"),
        F.min("__cd_key").over(w).alias("__cd_first"))
    cuts = (ranked
            .where((F.col("__cd_n") > 1)
                   & (F.col("__cd_key") > F.col("__cd_first")))
            .groupBy(id_col)
            .agg(F.collect_list("start").alias("__cd_cuts")))
    joined = (staged.join(cuts, id_col, "left")
              .select(F.col(id_col), F.col("__cd_toks"),
                      F.coalesce(F.col("__cd_cuts"),
                                 F.array().cast("array<int>"))
                       .alias("__cd_cuts")))
    cleaned = F.filter(
        "__cd_toks",
        lambda t, i: ~F.exists(
            "__cd_cuts",
            lambda s: (i >= s) & (i < s + F.lit(span_len))))
    return joined.select(
        F.col(id_col),
        F.size("__cd_toks").cast("long").alias("n_tokens"),
        (F.size("__cd_toks") - F.size(cleaned)).cast("long")
         .alias("n_cut"),
        F.concat_ws(" ", F.slice(cleaned, 1, 10)).alias("cleaned_head"))

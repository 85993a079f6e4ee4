"""Similarity/ANN-tier named queries (sim_*) — split from ``plans/beyond.py`` in round 8.

Pure mechanical move (VERDICT r7 ask #8): registry names, oracles, and
driver history are unchanged; ``plans.beyond`` still imports and
re-exports every entry, so existing import paths keep working. Shared
DuckDB fragments/helpers stay in ``plans.beyond`` and are imported from
there (it is mid-initialization at that point, but the shared block is
defined before the tier imports at its bottom run).
"""

from __future__ import annotations

from ..functions import portable as _P
from ..operators import similarity as S
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .beyond import (  # shared fragments/helpers
    _sql_ivf_kmeans,
    _sql_pq_adc,
)
from .pq_oracles import _sql_ivfpq256  # leaf module (r15 split; see its docstring)  # noqa: F401
from .queries import _t, query


# ---------------------------------------------------------------------------
# Shared built-once IVFPQ artifacts (VERDICT r11 ask #4 / r12 ask #5)
#
# Six lifecycle entries (sim_ann_ivf_pq, wh_ivfpq_publish/append/
# compact/retrain, sim_ann_ivfadc_residual) each used to rebuild
# overlapping index structures none of them individually proves —
# ~13% of the bench suite spent re-running the SAME deterministic
# Lloyd/codebook/encode plans. The builders below construct each
# artifact once per (Spark application, dataset) — the _spike_in_r2
# sharing discipline, extended with a memo because these artifacts are
# materialized (localCheckpoint / published tables), not lazy plans.
# Every consumer still runs its OWN claim (publish write, append,
# compaction, serve, monitor) against the shared deterministic input,
# so every oracle stays bit-exact: the artifacts are pure functions of
# (sf_dir, frozen constants), identical no matter which entry builds
# them first.
# ---------------------------------------------------------------------------

_IVFPQ_SHARED: dict = {}


def _shared_artifact(spark: SparkSession, sf_dir: str, kind: str, builder):
    """Memoize ``builder()`` per (Spark application, dataset, kind).
    Keyed on applicationId so artifacts never leak across sessions
    (localCheckpointed frames die with their context) and on sf_dir so
    a session that touches several scales (the test suite does) never
    serves one scale's index to another's query. Entries keyed by a
    DEAD applicationId are evicted on every call (ADVICE r13): a
    long-running process that cycles Spark sessions would otherwise
    pin stale checkpointed-frame handles and table prefixes for its
    whole lifetime."""
    import os as _os

    app_id = spark.sparkContext.applicationId
    for stale in [k for k in _IVFPQ_SHARED if k[0] != app_id]:
        del _IVFPQ_SHARED[stale]
    key = (app_id, _os.path.normpath(sf_dir), kind)
    if key not in _IVFPQ_SHARED:
        _IVFPQ_SHARED[key] = builder()
    return _IVFPQ_SHARED[key]


def _sf_tag(sf_dir: str) -> str:
    """Deterministic table-name tag for a dataset dir (table names are
    session-global, so shared STORED artifacts must encode the scale)."""
    import hashlib
    import os as _os

    return hashlib.md5(
        _os.path.normpath(sf_dir).encode()
    ).hexdigest()[:8]


def _shared_full_index(spark: SparkSession, sf_dir: str):
    """build_ivfpq_index at the registry defaults (n_cells=16, one
    Lloyd, 8-code books) over the full corpus, built once and
    checkpoint-pinned: the exact structures sim_ann_ivf_pq queries
    in memory and wh_ivfpq_publish persists."""

    def build():
        emb = _t(spark, sf_dir, "embeddings")
        cells, books, inv = S.build_ivfpq_index(emb)
        # cells and books come back localCheckpointed already; inv is
        # the one lazy tail shared by several consumers — pin it once.
        return (cells, books, inv.localCheckpoint(eager=True))

    return _shared_artifact(spark, sf_dir, "full_index", build)


def _shared_exact_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact brute-force top-5 frontier (query_id, neighbor_id) the
    recall column of every lifecycle entry is measured against — 40
    rows, built once."""

    def build():
        emb = _t(spark, sf_dir, "embeddings")
        return (
            S.topk_bruteforce(emb, n_queries=8, k=5)
            .select("query_id", "neighbor_id")
            .localCheckpoint(eager=True)
        )

    return _shared_artifact(spark, sf_dir, "exact_frontier", build)


def _shared_ivfpq256_inv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 256-code inverted file (vec_id, cell, m, code) over the
    shared coarse quantizer — built once, checkpoint-pinned; scanned in
    memory by sim_ann_ivfpq256 and persisted by wh_ivfpq256_publish
    (their oracles share _sql_ivfpq256 verbatim)."""

    def build():
        emb = _t(spark, sf_dir, "embeddings")
        cells, _, _ = _shared_full_index(spark, sf_dir)
        return S.build_ivfpq256_inv(emb, cells).localCheckpoint(eager=True)

    return _shared_artifact(spark, sf_dir, "ivfpq256_inv", build)


def _shared_appended_prefix(spark: SparkSession, sf_dir: str) -> str:
    """The published-on-base + appended-new stored layout shared by
    wh_ivfpq_append and wh_ivfpq_compact (their oracles share
    _sql_ivfpq_append verbatim — same frozen structures, same rows).
    Compaction by the compact entry does not change a row (that IS its
    claim), so build order between the two consumers is immaterial;
    the file-count assertions live test-side on a private prefix."""

    def build():
        from ..sources.warehouse import (
            append_ivfpq_vectors,
            publish_ivfpq_layout,
        )

        emb = _t(spark, sf_dir, "embeddings")
        base = emb.filter(F.col("vec_id") < IVFPQ_APPEND_BASE)
        new = emb.filter(F.col("vec_id") >= IVFPQ_APPEND_BASE)
        prefix = f"ivfpq_shr_{_sf_tag(sf_dir)}"
        publish_ivfpq_layout(base, prefix)
        append_ivfpq_vectors(new, prefix)
        return prefix

    return _shared_artifact(spark, sf_dir, "appended_prefix", build)


def _shared_rot_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rot64-rotated corpus (vec_id, embedding), built once and
    checkpoint-pinned — the deterministic input shared by the OPQ
    family (sim_ann_pq256_rotated, sim_ann_opq256, wh_opq256_publish's
    write side). The rotation apply itself still executes (whichever
    consumer builds first pays it); each consumer then runs its OWN
    claim — encode, serve, or publish — against the shared frame, the
    r13 shared-artifact discipline."""

    def build():
        emb = _t(spark, sf_dir, "embeddings")
        return S.rotate_corpus(emb, S.rot64_frame(spark)).localCheckpoint(
            eager=True
        )

    return _shared_artifact(spark, sf_dir, "rot_corpus", build)


def _shared_opq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rotated corpus's 256-code table against the rotated-TRAINED
    books (vec_id, m, code) — built once, checkpoint-pinned; scanned
    in memory by sim_ann_opq256 and persisted by wh_opq256_publish
    (their oracles share _sql_opq256 verbatim) — the
    _shared_ivfpq256_inv precedent at the OPQ configuration."""

    def build():
        rotated = _shared_rot_corpus(spark, sf_dir)
        return S.pq256_codes(
            S._vecs(rotated), S.pq256r_books(spark)
        ).localCheckpoint(eager=True)

    return _shared_artifact(spark, sf_dir, "opq_codes", build)


def _shared_appended256_prefix(spark: SparkSession, sf_dir: str) -> str:
    """The published-on-base + appended-new stored layout at the
    PRODUCTION codebook size (wh_ivfpq256_append) — built on the
    shared-artifact pattern FROM DAY ONE (VERDICT r13 ask #3 / the
    "what's wrong #1" lesson: don't refactor the family onto the memo
    afterward). The coarse quantizer is the only corpus-trained
    structure (seeds < 16 + one Lloyd refine over the BASE vectors);
    the books are the frozen offline constant, so the appended batch
    needs zero retraining of anything."""

    def build():
        from ..sources.warehouse import (
            append_ivfpq256_vectors,
            publish_ivfpq256_layout,
        )

        emb = _t(spark, sf_dir, "embeddings")
        base = emb.filter(F.col("vec_id") < IVFPQ_APPEND_BASE)
        new = emb.filter(F.col("vec_id") >= IVFPQ_APPEND_BASE)
        prefix = f"ivfpq256_app_{_sf_tag(sf_dir)}"
        bvecs = S._vecs(base)
        seeds = bvecs.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("cell"), F.col("v").alias("cv")
        )
        cells = S.refine_centroids(bvecs, seeds).localCheckpoint(
            eager=True
        )
        publish_ivfpq256_layout(base, prefix, cells=cells)
        append_ivfpq256_vectors(new, prefix)
        return prefix

    return _shared_artifact(spark, sf_dir, "appended256_prefix", build)




# ===========================================================================
# Similarity search
# ===========================================================================


@query(
    "sim_hybrid_rrf",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    qterms AS (
      SELECT doc_id AS query_id, term,
             round(ln(n_docs / df), 6) AS idf
      FROM tf JOIN dfreq USING (term), n
      WHERE doc_id < 8
      QUALIFY row_number() OVER (
        PARTITION BY doc_id
        ORDER BY round(tf * ln(n_docs / df), 6) DESC, term ASC) <= 3),
    kw AS (
      SELECT q.query_id, t.doc_id,
             round(sum(t.tf * q.idf), 6) AS kw_score
      FROM qterms q JOIN tf t USING (term)
      WHERE t.doc_id != q.query_id
      GROUP BY 1, 2),
    kwr AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY kw_score DESC, doc_id ASC) AS r
      FROM kw
      QUALIFY r <= 10),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    vr AS (
      SELECT query_id, e.vec_id AS doc_id,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_cosine_similarity(qv, v), 6) DESC,
                        e.vec_id ASC) AS r
      FROM q JOIN e ON e.vec_id != q.query_id
      QUALIFY r <= 10),
    fused AS (
      SELECT coalesce(kwr.query_id, vr.query_id) AS query_id,
             coalesce(kwr.doc_id, vr.doc_id) AS doc_id,
             round(coalesce(1.0::DOUBLE / (60 + kwr.r), 0)
                   + coalesce(1.0::DOUBLE / (60 + vr.r), 0), 6) AS rrf,
             kwr.r AS kw_rank, vr.r AS vec_rank
      FROM kwr FULL OUTER JOIN vr
        ON kwr.query_id = vr.query_id AND kwr.doc_id = vr.doc_id)
    SELECT query_id, doc_id, rrf, kw_rank, vec_rank
    FROM fused
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, doc_id ASC) <= 10
    ORDER BY query_id, rrf DESC, doc_id
    """,
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval with reciprocal-rank fusion — the modern search
    stack in one lazy plan: a KEYWORD leg (each query doc's top-3 TF-IDF
    terms probe the inverted index; candidates scored by matched
    tf x idf) and a VECTOR leg (cosine top-10 over the embedding
    column) are fused per (query, doc) by RRF
    (score = sum 1/(60 + rank); Cormack et al.'s k=60), which needs no
    score calibration between legs — the reason RRF is the default
    fusion everywhere. Docs found by only one leg still rank (outer
    join + coalesce 0).

    Scale: the keyword leg is an inverted-index equi-join on term
    (selective: 3 terms/query), never a doc x doc scan; the vector leg
    is the exactness baseline here — swap in the IVF cell-probe for a
    production corpus. Ranks are integers and scores round before
    ranking, so the oracle pins the fused ORDER, not just membership."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = tf.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(n))
    wq = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).desc(),
        F.asc("term"),
    )
    qterms = (
        scored.filter(F.col("doc_id") < 8)
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= 3)
        .select(
            F.col("doc_id").alias("query_id"),
            "term",
            F.round(F.log(F.col("n_docs") / F.col("df")), 6).alias("idf"),
        )
    )
    kw = (
        tf.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(F.col("tf") * F.col("idf")), 6).alias("kw_score"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("kw_score"), F.asc("doc_id")
    )
    kwr = (
        kw.withColumn("r", F.row_number().over(wk))
        .filter(F.col("r") <= 10)
        .select("query_id", "doc_id", F.col("r").alias("kw_rank"))
    )
    vr = S.topk_bruteforce(
        _t(spark, sf_dir, "embeddings"), n_queries=8, k=10
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.desc("cosine"), F.asc("neighbor_id")
            )
        )
        .alias("vec_rank"),
    )
    fused = (
        kwr.join(vr, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (60 + F.col("kw_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("vec_rank")), F.lit(0.0)),
                6,
            ),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf"), F.asc("doc_id")
    )
    return (
        fused.withColumn("_fr", F.row_number().over(wf))
        .filter(F.col("_fr") <= 10)
        .select("query_id", "doc_id", "rrf", "kw_rank", "vec_rank")
        .orderBy("query_id", F.desc("rrf"), "doc_id")
    )




@query(
    "sim_topk_bruteforce",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8)
    SELECT query_id, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(qv, v), 6) AS cosine
    FROM q JOIN e ON e.vec_id != q.query_id
    QUALIFY row_number() OVER (
      PARTITION BY query_id
      ORDER BY round(list_cosine_similarity(qv, v), 6) DESC, e.vec_id ASC
    ) <= 10
    ORDER BY query_id, cosine DESC, neighbor_id
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the first 8 vectors.

    SCALE NOTE — exactness BASELINE, not the 100 TB path: this is a full
    linear corpus scan per query batch (right up to ~10^7 vectors, and
    the recall yardstick for the ANN tests). Route large-corpus serving
    to sim_ann_ivf / sim_ann_ivf_kmeans* (partition-pruned probes over
    the write_ivf_layout cell layout) or sim_ann_signlsh."""
    return S.topk_bruteforce(
        _t(spark, sf_dir, "embeddings"), n_queries=8, k=10
    ).orderBy("query_id", F.desc("cosine"), "neighbor_id")




@query(
    "sim_ann_signlsh",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v,
            list_sum([CASE WHEN v[i+1] > 0 THEN 1::BIGINT << i ELSE 0 END
                      for i in range(0, {S.SIGN_BITS})])::BIGINT AS bkt
          FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bkt AS qbkt FROM b WHERE vec_id < 8)
    SELECT query_id, b.vec_id AS neighbor_id,
           round(list_cosine_similarity(qv, v), 6) AS cosine
    FROM q JOIN b ON b.bkt = q.qbkt AND b.vec_id != q.query_id
    QUALIFY row_number() OVER (
      PARTITION BY query_id
      ORDER BY round(list_cosine_similarity(qv, v), 6) DESC, b.vec_id ASC
    ) <= 5
    ORDER BY query_id, cosine DESC, neighbor_id
    """,
)
def sim_ann_signlsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 within the query's sign-LSH bucket (the scale path)."""
    return S.topk_ann_signlsh(
        _t(spark, sf_dir, "embeddings"), n_queries=8, k=5
    ).orderBy("query_id", F.desc("cosine"), "neighbor_id")




@query(
    "sim_recall_at_k",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    ex AS (
      SELECT query_id, e.vec_id AS neighbor_id
      FROM q JOIN e ON e.vec_id != q.query_id
      QUALIFY row_number() OVER (
        PARTITION BY query_id
        ORDER BY round(list_cosine_similarity(qv, v), 6) DESC, e.vec_id ASC
      ) <= 5),
    b AS (SELECT vec_id, v,
            list_sum([CASE WHEN v[i+1] > 0 THEN 1::BIGINT << i ELSE 0 END
                      for i in range(0, {S.SIGN_BITS})])::BIGINT AS bkt
          FROM e),
    qb AS (SELECT vec_id AS query_id, v AS qv, bkt AS qbkt
           FROM b WHERE vec_id < 8),
    ann AS (
      SELECT query_id, b.vec_id AS neighbor_id
      FROM qb JOIN b ON b.bkt = qb.qbkt AND b.vec_id != qb.query_id
      QUALIFY row_number() OVER (
        PARTITION BY query_id
        ORDER BY round(list_cosine_similarity(qv, v), 6) DESC, b.vec_id ASC
      ) <= 5),
    na AS (SELECT query_id, count(*) AS n_ann FROM ann GROUP BY 1),
    h AS (SELECT a.query_id, count(*) AS n_hits
          FROM ann a JOIN ex ON ex.query_id = a.query_id
                            AND ex.neighbor_id = a.neighbor_id
          GROUP BY 1),
    qs AS (SELECT DISTINCT query_id FROM ex)
    SELECT qs.query_id,
           CAST(coalesce(na.n_ann, 0) AS BIGINT) AS n_ann,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5, 6)
             AS recall_at_5
    FROM qs LEFT JOIN na USING (query_id) LEFT JOIN h USING (query_id)
    ORDER BY query_id
    """,
)
def sim_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY measurement — recall@5 of the sign-LSH bucket path
    against the exact brute-force top-5, per query ('measure, don't
    guess' applied to the index itself: the number a 100 TB deployment
    watches when tuning SIGN_BITS / nprobe, produced by the engine
    instead of asserted in a docstring). n_ann < 5 exposes undersized
    buckets; n_hits counts exact neighbors the ANN path found; the
    recall denominator is the requested k, so empty buckets score 0.

    Scale: the exact leg is the linear yardstick run over a bounded
    QUERY SAMPLE (8 probes here) — evaluation cost is n_queries x
    corpus, not corpus^2; the ANN leg is the production bucket
    equi-join. Composes the two already-oracled retrieval pipelines and
    re-derives both in the oracle, so the measurement is itself under
    the hash gate. Reference analogue: none."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = S.topk_bruteforce(emb, n_queries=8, k=5).select(
        "query_id", "neighbor_id"
    )
    ann = S.topk_ann_signlsh(emb, n_queries=8, k=5).select(
        "query_id", "neighbor_id"
    )
    qs = exact.select("query_id").distinct()
    na = ann.groupBy("query_id").agg(F.count("*").alias("n_ann"))
    hits = (
        ann.join(F.broadcast(exact), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        qs.join(F.broadcast(na), "query_id", "left")
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_ann", F.lit(0)).cast("bigint").alias("n_ann"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / 5, 6
            ).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )




@query(
    "sim_ann_ivf",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 16),
    assign AS (
      SELECT e.vec_id, e.v, cell
      FROM e, c
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY round(list_cosine_similarity(v, cv), 6) DESC, cell ASC
      ) = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    probe AS (
      SELECT query_id, qv, cell
      FROM q, c
      QUALIFY row_number() OVER (
        PARTITION BY query_id
        ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC, cell ASC
      ) <= 2)
    SELECT query_id, a.vec_id AS neighbor_id,
           round(list_cosine_similarity(qv, a.v), 6) AS cosine
    FROM probe p JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id
    QUALIFY row_number() OVER (
      PARTITION BY query_id
      ORDER BY round(list_cosine_similarity(qv, a.v), 6) DESC, a.vec_id ASC
    ) <= 5
    ORDER BY query_id, cosine DESC, neighbor_id
    """,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (coarse cells + nprobe probing) — the oracle reproduces the
    quantizer, cell assignment, and probing, so the index STRUCTURE is
    correctness-checked, not just final scores."""
    return S.topk_ann_ivf(
        _t(spark, sf_dir, "embeddings"), n_queries=8, k=5, n_cells=16, nprobe=2
    ).orderBy("query_id", F.desc("cosine"), "neighbor_id")




@query(
    "sim_ann_pq_adc",
    _sql_pq_adc(),
)
def sim_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization + asymmetric distance (operators.similarity
    .topk_ann_pq): 8 subspace codebooks of 8 centroids (one decimal-
    exact Lloyd refine), corpus stored as 8 codes/vector (32x
    compression), queries ranked by the exact-DECIMAL sum of rounded
    per-subspace inner products. The oracle replays codebook training,
    encoding, and ADC bit-for-bit — completing the oracle-checked vector
    index triad (sign-LSH buckets, IVF cell probing, PQ compression)."""
    return S.topk_ann_pq(
        _t(spark, sf_dir, "embeddings"), n_queries=8, k=5
    ).orderBy("query_id", F.desc("approx_ip"), "neighbor_id")




@query(
    "sim_ann_ivf_kmeans",
    _sql_ivf_kmeans(1),
)
def sim_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a k-means-refined quantizer (one Lloyd iteration, decimal-
    exact centroid means). The oracle reproduces seeding, assignment, the
    refinement arithmetic, and probing — the full index build is
    correctness-checked bit-for-bit."""
    return S.topk_ann_ivf_kmeans(
        _t(spark, sf_dir, "embeddings"), n_queries=8, k=5, n_cells=16, nprobe=2
    ).orderBy("query_id", F.desc("cosine"), "neighbor_id")





@query("sim_ann_ivf_kmeans_iter3", _sql_ivf_kmeans(3))
def sim_ann_ivf_kmeans_iter3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-iteration Lloyd refinement (3 iterations, each materialized
    once and decimal-exact): the converged-quantizer path. The oracle SQL
    is GENERATED for the same iteration count (_sql_ivf_kmeans), so Spark
    and DuckDB run the identical iteration-unrolled algorithm — every
    intermediate centroid set is implicitly pinned."""
    return S.topk_ann_ivf_kmeans(
        _t(spark, sf_dir, "embeddings"),
        n_queries=8,
        k=5,
        n_cells=16,
        nprobe=2,
        iterations=3,
    ).orderBy("query_id", F.desc("cosine"), "neighbor_id")




def _sql_ivf_pq() -> str:
    """DuckDB oracle for the combined IVF+PQ index (operators.similarity
    .topk_ann_ivf_pq) plus its recall@5 measurement: the k-means IVF
    quantizer CTEs (_sql_ivf_kmeans discipline, 1 Lloyd iteration), the
    PQ codebook/encode CTEs (_sql_pq_adc replay), probe -> LUT -> ADC
    scoring within probed cells, and the exact brute-force top-5 joined
    back for per-query n_hits/recall. Every stage of the index build and
    the measurement is inside the hash."""
    sd = S.PQ_SUBDIM
    ivf_assign = (
        "(SELECT e.vec_id, e.v, cell FROM e, {cells}\n"
        "   QUALIFY row_number() OVER (PARTITION BY e.vec_id\n"
        "     ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,"
        " cell ASC) = 1)"
    )
    pq_assign = (
        "(SELECT sub.vec_id, sub.m, sub.sv, code FROM sub JOIN {books} USING (m)\n"
        "   QUALIFY row_number() OVER (PARTITION BY sub.vec_id, sub.m\n"
        "     ORDER BY round(list_cosine_similarity(sv, cv), 6) DESC,"
        " code ASC) = 1)"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 16),
    ia0 AS {ivf_assign.format(cells='c0')},
    ipx0 AS (SELECT cell, u.p AS pos, u.x AS val FROM ia0,
             unnest([{{'p': i, 'x': v[i]}}
                     for i in range(1, len(v) + 1)]) AS t(u)),
    icent0 AS (SELECT cell, pos,
                 CAST(sum(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
                   / count(*) AS cv_e
               FROM ipx0 GROUP BY 1, 2),
    c1 AS (SELECT cell, list(cv_e ORDER BY pos) AS cv
           FROM icent0 GROUP BY 1),
    af AS {ivf_assign.format(cells='c1')},
    sub AS (SELECT vec_id, r.range AS m,
                   v[r.range * {sd} + 1 : r.range * {sd} + {sd}] AS sv
            FROM e, range(0, {S.PQ_M}) r),
    b0 AS (SELECT m, vec_id AS code, sv AS cv FROM sub
           WHERE vec_id < {S.PQ_K}),
    pa0 AS {pq_assign.format(books='b0')},
    ppx0 AS (SELECT m, code, u.p AS pos, u.x AS val FROM pa0,
             unnest([{{'p': i, 'x': sv[i]}}
                     for i in range(1, len(sv) + 1)]) AS t(u)),
    pc0 AS (SELECT m, code, pos,
                  CAST(sum(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
                    / count(*) AS cv_e
            FROM ppx0 GROUP BY 1, 2, 3),
    b1 AS (SELECT m, code, list(cv_e ORDER BY pos) AS cv
           FROM pc0 GROUP BY 1, 2),
    enc AS {pq_assign.format(books='b1')},
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    probe AS (SELECT query_id, cell FROM q, c1
              QUALIFY row_number() OVER (PARTITION BY query_id
                ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC,
                cell ASC) <= 2),
    qsub AS (SELECT vec_id AS query_id, m, sv AS qsv FROM sub
             WHERE vec_id < 8),
    lut AS (SELECT query_id, m, code,
              CAST(round(list_dot_product(qsv, cv), 6)
                   AS DECIMAL(18,6)) AS term
            FROM qsub JOIN b1 USING (m)),
    cand AS (SELECT p.query_id, af.vec_id
             FROM probe p JOIN af USING (cell)
             WHERE af.vec_id != p.query_id),
    scores AS (SELECT c.query_id, c.vec_id,
                 CAST(sum(term) AS DOUBLE) AS approx_ip
               FROM cand c
               JOIN enc ON enc.vec_id = c.vec_id
               JOIN lut ON lut.query_id = c.query_id
                       AND lut.m = enc.m AND lut.code = enc.code
               GROUP BY 1, 2),
    topk AS (SELECT query_id, vec_id AS neighbor_id,
                    round(approx_ip, 6) AS approx_ip
             FROM scores
             QUALIFY row_number() OVER (PARTITION BY query_id
               ORDER BY approx_ip DESC, vec_id ASC) <= 5),
    ex AS (SELECT query_id, e.vec_id AS neighbor_id
           FROM q JOIN e ON e.vec_id != q.query_id
           QUALIFY row_number() OVER (PARTITION BY query_id
             ORDER BY round(list_cosine_similarity(qv, v), 6) DESC,
             e.vec_id ASC) <= 5),
    h AS (SELECT t.query_id, count(*) AS n_hits FROM topk t
          JOIN ex ON ex.query_id = t.query_id
                 AND ex.neighbor_id = t.neighbor_id
          GROUP BY 1)
    SELECT t.query_id, t.neighbor_id, t.approx_ip,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5, 6)
             AS recall_at_5
    FROM topk t LEFT JOIN h USING (query_id)
    ORDER BY query_id, approx_ip DESC, neighbor_id
    """




def _ivfpq_recall_output(
    emb: DataFrame, ann: DataFrame, exact: DataFrame | None = None
) -> DataFrame:
    """Shared output composition for the IVFPQ entries: join the ANN
    top-5 back against the exact brute-force frontier so each row
    carries its own recall@5 (all right sides query-sample-bounded ->
    broadcast). sim_ann_ivf_pq (in-memory index) and wh_ivfpq_publish
    (stored index) both return this frame, which is why they share one
    oracle string verbatim. ``exact``: the pre-built frontier from
    _shared_exact_frontier (same plan, built once per bench run)."""
    if exact is None:
        exact = S.topk_bruteforce(emb, n_queries=8, k=5).select(
            "query_id", "neighbor_id"
        )
    hits = (
        ann.join(F.broadcast(exact), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        ann.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "neighbor_id",
            "approx_ip",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / 5, 6
            ).alias("recall_at_5"),
        )
        .orderBy("query_id", F.desc("approx_ip"), "neighbor_id")
    )


@query(
    "sim_ann_ivf_pq",
    _sql_ivf_pq(),
)
def sim_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone vector-index composition — FAISS-style IVFPQ
    (operators.similarity.topk_ann_ivf_pq): queries route through the
    k-means-refined IVF cells (the sim_ann_ivf_kmeans quantizer), then
    ADC-score the 32x-compressed PQ codes of the probed cells' vectors
    via a broadcast per-query LUT (the sim_ann_pq_adc scoring). Output
    is the per-query top-5 by approximate inner product PLUS the
    recall@5 of that answer against the exact brute-force frontier
    (sim_recall_at_k discipline) — so the index's QUALITY measurement
    rides inside the same driver hash as its mechanics.

    Both halves were independently oracle-checked (driver-green r8);
    this entry pins their composition: the oracle replays the Lloyd
    refine, the codebook training, the encode, the probe, the LUT, the
    DECIMAL-exact ADC sum, and the recall join bit-for-bit.

    At 100 TB: cell = partition key (probe = partition pruning), codes =
    8 bytes/vector, LUT + codebooks + probe map broadcast; the only
    shuffle is the ADC aggregation over nprobe/n_cells of the corpus.
    Reference analogue: none (beyond-reference LLM-pipeline tier)."""
    emb = _t(spark, sf_dir, "embeddings")
    # The built-once structures (r13 shared-artifact discipline) fed to
    # the SAME query path topk_ann_ivf_pq composes; ~40 rows feeding
    # two branches (hits + output join) so materialize once
    # (shared-frame-before-branching, the a30 seeds lesson).
    cells, books, inv = _shared_full_index(spark, sf_dir)
    ann = S.ivfpq_query(
        emb, cells, books, inv, n_queries=8, k=5
    ).localCheckpoint(eager=True)
    return _ivfpq_recall_output(
        emb, ann, exact=_shared_exact_frontier(spark, sf_dir)
    )




# Defined here (not beyond_warehouse) to share _sql_ivf_pq and the recall
# composition.
@query(
    "wh_ivfpq_publish",
    _sql_ivf_pq(),
)
def wh_ivfpq_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUBLISH-then-SERVE the IVFPQ index (sources.warehouse.
    publish_ivfpq_layout): the inverted file is written as a warehouse
    table PARTITIONED BY cell (one file per occupied cell; 8 codes per
    vector instead of fp32 payloads — the 32x compression becomes a 32x
    smaller stored table), centroids and codebooks as broadcast-sized
    sidecars; the query then runs operators.similarity.ivfpq_query over
    the READ-BACK tables — probing the stored layout is partition
    pruning (plan-pinned: the probe join plans dynamic partition
    pruning against <prefix>_codes, tests/test_plan_quality.py).

    Shares sim_ann_ivf_pq's oracle STRING verbatim (the st_cdc_apply /
    wh_cdc_apply twin discipline): stored == in-memory is the checked
    contract — a lossy write, a dropped partition, a codebook/centroid
    sidecar drift, or a broken read-back schema shifts the top-5 or the
    recall column and fails the hash. Eager maintenance-JOB posture
    (fresh publish per invocation). Reference analogue: none."""
    from ..sources.warehouse import publish_ivfpq_layout

    emb = _t(spark, sf_dir, "embeddings")
    # Publish from the built-once structures (r13 shared-artifact
    # discipline): the write, the stored layout, and the read-back
    # serve path — the claims this entry pins — are unchanged.
    publish_ivfpq_layout(
        emb, "ivfpq_idx", index=_shared_full_index(spark, sf_dir)
    )
    # ADVICE r9: pin the stored partition column's dtype to the
    # in-memory frames' bigint explicitly — saveAsTable's catalog
    # schema preserves it today, but the serve path must not depend on
    # partition-type inference config. Catalyst eliminates the
    # same-type cast, so DPP on the probe join is unaffected.
    codes = spark.table("ivfpq_idx_codes").withColumn(
        "cell", F.col("cell").cast("bigint")
    )
    ann = S.ivfpq_query(
        emb,
        spark.table("ivfpq_idx_centroids"),
        spark.table("ivfpq_idx_codebooks"),
        codes,
        n_queries=8,
        k=5,
    ).localCheckpoint(eager=True)
    return _ivfpq_recall_output(
        emb, ann, exact=_shared_exact_frontier(spark, sf_dir)
    )


#: wh_ivfpq_append's base/new split point — single-sourced in the leaf
#: module (operators.similarity.IVFPQ_APPEND_BASE, ADVICE r11) so
#: beyond_streaming can consume it without importing this tier module
#: mid-initialization; re-exported here for the oracle generators and
#: existing import paths.
IVFPQ_APPEND_BASE = S.IVFPQ_APPEND_BASE


def _sql_ivfpq_append(base: int = IVFPQ_APPEND_BASE) -> str:
    """DuckDB oracle for wh_ivfpq_append: the _sql_ivf_pq replay with
    the train/encode split the append path creates — the IVF refine and
    the PQ codebook Lloyd see ONLY the base corpus (vec_id < base),
    then assignment and encoding run over ALL vectors against the
    frozen structures. The stored publish-then-append layout must
    answer exactly like this frozen-structure batch replay."""
    sd = S.PQ_SUBDIM
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    eb AS (SELECT * FROM e WHERE vec_id < {base}),
    c0 AS (SELECT vec_id AS cell, v AS cv FROM eb WHERE vec_id < 16),
    ia0 AS (SELECT eb.vec_id, eb.v, cell FROM eb, c0
            QUALIFY row_number() OVER (PARTITION BY eb.vec_id
              ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,
              cell ASC) = 1),
    ipx0 AS (SELECT cell, u.p AS pos, u.x AS val FROM ia0,
             unnest([{{'p': i, 'x': v[i]}}
                     for i in range(1, len(v) + 1)]) AS t(u)),
    icent0 AS (SELECT cell, pos,
                 CAST(sum(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
                   / count(*) AS cv_e
               FROM ipx0 GROUP BY 1, 2),
    c1 AS (SELECT cell, list(cv_e ORDER BY pos) AS cv
           FROM icent0 GROUP BY 1),
    af AS (SELECT e.vec_id, e.v, cell FROM e, c1
           QUALIFY row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,
             cell ASC) = 1),
    sub AS (SELECT af.vec_id, af.cell, r.range AS m,
                   v[r.range * {sd} + 1 : r.range * {sd} + {sd}] AS sv
            FROM af, range(0, {S.PQ_M}) r),
    subb AS (SELECT * FROM sub WHERE vec_id < {base}),
    b0 AS (SELECT m, vec_id AS code, sv AS cv FROM subb
           WHERE vec_id < {S.PQ_K}),
    pa0 AS (SELECT subb.vec_id, subb.m, subb.sv, code
            FROM subb JOIN b0 USING (m)
            QUALIFY row_number() OVER (PARTITION BY subb.vec_id, subb.m
              ORDER BY round(list_cosine_similarity(sv, cv), 6) DESC,
              code ASC) = 1),
    ppx0 AS (SELECT m, code, u.p AS pos, u.x AS val FROM pa0,
             unnest([{{'p': i, 'x': sv[i]}}
                     for i in range(1, len(sv) + 1)]) AS t(u)),
    pc0 AS (SELECT m, code, pos,
                  CAST(sum(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
                    / count(*) AS cv_e
            FROM ppx0 GROUP BY 1, 2, 3),
    b1 AS (SELECT m, code, list(cv_e ORDER BY pos) AS cv
           FROM pc0 GROUP BY 1, 2),
    enc AS (SELECT sub.vec_id, sub.cell, sub.m, sub.sv, code
            FROM sub JOIN b1 USING (m)
            QUALIFY row_number() OVER (PARTITION BY sub.vec_id, sub.m
              ORDER BY round(list_cosine_similarity(sv, cv), 6) DESC,
              code ASC) = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    probe AS (SELECT query_id, cell FROM q, c1
              QUALIFY row_number() OVER (PARTITION BY query_id
                ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC,
                cell ASC) <= 2),
    qsub AS (SELECT vec_id AS query_id, rr.range AS m,
                    v[rr.range * {sd} + 1 : rr.range * {sd} + {sd}]
                      AS qsv
             FROM e, range(0, {S.PQ_M}) rr WHERE vec_id < 8),
    lut AS (SELECT query_id, m, code,
              CAST(round(list_dot_product(qsv, cv), 6)
                   AS DECIMAL(18,6)) AS term
            FROM qsub JOIN b1 USING (m)),
    cand AS (SELECT p.query_id, enc.vec_id, enc.m, enc.code
             FROM probe p JOIN enc USING (cell)
             WHERE enc.vec_id != p.query_id),
    scores AS (SELECT c.query_id, c.vec_id,
                 CAST(sum(term) AS DOUBLE) AS approx_ip
               FROM cand c
               JOIN lut ON lut.query_id = c.query_id
                       AND lut.m = c.m AND lut.code = c.code
               GROUP BY 1, 2),
    topk AS (SELECT query_id, vec_id AS neighbor_id,
                    round(approx_ip, 6) AS approx_ip
             FROM scores
             QUALIFY row_number() OVER (PARTITION BY query_id
               ORDER BY approx_ip DESC, vec_id ASC) <= 5),
    ex AS (SELECT query_id, e.vec_id AS neighbor_id
           FROM q JOIN e ON e.vec_id != q.query_id
           QUALIFY row_number() OVER (PARTITION BY query_id
             ORDER BY round(list_cosine_similarity(qv, v), 6) DESC,
             e.vec_id ASC) <= 5),
    h AS (SELECT t.query_id, count(*) AS n_hits FROM topk t
          JOIN ex ON ex.query_id = t.query_id
                 AND ex.neighbor_id = t.neighbor_id
          GROUP BY 1)
    SELECT t.query_id, t.neighbor_id, t.approx_ip,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5, 6)
             AS recall_at_5
    FROM topk t LEFT JOIN h USING (query_id)
    ORDER BY query_id, approx_ip DESC, neighbor_id
    """


@query(
    "wh_ivfpq_append",
    _sql_ivfpq_append(),
)
def wh_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL index maintenance (sources.warehouse.
    append_ivfpq_vectors) — the freshness path between full retrains:
    the IVFPQ layout is published from the BASE corpus (vec_id < 250 —
    quantizer and codebooks train on base only), then the remaining
    vectors arrive as a new batch and are assigned/encoded against the
    FROZEN stored structures and APPENDED into the cell-partitioned
    code table — no rebuild, existing partitions untouched, one new
    file per touched cell. The query then runs over the appended
    stored layout and its recall@5 is measured against the exact
    frontier of the FULL corpus (a stale index that missed the new
    batch loses exactly the neighbors that moved).

    The oracle replays train-on-base / encode-ALL-with-frozen-
    structures in one batch, so the checked contract is: publish +
    append == frozen-structure batch encode, bit for bit — a drift in
    the frozen read-back, the assignment, the encode, or the append
    layout fails the hash. At 100 TB: the append touches only the new
    batch (one pass, cell rides the explode) and appends one file per
    occupied cell; compact_partitions is the standing repair as
    batches accumulate. Reference analogue: none."""
    emb = _t(spark, sf_dir, "embeddings")
    # The publish-on-base + append-new layout is the shared artifact
    # (r13; wh_ivfpq_compact consumes the SAME stored tables — their
    # oracles share _sql_ivfpq_append verbatim, and compaction changes
    # no row, so build order between the two is immaterial).
    prefix = _shared_appended_prefix(spark, sf_dir)
    codes = spark.table(f"{prefix}_codes").withColumn(
        "cell", F.col("cell").cast("bigint")
    )
    ann = S.ivfpq_query(
        emb,
        spark.table(f"{prefix}_centroids"),
        spark.table(f"{prefix}_codebooks"),
        codes,
        n_queries=8,
        k=5,
    ).localCheckpoint(eager=True)
    return _ivfpq_recall_output(
        emb, ann, exact=_shared_exact_frontier(spark, sf_dir)
    )


# PQ Lloyd iteration budget: single-sourced next to the operator
# (operators.similarity.IVFADC_PQ_ITERATIONS, ADVICE r10) — the plan
# call site and this oracle generator share the one constant.
IVFADC_PQ_ITERATIONS = S.IVFADC_PQ_ITERATIONS


def _sql_ivfadc_residual(
    pq_iterations: int = IVFADC_PQ_ITERATIONS, raw_leg: bool = True
) -> str:
    """DuckDB oracle for sim_ann_ivfadc_residual: the _sql_ivf_pq
    replay with the residual-encoded leg — shared IVF CTEs (seed, one
    Lloyd refine, assignment), then the residual PQ pipeline
    (r = v - centroid element-wise; L2-nearest codebooks via the MIPS
    identity argmin ||r-c||^2 = argmax (<r,c> - 0.5*<c,c>), which is
    zero-vector-safe; ADC score = exact-decimal cell term + LUT sum)
    and its recall@5 against the exact yardstick.

    ``raw_leg=True`` additionally replays a raw-vector PQ pipeline
    (cosine codebooks, no cell term — the published variant's
    semantics) over the same assignment with the same iteration
    budget and emits recall_raw_at_5 — the residual-vs-raw A/B. Since
    r11 the driver entry is the single-pipeline production path
    (VERDICT r10 ask #3: the A/B re-proved a static claim for ~5% of
    the bench suite); the two-leg comparison stays pinned locally by
    test_ivfadc_residual_beats_raw_recall over the two-leg operator."""
    sd = S.PQ_SUBDIM
    ivf_assign = (
        "(SELECT e.vec_id, e.v, cell FROM e, {cells}\n"
        "   QUALIFY row_number() OVER (PARTITION BY e.vec_id\n"
        "     ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,"
        " cell ASC) = 1)"
    )
    cos_key = "round(list_cosine_similarity(sv, cv), 6)"
    l2_key = (
        "round(list_dot_product(sv, cv)"
        " - (CAST('0.5' AS DOUBLE) * list_dot_product(cv, cv)), 6)"
    )

    def pq_leg(prefix: str, subs: str, key: str) -> list[str]:
        """Seed + ``pq_iterations`` unrolled Lloyd steps + final encode
        for one PQ pipeline (the _sql_ivf_kmeans unroll discipline)."""
        def assign(books: str) -> str:
            return (
                f"(SELECT {subs}.vec_id, {subs}.cell, {subs}.m,"
                f" {subs}.sv, code\n"
                f"   FROM {subs} JOIN {books} USING (m)\n"
                f"   QUALIFY row_number() OVER"
                f" (PARTITION BY {subs}.vec_id, {subs}.m\n"
                f"     ORDER BY {key} DESC, code ASC) = 1)"
            )

        ctes = [
            f"{prefix}b0 AS (SELECT m, vec_id AS code, sv AS cv"
            f" FROM {subs} WHERE vec_id < {S.PQ_K})"
        ]
        for i in range(pq_iterations):
            ctes += [
                f"{prefix}pa{i} AS {assign(f'{prefix}b{i}')}",
                f"{prefix}ppx{i} AS (SELECT m, code, u.p AS pos,"
                f" u.x AS val FROM {prefix}pa{i},\n"
                "             unnest([{'p': i, 'x': sv[i]}\n"
                "                     for i in range(1, len(sv) + 1)])"
                " AS t(u))",
                f"{prefix}pc{i} AS (SELECT m, code, pos,\n"
                "                  CAST(sum(CAST(val AS DECIMAL(38,12)))"
                " AS DOUBLE)\n"
                "                    / count(*) AS cv_e\n"
                f"            FROM {prefix}ppx{i} GROUP BY 1, 2, 3)",
                f"{prefix}b{i + 1} AS (SELECT m, code,"
                f" list(cv_e ORDER BY pos) AS cv\n"
                f"           FROM {prefix}pc{i} GROUP BY 1, 2)",
            ]
        ctes.append(
            f"{prefix}enc AS {assign(f'{prefix}b{pq_iterations}')}"
        )
        return ctes

    leg_list = pq_leg("r", "rsub", l2_key)
    if raw_leg:
        leg_list = pq_leg("", "sub", cos_key) + leg_list
    legs = ",\n    ".join(leg_list)
    bks = f"b{pq_iterations}"
    rbks = f"rb{pq_iterations}"
    sub_cte = (
        f"""sub AS (SELECT af.vec_id, af.cell, r.range AS m,
                   v[r.range * {sd} + 1 : r.range * {sd} + {sd}] AS sv
            FROM af, range(0, {S.PQ_M}) r),
    """
        if raw_leg
        else ""
    )
    raw_query_ctes = (
        f"""lut AS (SELECT query_id, m, code,
              CAST(round(list_dot_product(qsv, cv), 6)
                   AS DECIMAL(18,6)) AS term
            FROM qsub JOIN {bks} USING (m)),
    cand AS (SELECT p.query_id, enc.vec_id, enc.cell, enc.m, enc.code
             FROM probe p JOIN enc USING (cell)
             WHERE enc.vec_id != p.query_id),
    scores AS (SELECT c.query_id, c.vec_id,
                 CAST(sum(term) AS DOUBLE) AS approx_ip
               FROM cand c
               JOIN lut ON lut.query_id = c.query_id
                       AND lut.m = c.m AND lut.code = c.code
               GROUP BY 1, 2),
    rawtopk AS (SELECT query_id, vec_id AS neighbor_id
                FROM scores
                QUALIFY row_number() OVER (PARTITION BY query_id
                  ORDER BY approx_ip DESC, vec_id ASC) <= 5),
    """
        if raw_leg
        else ""
    )
    rawh_cte = (
        """,
    rawh AS (SELECT t.query_id, count(*) AS n_hits FROM rawtopk t
             JOIN ex ON ex.query_id = t.query_id
                    AND ex.neighbor_id = t.neighbor_id
             GROUP BY 1)"""
        if raw_leg
        else ""
    )
    raw_col = (
        """,
           round(CAST(coalesce(rawh.n_hits, 0) AS DOUBLE) / 5, 6)
             AS recall_raw_at_5"""
        if raw_leg
        else ""
    )
    raw_join = (
        "\n    LEFT JOIN rawh ON rawh.query_id = t.query_id"
        if raw_leg
        else ""
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 16),
    ia0 AS {ivf_assign.format(cells='c0')},
    ipx0 AS (SELECT cell, u.p AS pos, u.x AS val FROM ia0,
             unnest([{{'p': i, 'x': v[i]}}
                     for i in range(1, len(v) + 1)]) AS t(u)),
    icent0 AS (SELECT cell, pos,
                 CAST(sum(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
                   / count(*) AS cv_e
               FROM ipx0 GROUP BY 1, 2),
    c1 AS (SELECT cell, list(cv_e ORDER BY pos) AS cv
           FROM icent0 GROUP BY 1),
    af AS {ivf_assign.format(cells='c1')},
    {sub_cte}rv AS (SELECT af.vec_id, af.cell,
                  [v[i] - cv[i] for i in range(1, len(v) + 1)] AS r
           FROM af JOIN c1 USING (cell)),
    rsub AS (SELECT vec_id, cell, rr.range AS m,
                    r[rr.range * {sd} + 1 : rr.range * {sd} + {sd}] AS sv
             FROM rv, range(0, {S.PQ_M}) rr),
    {legs},
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    probe AS (SELECT query_id, cell,
                CAST(round(list_dot_product(qv, cv), 6)
                     AS DECIMAL(18,6)) AS ipc
              FROM q, c1
              QUALIFY row_number() OVER (PARTITION BY query_id
                ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC,
                cell ASC) <= 2),
    qsub AS (SELECT query_id, rr.range AS m,
                    qv[rr.range * {sd} + 1 : rr.range * {sd} + {sd}]
                      AS qsv
             FROM q, range(0, {S.PQ_M}) rr),
    {raw_query_ctes}rlut AS (SELECT query_id, m, code,
               CAST(round(list_dot_product(qsv, cv), 6)
                    AS DECIMAL(18,6)) AS term
             FROM qsub JOIN {rbks} USING (m)),
    rcand AS (SELECT p.query_id, renc.vec_id, renc.cell, renc.m,
                     renc.code
              FROM probe p JOIN renc USING (cell)
              WHERE renc.vec_id != p.query_id),
    radc AS (SELECT c.query_id, c.vec_id, c.cell,
                    sum(term) AS adc
             FROM rcand c
             JOIN rlut ON rlut.query_id = c.query_id
                      AND rlut.m = c.m AND rlut.code = c.code
             GROUP BY 1, 2, 3),
    rscores AS (SELECT a.query_id, a.vec_id,
                  CAST(p.ipc + a.adc AS DOUBLE) AS approx_ip
                FROM radc a
                JOIN probe p ON p.query_id = a.query_id
                            AND p.cell = a.cell),
    rtopk AS (SELECT query_id, vec_id AS neighbor_id,
                     round(approx_ip, 6) AS approx_ip
              FROM rscores
              QUALIFY row_number() OVER (PARTITION BY query_id
                ORDER BY approx_ip DESC, vec_id ASC) <= 5),
    ex AS (SELECT query_id, e.vec_id AS neighbor_id
           FROM q JOIN e ON e.vec_id != q.query_id
           QUALIFY row_number() OVER (PARTITION BY query_id
             ORDER BY round(list_cosine_similarity(qv, v), 6) DESC,
             e.vec_id ASC) <= 5),
    h AS (SELECT t.query_id, count(*) AS n_hits FROM rtopk t
          JOIN ex ON ex.query_id = t.query_id
                 AND ex.neighbor_id = t.neighbor_id
          GROUP BY 1){rawh_cte}
    SELECT t.query_id, t.neighbor_id, t.approx_ip,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5, 6)
             AS recall_at_5{raw_col}
    FROM rtopk t
    LEFT JOIN h USING (query_id){raw_join}
    ORDER BY query_id, approx_ip DESC, neighbor_id
    """


@query(
    "sim_ann_ivfadc_residual",
    _sql_ivfadc_residual(raw_leg=False),
)
def sim_ann_ivfadc_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with RESIDUAL encoding — the fidelity step Jegou et al.'s
    actual IVFADC takes over sim_ann_ivf_pq's raw-vector PQ: each
    vector is compressed as PQ codes of x - c(x) (the residual against
    its Lloyd-refined cell centroid), and a query scores a candidate as
    the exact cell term round(<q, c>, 6) plus the ADC LUT sum — the
    decomposition <q, x> ~ <q, c> + <q, r> that makes PQ accurate at
    high compression (residuals are small and centered, so the 8-entry
    codebooks spend their resolution where the variance actually is).

    Built by operators.similarity.topk_ann_ivfadc_residual (the
    SINGLE-pipeline production path — VERDICT r10 ask #3: the r10 form
    rebuilt a second, raw-vector PQ pipeline every round just to
    re-prove the static 'residual >= raw' claim, ~5% of the whole
    bench suite; that A/B now lives in
    test_ivfadc_residual_beats_raw_recall over the two-leg operator,
    while this entry pins the pipeline a production index would
    actually serve). recall_at_5 against the exact brute-force
    yardstick stays inside the driver hash; the oracle replays the
    build bit-for-bit (IVF CTEs + the residual PQ pipeline).

    Plan shape is the capstone's: one corpus pass for the inverted
    file (cell rides the subvector explode), codebooks / LUT / probe /
    cell terms broadcast, the only shuffle is the ADC aggregation.
    Reference analogue: none (beyond-reference LLM-pipeline tier)."""
    emb = _t(spark, sf_dir, "embeddings")
    # The coarse quantizer is the shared built-once one (r13): the
    # residual pipeline's IVF is seeds<16 + one Lloyd over the full
    # corpus — exactly the build_ivfpq_index cells. The residual
    # codebooks/encode/ADC (this entry's claim) still run in full.
    cells, _, _ = _shared_full_index(spark, sf_dir)
    ann_res = S.topk_ann_ivfadc_residual(
        emb, n_queries=8, k=5, pq_iterations=S.IVFADC_PQ_ITERATIONS,
        prebuilt_cells=cells,
    ).localCheckpoint(eager=True)
    exact = _shared_exact_frontier(spark, sf_dir)
    hits = (
        ann_res.join(F.broadcast(exact), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        ann_res.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "neighbor_id",
            "approx_ip",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / 5, 6
            ).alias("recall_at_5"),
        )
        .orderBy("query_id", F.desc("approx_ip"), "neighbor_id")
    )


@query(
    "sim_quantize_int8",
    """
    WITH v AS (
      SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
    s AS (
      SELECT vec_id, v, list_max([abs(x) for x in v]) / 127 AS scale FROM v)
    SELECT vec_id,
           CAST(len(v) AS BIGINT) AS n_dims,
           round(scale, 9) AS scale9,
           array_to_string(
             [CAST(CASE WHEN scale = 0 THEN 0
                        WHEN x >= 0 THEN floor(x / scale + 0.5)
                        ELSE -floor(-x / scale + 0.5) END AS BIGINT)
              for x in v], ',') AS codes_csv
    FROM s ORDER BY vec_id
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization (operators.similarity.quantize_int8):
    per-vector symmetric scale + half-away-from-zero codes, byte-pinned
    by an oracle that reproduces the same float64 arithmetic over the
    same float32 inputs — codes AND scales must match exactly, so a
    rounding-mode drift (numpy's half-to-even default, for instance)
    fails the gate."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.quantize_int8(emb).orderBy("vec_id")


# ---------------------------------------------------------------------------
# sim_ndcg_at_k: ranking-quality eval of the ANN path (graded NDCG@5)
# ---------------------------------------------------------------------------

import math as _math

#: Position discounts 1/log2(i+1), i = 1..5, entering BOTH engines as
#: repr-exact string literals (libm log2 is not correctly-rounded across
#: implementations, so the constants are computed ONCE here instead of
#: in-engine — the _PR_TP pattern).
_NDCG_DISC = {i: repr(1.0 / _math.log2(i + 1)) for i in range(1, 6)}

_NDCG_DISC_SQL = " ".join(
    f"WHEN {i} THEN CAST('{w}' AS DOUBLE)" for i, w in _NDCG_DISC.items()
)


@query(
    "sim_ndcg_at_k",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    ex AS (
      SELECT query_id, neighbor_id, r FROM (
        SELECT query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY round(list_cosine_similarity(qv, v), 6) DESC,
                          e.vec_id ASC) AS r
        FROM q JOIN e ON e.vec_id != q.query_id)
      WHERE r <= 5),
    b AS (SELECT vec_id, v,
            list_sum([CASE WHEN v[i+1] > 0 THEN 1::BIGINT << i ELSE 0 END
                      for i in range(0, {{SIGN_BITS}})])::BIGINT AS bkt
          FROM e),
    qb AS (SELECT vec_id AS query_id, v AS qv, bkt AS qbkt
           FROM b WHERE vec_id < 8),
    ann AS (
      SELECT query_id, neighbor_id, pos FROM (
        SELECT query_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY round(list_cosine_similarity(qv, v), 6) DESC,
                          b.vec_id ASC) AS pos
        FROM qb JOIN b ON b.bkt = qb.qbkt AND b.vec_id != qb.query_id)
      WHERE pos <= 5),
    dcg AS (
      SELECT a.query_id,
             sum(CAST(round((6 - ex.r)
                            * CASE a.pos {_NDCG_DISC_SQL} END, 6)
                      AS DECIMAL(18,6))) AS dcg_dec
      FROM ann a JOIN ex ON ex.query_id = a.query_id
                        AND ex.neighbor_id = a.neighbor_id
      GROUP BY 1),
    idcg AS (
      SELECT query_id,
             sum(CAST(round((6 - r)
                            * CASE r {_NDCG_DISC_SQL} END, 6)
                      AS DECIMAL(18,6))) AS idcg_dec
      FROM ex GROUP BY 1),
    na AS (SELECT query_id, count(*) AS n_ann FROM ann GROUP BY 1),
    qs AS (SELECT DISTINCT query_id FROM ex)
    SELECT qs.query_id,
           CAST(coalesce(na.n_ann, 0) AS BIGINT) AS n_ann,
           CAST(coalesce(dcg.dcg_dec, CAST(0 AS DECIMAL(18,6)))
                AS DOUBLE) AS dcg,
           CAST(idcg.idcg_dec AS DOUBLE) AS idcg,
           round(CAST(coalesce(dcg.dcg_dec, CAST(0 AS DECIMAL(18,6)))
                      AS DOUBLE)
                 / CAST(idcg.idcg_dec AS DOUBLE), 6) AS ndcg_at_5
    FROM qs
    LEFT JOIN na USING (query_id)
    LEFT JOIN dcg ON dcg.query_id = qs.query_id
    JOIN idcg ON idcg.query_id = qs.query_id
    ORDER BY qs.query_id
    """.replace("{SIGN_BITS}", str(S.SIGN_BITS)),
)
def sim_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded RANKING quality of the ANN path — NDCG@5 of sign-LSH
    retrieval against the exact brute-force top-5, per query. The
    recall sibling (sim_recall_at_k) counts set overlap; this scores
    ORDER: an exact neighbor surfaced at ANN position 1 is worth more
    than at position 5 (discount 1/log2(pos+1)), with graded relevance
    6 - exact_rank, so the pair separates 'found the right docs' from
    'ranked them right' — the second number a 100 TB vector deployment
    tunes against (reranker budgets, nprobe).

    Exactness: libm log2 is not correctly-rounded across engines, so
    the five position discounts enter BOTH plans as repr-exact Python
    literals; each DCG term is rounded to 6dp and summed as
    DECIMAL(18,6) (order-independent exact sum), IDCG is computed by
    the same machinery over the exact list's own ranks, and the final
    ratio is one identically-parenthesized double division. Composes
    the two already-oracled retrieval pipelines; the oracle re-derives
    both plus the scoring. Reference analogue: none."""
    emb = _t(spark, sf_dir, "embeddings")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    exact = (
        S.topk_bruteforce(emb, n_queries=8, k=5)
        .withColumn("r", F.row_number().over(w))
        .select("query_id", "neighbor_id", "r")
    )
    ann = (
        S.topk_ann_signlsh(emb, n_queries=8, k=5)
        .withColumn("pos", F.row_number().over(w))
        .select("query_id", "neighbor_id", "pos")
    )

    def _disc(col: str) -> F.Column:
        expr = F.lit(None).cast("double")
        c = F.col(col)
        for i, wstr in _NDCG_DISC.items():
            expr = F.when(c == i, F.lit(float(wstr))).otherwise(expr)
        return expr

    term = lambda rel, pos: F.round(rel * _disc(pos), 6).cast(  # noqa: E731
        "decimal(18,6)"
    )
    dcg = (
        ann.join(F.broadcast(exact), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.sum(term(6 - F.col("r"), "pos")).alias("dcg_dec"))
    )
    idcg = exact.groupBy("query_id").agg(
        F.sum(term(6 - F.col("r"), "r")).alias("idcg_dec")
    )
    na = ann.groupBy("query_id").agg(F.count("*").alias("n_ann"))
    qs = exact.select("query_id").distinct()
    zero = F.lit(0).cast("decimal(18,6)")
    dcg_d = F.coalesce("dcg_dec", zero).cast("double")
    idcg_d = F.col("idcg_dec").cast("double")
    return (
        qs.join(F.broadcast(na), "query_id", "left")
        .join(F.broadcast(dcg), "query_id", "left")
        .join(F.broadcast(idcg), "query_id")
        .select(
            "query_id",
            F.coalesce("n_ann", F.lit(0)).cast("bigint").alias("n_ann"),
            dcg_d.alias("dcg"),
            idcg_d.alias("idcg"),
            F.round(dcg_d / idcg_d, 6).alias("ndcg_at_5"),
        )
        .orderBy("query_id")
    )


#: sim_ivfpq_drift cohort boundaries — single-sourced in the leaf
#: module (operators.similarity.IVFPQ_DRIFT_TRAIN, ADVICE r11; same
#: reasoning as IVFPQ_APPEND_BASE above), re-exported here.
IVFPQ_DRIFT_TRAIN = S.IVFPQ_DRIFT_TRAIN


@query(
    "sim_ivfpq_drift",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    et AS (SELECT * FROM e WHERE vec_id < {IVFPQ_DRIFT_TRAIN}),
    c0 AS (SELECT vec_id AS cell, v AS cv FROM et WHERE vec_id < 16),
    ia0 AS (SELECT et.vec_id, et.v, cell FROM et, c0
            QUALIFY row_number() OVER (PARTITION BY et.vec_id
              ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,
              cell ASC) = 1),
    ipx0 AS (SELECT cell, u.p AS pos, u.x AS val FROM ia0,
             unnest([{{'p': i, 'x': v[i]}}
                     for i in range(1, len(v) + 1)]) AS t(u)),
    icent0 AS (SELECT cell, pos,
                 CAST(sum(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
                   / count(*) AS cv_e
               FROM ipx0 GROUP BY 1, 2),
    c1 AS (SELECT cell, list(cv_e ORDER BY pos) AS cv
           FROM icent0 GROUP BY 1),
    co AS (
      SELECT 'base_insample' AS cohort, vec_id, v FROM e
      WHERE vec_id < {IVFPQ_DRIFT_TRAIN}
      UNION ALL
      SELECT 'base_holdout', vec_id, v FROM e
      WHERE vec_id >= {IVFPQ_DRIFT_TRAIN} AND vec_id < {IVFPQ_APPEND_BASE}
      UNION ALL
      SELECT 'new_iid', vec_id, v FROM e
      WHERE vec_id >= {IVFPQ_APPEND_BASE}
      UNION ALL
      SELECT 'new_shifted', vec_id,
             [x * CAST('0.05' AS DOUBLE) + CAST('1.0' AS DOUBLE)
              for x in v]
      FROM e WHERE vec_id >= {IVFPQ_APPEND_BASE}),
    af AS (SELECT co.cohort, co.vec_id, cell,
                  CAST(round(list_cosine_similarity(v, cv), 6)
                       AS DECIMAL(18,6)) AS q
           FROM co, c1
           QUALIFY row_number() OVER (PARTITION BY co.cohort, co.vec_id
             ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,
             cell ASC) = 1),
    gc AS (SELECT cohort, cell, count(*) AS nc, sum(q) AS sq
           FROM af GROUP BY 1, 2),
    g AS (SELECT cohort, sum(nc) AS n, sum(sq) AS sq, max(nc) AS max_nc
          FROM gc GROUP BY 1)
    SELECT cohort, CAST(n AS BIGINT) AS n,
           round(CAST(sq AS DOUBLE) / n, 6) AS mean_cos6,
           round(CAST(max_nc AS DOUBLE) / n, 6) AS max_share6,
           round(CAST(max_nc AS DOUBLE) / n, 6) > CAST('0.5' AS DOUBLE)
             AS drifted
    FROM g ORDER BY cohort
    """,
)
def sim_ivfpq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RETRAIN-trigger monitor that closes the index lifecycle
    (build -> publish -> serve -> append -> MONITOR): per arriving
    cohort, the frozen quantizer's fit (mean rounded cosine to the
    assigned centroid, exact DECIMAL mean) and occupancy concentration
    (max single-cell share). Four cohorts tell the whole calibration
    story inside one hash: base_insample shows the OPTIMISM BIAS a
    naive monitor trips over (vectors fit their own Lloyd means ~0.39
    vs ~0.21 out-of-sample — an earlier per-cell fit-gap design
    flagged ALL 16 cells "drifted" on iid data for exactly this
    reason); base_holdout is the honest yardstick; new_iid (the
    wh_ivfpq_append batch) matches the holdout and must NOT flag; and
    new_shifted — a planted concentrated batch (x * 0.05 + 1, every
    vector crowding one direction) — collapses occupancy to
    max_share = 1.0 and MUST flag (the spike-in discipline: known
    ground truth, 0 < flagged < m at every scale). The drift decision
    compares the same rounded max_share6 the output emits against a
    repr-CAST 0.5 threshold (the qa_fdr rounding discipline).

    Scale: one corpus pass per cohort against the broadcast centroid
    table, ONE shuffle to (cohort, cell) groups, 4-row output.
    Reference analogue: none (beyond-reference LLM-pipeline tier)."""
    vecs = S._vecs(_t(spark, sf_dir, "embeddings"))
    train = vecs.filter(F.col("vec_id") < IVFPQ_DRIFT_TRAIN)
    seeds = train.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    cells = S.refine_centroids(train, seeds).localCheckpoint(eager=True)
    shifted = F.expr(
        "transform(v, x -> x * CAST('0.05' AS DOUBLE)"
        " + CAST('1.0' AS DOUBLE))"
    )
    co = (
        train.select(F.lit("base_insample").alias("cohort"), "vec_id", "v")
        .unionAll(
            vecs.filter(
                (F.col("vec_id") >= IVFPQ_DRIFT_TRAIN)
                & (F.col("vec_id") < IVFPQ_APPEND_BASE)
            ).select(F.lit("base_holdout").alias("cohort"), "vec_id", "v")
        )
        .unionAll(
            vecs.filter(F.col("vec_id") >= IVFPQ_APPEND_BASE).select(
                F.lit("new_iid").alias("cohort"), "vec_id", "v"
            )
        )
        .unionAll(
            vecs.filter(F.col("vec_id") >= IVFPQ_APPEND_BASE).select(
                F.lit("new_shifted").alias("cohort"),
                "vec_id",
                shifted.alias("v"),
            )
        )
    )
    # shuffle-free nearest-cell + fit score (r16: was a corpus x cells
    # crossJoin ranked by a row_number window — one full Exchange per
    # monitored cohort union; identical (cell, score) per row)
    af = S.nearest_cell_scored(co, cells, ["cohort"]).select(
        "cohort",
        "cell",
        F.col("cell_cos").cast("decimal(18,6)").alias("q"),
    )
    gc = af.groupBy("cohort", "cell").agg(
        F.count("*").alias("nc"), F.sum("q").alias("sq")
    )
    g = gc.groupBy("cohort").agg(
        F.sum("nc").alias("n"),
        F.sum("sq").alias("sq"),
        F.max("nc").alias("max_nc"),
    )
    return g.selectExpr(
        "cohort",
        "CAST(n AS BIGINT) AS n",
        "round(CAST(sq AS DOUBLE) / n, 6) AS mean_cos6",
        "round(CAST(max_nc AS DOUBLE) / n, 6) AS max_share6",
        "round(CAST(max_nc AS DOUBLE) / n, 6) > CAST('0.5' AS DOUBLE)"
        " AS drifted",
    ).orderBy("cohort")


# ---------------------------------------------------------------------------
# wh_ivfpq_retrain: the ACTION the drift monitor triggers (VERDICT r10
# ask #4 — monitor -> retrain -> republish -> verify, as a checked
# contract)
# ---------------------------------------------------------------------------

#: The drifted cohort arrives under offset ids so the post-drift corpus
#: (base + shifted batch) is one frame with distinct identities.
IVFPQ_RETRAIN_ID_OFFSET = 1_000_000

#: fit_gain6 decision threshold, entering both engines as a repr-CAST
#: literal (the qa_fdr rounding discipline). Calibrated against the
#: planted separation: the blob's fit jumps ~0.2 -> ~1.0 on retrain
#: (gain > 0.5 at every fixture scale), while base_insample moves by
#: < 0.05; 0.25 sits an order of magnitude inside both margins.
IVFPQ_RETRAIN_GAIN_THR = "0.25"


def _sql_ivfpq_retrain(
    base: int = IVFPQ_APPEND_BASE, off: int = IVFPQ_RETRAIN_ID_OFFSET
) -> str:
    """DuckDB oracle for wh_ivfpq_retrain: both quantizer trainings
    replayed (frozen = seeds + one Lloyd over base only — the published
    index's centroids; retrained = same seeds + one Lloyd over
    base + shifted batch — what publish_ivfpq_layout recomputes), then
    the monitor pass over both cohorts against both centroid tables,
    with the decision taken from the same rounded fit gains the output
    emits."""
    lloyd = (
        "(SELECT cell, list(cv_e ORDER BY pos) AS cv FROM (\n"
        "   SELECT cell, pos,\n"
        "          CAST(sum(CAST(val AS DECIMAL(38,12))) AS DOUBLE)\n"
        "            / count(*) AS cv_e\n"
        "   FROM (SELECT cell, u.p AS pos, u.x AS val FROM {assign},\n"
        "         unnest([{{'p': i, 'x': v[i]}}\n"
        "                 for i in range(1, len(v) + 1)]) AS t(u))\n"
        "   GROUP BY 1, 2) GROUP BY 1)"
    )
    assign = (
        "(SELECT {src}.vec_id, {src}.v, cell FROM {src}, c0\n"
        "   QUALIFY row_number() OVER (PARTITION BY {src}.vec_id\n"
        "     ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,"
        " cell ASC) = 1)"
    )
    monitor = (
        "(SELECT cohort, CAST(sum(nc) AS BIGINT) AS n,\n"
        "        round(CAST(sum(sq) AS DOUBLE) / sum(nc), 6) AS fit6,\n"
        "        round(CAST(max(nc) AS DOUBLE) / sum(nc), 6) AS share6\n"
        " FROM (SELECT cohort, cell, count(*) AS nc, sum(q) AS sq\n"
        "       FROM (SELECT co.cohort, co.vec_id, cell,\n"
        "                    CAST(round(list_cosine_similarity(v, cv), 6)\n"
        "                         AS DECIMAL(18,6)) AS q\n"
        "             FROM co, {cells}\n"
        "             QUALIFY row_number() OVER (\n"
        "               PARTITION BY co.cohort, co.vec_id\n"
        "               ORDER BY round(list_cosine_similarity(v, cv), 6)"
        " DESC, cell ASC) = 1)\n"
        "       GROUP BY 1, 2)\n"
        " GROUP BY 1)"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    eb AS (SELECT * FROM e WHERE vec_id < {base}),
    sh AS (SELECT vec_id + {off} AS vec_id,
                  [x * CAST('0.05' AS DOUBLE) + CAST('1.0' AS DOUBLE)
                   for x in v] AS v
           FROM e WHERE vec_id >= {base}),
    c2 AS (SELECT * FROM eb UNION ALL SELECT * FROM sh),
    c0 AS (SELECT vec_id AS cell, v AS cv FROM eb WHERE vec_id < 16),
    iaf AS {assign.format(src='eb')},
    cf AS {lloyd.format(assign='iaf')},
    iar AS {assign.format(src='c2')},
    cr AS {lloyd.format(assign='iar')},
    co AS (
      SELECT 'base_insample' AS cohort, vec_id, v FROM eb
      UNION ALL
      SELECT 'new_shifted', vec_id, v FROM sh),
    mf AS {monitor.format(cells='cf')},
    mr AS {monitor.format(cells='cr')},
    j AS (SELECT mf.cohort, mf.n,
                 mf.fit6 AS fit_frozen6, mf.share6 AS share_frozen6,
                 mr.fit6 AS fit_retrained6,
                 mr.share6 AS share_retrained6
          FROM mf JOIN mr ON mf.cohort = mr.cohort)
    SELECT cohort, n, fit_frozen6, share_frozen6, fit_retrained6,
           share_retrained6,
           round(fit_retrained6 - fit_frozen6, 6) AS fit_gain6,
           round(fit_retrained6 - fit_frozen6, 6)
             > CAST('{IVFPQ_RETRAIN_GAIN_THR}' AS DOUBLE)
             AS retrain_effective
    FROM j ORDER BY cohort
    """


@query(
    "wh_ivfpq_retrain",
    _sql_ivfpq_retrain(),
)
def wh_ivfpq_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRAIN-ON-DRIFT — the action sim_ivfpq_drift's flag triggers,
    closing the index lifecycle's control loop (build -> publish ->
    serve -> append -> monitor -> RETRAIN -> republish -> verify): the
    monitor-flagged concentrated batch (the same x*0.05+1 plant,
    arriving under offset ids) joins the base corpus, quantizer AND
    codebooks are retrained on base+new, and the index is REPUBLISHED
    through sources.warehouse.publish_ivfpq_layout under the frozen-
    layout discipline; the verification pass then re-runs the drift
    monitor's fit metric for both cohorts against the FROZEN centroids
    and the READ-BACK republished centroids, so stored == recomputed
    rides inside the hash along with the verification itself.

    The pinned contract is FIT restoration, not recall: the planted
    blob is a point mass, and a point mass occupies exactly one cell
    under ANY centroidal quantizer (share_retrained6 stays 1.0 —
    occupancy concentration is a property of the cohort, invariant
    under retraining), while exact cosine top-5 among its near-
    identical members is a tie-break lottery that CANNOT separate a
    good index from a bad one (measured on this fixture: stale and
    retrained recall@5 both sit in noise at every scale and every
    shift magnitude tried — the honest negative result that moved this
    contract off recall). What retraining actually buys is quantization
    fidelity: the blob's mean rounded cosine to its assigned centroid
    jumps from ~0.2 (best of 16 base directions) to ~1.0 (a centroid
    lands in the blob), which is the term that drives IVFADC's ADC
    error. Decisions are taken from the emitted rounded values
    (fit_gain6 > 0.25, repr-CAST threshold): new_shifted MUST flip
    retrain_effective true, base_insample MUST stay false (retraining
    must not pretend to improve the healthy cohort) — the spike-in
    discipline, 0 < effective < m.

    At 100 TB: retrain is the monitor-triggered batch job (one corpus
    pass per Lloyd iteration, broadcast centroid tables, the publish
    write); the verification is one pass over each cohort against two
    broadcast sidecars, 2-row output. Reference analogue: none
    (beyond-reference LLM-pipeline tier)."""
    from ..sources.warehouse import publish_ivfpq_layout

    vecs = S._vecs(_t(spark, sf_dir, "embeddings"))
    base = vecs.filter(F.col("vec_id") < IVFPQ_APPEND_BASE)
    shifted = vecs.filter(F.col("vec_id") >= IVFPQ_APPEND_BASE).select(
        (F.col("vec_id") + F.lit(IVFPQ_RETRAIN_ID_OFFSET)).alias("vec_id"),
        F.expr(
            "transform(v, x -> x * CAST('0.05' AS DOUBLE)"
            " + CAST('1.0' AS DOUBLE))"
        ).alias("v"),
    )
    corpus = base.unionAll(shifted)
    # the frozen quantizer: the centroids the base-published index
    # serves (seeds vec_id < 16, one Lloyd over base — exactly
    # wh_ivfpq_publish's build on the base corpus). Since r13 it is
    # read BACK from the shared base-published layout
    # (_shared_appended_prefix trains on the identical base corpus and
    # parquet round-trips the doubles exactly) — the monitor now runs
    # against genuinely STORED frozen centroids, which is what a
    # production monitor does, and the bench stops rebuilding a
    # quantizer two sibling entries already build.
    frozen = spark.table(
        f"{_shared_appended_prefix(spark, sf_dir)}_centroids"
    ).localCheckpoint(eager=True)
    # retrain on base+new and REPUBLISH the full layout (quantizer,
    # codebooks, cell-partitioned codes); the monitor below reads the
    # centroid sidecar BACK from storage — a lossy write or schema
    # drift in the republish shifts every retrained-fit column
    publish_ivfpq_layout(
        corpus.select("vec_id", F.col("v").alias("embedding")),
        "ivfpq_retrain",
    )
    retrained = spark.table("ivfpq_retrain_centroids").localCheckpoint(
        eager=True
    )
    co = base.select(
        F.lit("base_insample").alias("cohort"), "vec_id", "v"
    ).unionAll(
        shifted.select(F.lit("new_shifted").alias("cohort"), "vec_id", "v")
    )

    def monitor(cells: DataFrame, tag: str) -> DataFrame:
        # shuffle-free nearest-cell + fit score (r16: was a corpus x
        # cells crossJoin ranked by a row_number window — identical
        # (cell, score) per row, zero Exchange)
        af = S.nearest_cell_scored(co, cells, ["cohort"]).select(
            "cohort",
            "cell",
            F.col("cell_cos").cast("decimal(18,6)").alias("q"),
        )
        gc = af.groupBy("cohort", "cell").agg(
            F.count("*").alias("nc"), F.sum("q").alias("sq")
        )
        return gc.groupBy("cohort").agg(
            F.sum("nc").alias("n"),
            F.sum("sq").alias("sq"),
            F.max("nc").alias("mx"),
        ).selectExpr(
            "cohort",
            "CAST(n AS BIGINT) AS n",
            f"round(CAST(sq AS DOUBLE) / n, 6) AS fit_{tag}6",
            f"round(CAST(mx AS DOUBLE) / n, 6) AS share_{tag}6",
        )
    mf = monitor(frozen, "frozen")
    mr = monitor(retrained, "retrained").withColumnRenamed("n", "n_r")
    return (
        mf.join(mr, "cohort")
        .selectExpr(
            "cohort",
            "n",
            "fit_frozen6",
            "share_frozen6",
            "fit_retrained6",
            "share_retrained6",
            "round(fit_retrained6 - fit_frozen6, 6) AS fit_gain6",
            "round(fit_retrained6 - fit_frozen6, 6)"
            f" > CAST('{IVFPQ_RETRAIN_GAIN_THR}' AS DOUBLE)"
            " AS retrain_effective",
        )
        .orderBy("cohort")
    )


@query(
    "wh_ivfpq_compact",
    # Shares wh_ivfpq_append's oracle STRING VERBATIM (the
    # wh_ivfpq_publish twin discipline, third application): small-files
    # COMPACTION of the appended index layout must not change a single
    # answer — publish-on-base + append + compact must still equal the
    # frozen-structure batch encode, bit for bit.
    _sql_ivfpq_append(),
)
def wh_ivfpq_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files COMPACTION on the live index layout — the standing
    repair wh_ivfpq_append's docstring promises: each appended batch
    adds one file per touched cell, so after enough batches every probe
    pays a task-scheduling storm of tiny files; compact_partitions
    rewrites the over-fragmented cell partitions down to one file each
    (file-listing victim pick, partition-pruned read, dynamic
    partition overwrite — healthy cells' files untouched). The query
    then serves from the COMPACTED stored layout, and the oracle —
    wh_ivfpq_append's train-on-base / encode-all replay, shared
    verbatim — pins that compaction changed NOTHING: a dropped row, a
    doubled row, or a partition misplaced by the rewrite shifts the
    top-5 or the recall column. The lifecycle is now closed end to end
    on one artifact: publish -> append -> COMPACT -> serve -> monitor
    -> retrain. Fragmentation-then-one-file-per-cell is asserted
    test-side (file counts are outside the hash's reach).

    At 100 TB: victims are picked from a file LISTING (no data read),
    only fragmented partitions are read (partition pruning), and the
    rewrite is one task per cell — the maintenance job scales with
    fragmentation, not corpus size. Reference analogue: none."""
    from ..sources.warehouse import compact_partitions

    emb = _t(spark, sf_dir, "embeddings")
    # The publish-on-base + append-new layout is the shared artifact
    # (r13; shared with wh_ivfpq_append — same stored tables, oracles
    # share _sql_ivfpq_append verbatim). Fresh build: publish wrote one
    # file per occupied cell, the append added one more per touched
    # cell -> touched cells are at >= 2 files and are compacted back
    # to one; untouched cells are left alone. Re-entry (already
    # compacted this session): victims=[] and the serve proves the
    # same changed-NOTHING contract. The fragmentation-then-one-file
    # file-count claim is asserted test-side on a private prefix.
    prefix = _shared_appended_prefix(spark, sf_dir)
    compact_partitions(spark, f"{prefix}_codes", "cell", min_files=2)
    codes = spark.table(f"{prefix}_codes").withColumn(
        "cell", F.col("cell").cast("bigint")
    )
    ann = S.ivfpq_query(
        emb,
        spark.table(f"{prefix}_centroids"),
        spark.table(f"{prefix}_codebooks"),
        codes,
        n_queries=8,
        k=5,
    ).localCheckpoint(eager=True)
    return _ivfpq_recall_output(
        emb, ann, exact=_shared_exact_frontier(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# sim_pca_power: top principal component by distributed power iteration
# (r11; r12 queue)
# ---------------------------------------------------------------------------

#: Power-iteration budget (each iteration = one shuffle over the
#: exploded corpus + a 64-row iterate update; the oracle unrolls the
#: same count).
PCA_POWER_ITERATIONS = 3


def _sql_pca_power(iterations: int = PCA_POWER_ITERATIONS) -> str:
    """DuckDB oracle for sim_pca_power: the identical power iteration
    unrolled — per-dimension DECIMAL-exact centering mean, then per
    iteration a vec_id-partitioned window sum for s_i = <v_i - mu, x>,
    a 64-group DECIMAL-exact aggregation for y = sum_i (v_i - mu) s_i,
    a DECIMAL-exact norm, and the 9-dp-rounded normalized iterate
    (every accumulation is a DECIMAL(38,12) term-cast sum — the
    refine_centroids idiom — so each iterate is bit-identical across
    engines and re-enters the next round as the same doubles)."""
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "ex AS (SELECT vec_id, u.p - 1 AS pos, u.x AS val FROM e,\n"
        "       unnest([{'p': i, 'x': v[i]}\n"
        "               for i in range(1, len(v) + 1)]) AS t(u))",
        "mu AS (SELECT pos,\n"
        "         CAST(sum(CAST(val AS DECIMAL(38,12))) AS DOUBLE)\n"
        "           / count(*) AS mu\n"
        "       FROM ex GROUP BY 1)",
        "c AS (SELECT vec_id, ex.pos AS pos, val - mu AS cv\n"
        "      FROM ex JOIN mu USING (pos))",
        "x0 AS (SELECT pos, CAST('0.125' AS DOUBLE) AS x FROM mu)",
    ]
    for i in range(iterations):
        ctes += [
            f"p{i} AS (SELECT vec_id, c.pos AS pos, cv,\n"
            f"           CAST(cv * x AS DECIMAL(38,12)) AS t\n"
            f"         FROM c JOIN x{i} USING (pos))",
            f"s{i} AS (SELECT vec_id, pos, cv,\n"
            f"           CAST(sum(t) OVER (PARTITION BY vec_id)"
            f" AS DOUBLE) AS s\n"
            f"         FROM p{i})",
            f"y{i} AS (SELECT pos,\n"
            f"           CAST(sum(CAST(cv * s AS DECIMAL(38,12)))"
            f" AS DOUBLE) AS y\n"
            f"         FROM s{i} GROUP BY 1)",
            f"n{i} AS (SELECT sqrt(CAST(sum(CAST(y * y"
            f" AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM y{i})",
            f"x{i + 1} AS (SELECT pos, round(y / nrm, 9) AS x\n"
            f"         FROM y{i}, n{i})",
        ]
    last = iterations
    ctes.append(
        f"sgn AS (SELECT CASE WHEN x < 0 THEN CAST(-1 AS DOUBLE)\n"
        f"               ELSE CAST(1 AS DOUBLE) END AS sgn\n"
        f"        FROM x{last} WHERE pos = 0)"
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT CAST(x{last}.pos AS INTEGER) AS pos,
           round(mu, 9) AS mu9,
           round(x * sgn, 9) AS pc1_9,
           (SELECT round(nrm / (SELECT count(*) FROM e), 9)
            FROM n{last - 1}) AS lambda9
    FROM x{last} JOIN mu USING (pos), sgn
    ORDER BY pos
    """
    )


@query(
    "sim_pca_power",
    _sql_pca_power(),
)
def sim_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PRINCIPAL COMPONENT of the embedding corpus by distributed
    power iteration (operators.similarity.pca_power_top1) — the
    whitening / compression prep an embedding pipeline runs before
    indexing (rotating vectors onto principal axes before PQ is the
    classic OPQ-lite move; the ANN recall audit showed exactly where
    PQ resolution goes to waste on unrotated isotropic data). The
    covariance matrix is never materialized: each iteration applies
    C = (1/n) Σ (v-μ)(v-μ)ᵀ to the iterate as a vec_id-partitioned
    window sum (s_i = <v_i - μ, x>) plus one 64-group aggregation —
    one shuffle per iteration, iterate state is d doubles, no driver
    collect, no d×d anywhere.

    The oracle unrolls the identical 3 iterations, so every
    intermediate iterate — not just the final component — is inside
    the hash: a wrong mean, a drifted accumulation, a missed
    normalization, or a sign-convention break anywhere in the loop
    shifts pc1_9 or lambda9. All accumulations are DECIMAL(38,12)
    term-cast sums (the refine_centroids idiom), iterates re-enter
    rounded to 9 dp, and the start vector is the exact double 1/8 on
    all 64 positions (unit norm by construction). Output: 64 rows of
    (pos, mu9, pc1_9, lambda9). Reference analogue: none
    (beyond-reference LLM-pipeline tier)."""
    return S.pca_power_top1(
        _t(spark, sf_dir, "embeddings"), iterations=PCA_POWER_ITERATIONS
    )


# ---------------------------------------------------------------------------
# sim_ann_pq256: PRODUCTION-SIZED PQ via the frozen-constant pattern
# (r12; VERDICT r11 ask #2)
# ---------------------------------------------------------------------------


def _sql_pq256(
    n_queries: int = 8,
    k: int = 5,
    shortlist: int | None = None,
    extra_ctes: str = "",
    corpus_sql: str = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings",
    packed: tuple[str, ...] | None = None,
) -> str:
    """DuckDB oracle for sim_ann_pq256: the frozen 256-code books
    (operators.pq256_book, integer thousandths decoded as
    CAST(x AS DOUBLE) / 1000.0 — exact IEEE parity with the Spark
    frame's int / 1000.0) replayed statically through encode (L2
    assignment via the rounded MIPS identity), ADC (rounded dot terms
    summed as exact DECIMAL), the 50-deep shortlist, and the exact
    cosine re-rank. The tx_bpe_apply64 pattern: training happened ONCE
    offline (tools/train_pq256.py); the oracle never unrolls it, so a
    production-sized codebook costs the oracle nothing. ``packed``
    swaps in a sibling frozen book table (the rotated-trained
    pq256r_book for sim_ann_opq256); default is the unrotated books."""
    from ..operators import pq256_book as B

    if shortlist is None:
        shortlist = S.PQ256_SHORTLIST
    if packed is None:
        packed = B.PQ256_PACKED
    vals = ",\n      ".join(
        f"({m}, '{s}')" for m, s in enumerate(packed)
    )
    sd = B.SUBDIM
    return f"""
    WITH {extra_ctes}braw AS (SELECT * FROM (VALUES {vals}) b(m, s)),
    bsplit AS (SELECT m, string_split(s, '|') AS cs FROM braw),
    bk AS (SELECT m, (u.p - 1) // {sd} AS code, (u.p - 1) % {sd} AS pos,
                  CAST(u.c AS DOUBLE) / 1000.0 AS bv
           FROM bsplit, unnest([{{'p': i, 'c': cs[i]}}
                                for i in range(1, len(cs) + 1)]) AS t(u)),
    books AS (SELECT CAST(m AS INTEGER) AS m, CAST(code AS INTEGER) AS code,
                     list(bv ORDER BY pos) AS cv
              FROM bk GROUP BY 1, 2),
    e AS ({corpus_sql}),
    sub AS (SELECT vec_id, r.range AS m,
                   v[r.range * {sd} + 1 : r.range * {sd} + {sd}] AS sv
            FROM e, range(0, {B.M}) r),
    enc AS (SELECT sub.vec_id, sub.m, code FROM sub JOIN books USING (m)
            QUALIFY row_number() OVER (PARTITION BY sub.vec_id, sub.m
              ORDER BY round(list_dot_product(sv, cv)
                             - CAST('0.5' AS DOUBLE)
                               * list_dot_product(cv, cv),
                             6) DESC, code ASC) = 1),
    q AS (SELECT vec_id AS query_id, m, sv AS qsv FROM sub
          WHERE vec_id < {n_queries}),
    terms AS (SELECT query_id, enc.vec_id,
                     CAST(round(list_dot_product(qsv, cv), 6)
                          AS DECIMAL(18,6)) AS term
              FROM enc JOIN books USING (m, code) JOIN q USING (m)),
    scores AS (SELECT query_id, vec_id,
                      CAST(sum(term) AS DOUBLE) AS approx_ip
               FROM terms WHERE vec_id != query_id GROUP BY 1, 2),
    short AS (SELECT query_id, vec_id, approx_ip FROM scores
              QUALIFY row_number() OVER (PARTITION BY query_id
                ORDER BY approx_ip DESC, vec_id ASC) <= {shortlist}),
    qv AS (SELECT vec_id AS query_id, v AS qv FROM e
           WHERE vec_id < {n_queries}),
    rer AS (SELECT query_id, short.vec_id AS neighbor_id,
                   round(approx_ip, 6) + CAST('0' AS DOUBLE) AS adc_ip6,
                   round(list_cosine_similarity(qv, v), 6)
                     + CAST('0' AS DOUBLE) AS cos6
            FROM short JOIN e ON short.vec_id = e.vec_id
            JOIN qv USING (query_id))
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos6 DESC, neighbor_id ASC) AS INTEGER) AS rnk,
           neighbor_id, adc_ip6, cos6
    FROM rer
    QUALIFY rnk <= {k}
    ORDER BY query_id, rnk
    """


@query(
    "sim_ann_pq256",
    _sql_pq256(),
)
def sim_ann_pq256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k at the PRODUCTION PQ configuration (VERDICT
    r11 ask #2): m=8 subspaces x 256 codes/subspace — 64-bit codes, the
    FAISS-default codebook size the ANN recall audit said the shipped
    machinery should carry — with FROZEN codebooks
    (operators.pq256_book, trained once offline by tools/train_pq256.py
    and committed as integer thousandths; the tx_bpe_apply64
    frozen-constant route around unrolled-training oracle cost), ADC
    scan, and an exact cosine re-rank of the 50-deep ADC shortlist.
    Measured at sf0.1 (ANN_RECALL_AUDIT_r13.json, committed; 32
    queries): ADC alone recall@5 0.43 on the isotropic 64-dim fixture,
    shortlist+re-rank 0.91 — the production two-stage shape, quality
    bought where it is cheap (full-precision I/O only for
    n_queries x 50 rows).

    Every stage is in-hash: a wrong codebook value, a drifted L2
    assignment, a broken ADC term, a shortlist off-by-one, or a re-rank
    tie-break error shifts (rnk, neighbor_id, adc_ip6, cos6). At 100 TB
    the books are a 2048-row broadcast, encode/ADC shuffle once on the
    (query, vec) aggregation, and the re-rank is a broadcast semi-join
    touching O(queries) raw vectors. Reference analogue: none
    (beyond-reference LLM-pipeline tier)."""
    return S.topk_ann_pq256(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# sim_ann_ivfpq256: the COMPLETE production retrieval stack
# (r13, authored after the flip — r14 queue)
# ---------------------------------------------------------------------------


@query(
    "sim_ann_ivfpq256",
    _sql_ivfpq256(),
)
def sim_ann_ivfpq256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE production retrieval stack (operators.similarity.
    topk_ann_ivfpq256): IVF coarse quantizer (nprobe=2 of 16 cells) +
    FROZEN 256-code PQ (operators.pq256_book) + ADC over probed cells
    only + exact cosine re-rank of the 50-deep shortlist — the FAISS
    IVFPQ,refine composition a 10^9-vector deployment serves.
    sim_ann_pq256 proved the production codebook size on a FULL
    compressed scan; this entry adds the production scan budget: the
    ADC reads nprobe/n_cells of the code table (partition pruning on
    the wh_ivfpq_publish storage shape), so full-scan cost is paid by
    neither the compressed stage nor the exact tail. Measured at sf0.1
    (ANN_RECALL_AUDIT_r13.json, committed; 64 cells, nprobe 4, 32
    queries): recall@5 0.925 scanning ~6% of the corpus — above the
    full-scan 256-code+re-rank's 0.91, because the probe prunes
    compression-noise false positives outside the query's
    neighborhood before they can crowd the shortlist.

    Every stage is in-hash: the Lloyd refine, the cell assignment, the
    frozen-book encode, the probe choice, the DECIMAL ADC restricted
    to probed candidates, the shortlist cut, and the re-rank
    tie-breaks all shift (rnk, neighbor_id, adc_ip6, cos6). The coarse
    quantizer and the 256-code inverted file come from the shared
    built-once artifacts (_shared_full_index / _shared_ivfpq256_inv —
    identical plans). Reference analogue: none (beyond-reference
    LLM-pipeline tier)."""
    emb = _t(spark, sf_dir, "embeddings")
    cells, _, _ = _shared_full_index(spark, sf_dir)
    return S.ivfpq256_query(
        emb,
        cells,
        S.pq256_books(spark),
        _shared_ivfpq256_inv(spark, sf_dir),
    )


@query(
    "wh_ivfpq256_publish",
    # Shares sim_ann_ivfpq256's oracle STRING VERBATIM (the
    # wh_ivfpq_publish twin discipline at the production codebook
    # size): the persisted 256-code index must answer exactly like the
    # in-memory one.
    _sql_ivfpq256(),
)
def wh_ivfpq256_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUBLISH-then-SERVE the production-sized IVF+PQ256 index
    (sources.warehouse.publish_ivfpq256_layout): the 256-code inverted
    file is written PARTITIONED BY cell (probing the stored layout is
    partition pruning; 64-bit codes -> a 32x smaller stored table than
    the fp32 corpus), centroids AND the frozen books as broadcast-sized
    sidecars; the query then runs operators.similarity.ivfpq256_query
    over the READ-BACK tables — including the books, so the serve path
    answers from STORED codebooks and a lossy sidecar write or a
    books/constant drift shifts the top-5 and fails the hash.

    Shares sim_ann_ivfpq256's oracle verbatim: stored == in-memory is
    the checked contract, now at the production codebook size — the
    layout the sim_ann_ivfpq256 docstring's 100 TB claim assumes is
    hereby the layout actually written and served. Eager
    maintenance-JOB posture (fresh publish per invocation). Reference
    analogue: none (beyond-reference LLM-pipeline tier)."""
    from ..sources.warehouse import publish_ivfpq256_layout

    emb = _t(spark, sf_dir, "embeddings")
    cells, _, _ = _shared_full_index(spark, sf_dir)
    publish_ivfpq256_layout(
        emb,
        "ivfpq256_idx",
        cells=cells,
        inv=_shared_ivfpq256_inv(spark, sf_dir),
    )
    # Defensive bigint pin on the partition column (the wh_ivfpq_publish
    # ADVICE r9 lesson): the serve path must not depend on
    # partition-type inference config; Catalyst eliminates the
    # same-type cast, so DPP on the probe join is unaffected.
    inv = spark.table("ivfpq256_idx_codes").withColumn(
        "cell", F.col("cell").cast("bigint")
    )
    return S.ivfpq256_query(
        emb,
        spark.table("ivfpq256_idx_centroids"),
        spark.table("ivfpq256_idx_books"),
        inv,
    )


@query(
    "st_ivfpq256_serve",
    # Shares sim_ann_ivfpq256's oracle STRING VERBATIM: the union of
    # per-microbatch serve outputs must equal the all-queries batch
    # run row-for-row (stream == batch, the st_cdc_apply discipline).
    # Defined here (not beyond_streaming) to share _sql_ivfpq256 and
    # the shared index artifacts without a module-level sibling-tier
    # import (the r11 circular-import hazard); the streaming harness
    # itself lives in streaming/stream.py.
    _sql_ivfpq256(),
)
def st_ivfpq256_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN queries SERVED AT INGEST from the STORED production index
    (streaming.stream.run_ivfpq256_serve_stream): the 256-code layout
    is published (cell-partitioned codes, centroid + frozen-book
    sidecars — the wh_ivfpq256_publish write, from the shared
    built-once frames), then the queries arrive as TWO genuinely
    separate microbatches and each flows through foreachBatch into the
    full serve path — broadcast probe, ADC restricted to probed cells
    of the READ-BACK code table, exact re-rank — and an exactly-once
    parquet sink. This closes the production lifecycle at the
    production configuration: publish (batch) -> serve (stream), the
    online half of the build -> publish -> append -> monitor ->
    retrain -> compact loop the 8-code family already pins.

    The oracle is sim_ann_ivfpq256's VERBATIM: a dropped or doubled
    microbatch, a cross-batch contamination, a stale sidecar read, or
    any drift in probe/encode/ADC/re-rank inside EITHER batch changes
    the row set and fails the hash. State-free at 100 TB — the index
    is the state, owned by the warehouse; the stream scales with query
    rate, not corpus size. Reference analogue: none (beyond-reference
    LLM-pipeline tier)."""
    from ..sources.warehouse import publish_ivfpq256_layout
    from ..streaming import stream as ST

    emb = _t(spark, sf_dir, "embeddings")
    cells, _, _ = _shared_full_index(spark, sf_dir)
    publish_ivfpq256_layout(
        emb,
        "ivfpq256_srv",
        cells=cells,
        inv=_shared_ivfpq256_inv(spark, sf_dir),
    )
    return ST.run_ivfpq256_serve_stream(
        spark,
        sf_dir,
        cells=spark.table("ivfpq256_srv_centroids"),
        books=spark.table("ivfpq256_srv_books"),
        inv=spark.table("ivfpq256_srv_codes").withColumn(
            "cell", F.col("cell").cast("bigint")
        ),
    )


def _sql_pq256_rotated(
    n_queries: int = 8,
    k: int = 5,
    shortlist: int | None = None,
    packed: tuple[str, ...] | None = None,
) -> str:
    """DuckDB oracle for sim_ann_pq256_rotated: _sql_pq256 with the
    corpus replaced by its FROZEN-rotation image — the committed
    64 x 64 matrix (operators.rot64, integer millionths) replayed as a
    static VALUES table, each rotated coordinate an exact
    list_dot_product (== portable.dot's in-order fold), reassembled in
    pos order. Training cost to the oracle: zero (rotation AND books
    are frozen constants; tools/train_rotation.py ran once offline)."""
    from ..operators import rot64 as RT

    rvals = ",\n      ".join(
        f"({i}, '{s}')" for i, s in enumerate(RT.ROT64_PACKED)
    )
    extra = f"""rraw AS (SELECT * FROM (VALUES {rvals}) r(pos, s)),
    rk AS (SELECT pos, list_transform(string_split(s, '|'),
                x -> CAST(x AS DOUBLE) / 1000000.0) AS rv FROM rraw),
    e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    """
    corpus = (
        "SELECT vec_id, list(list_dot_product(rv, v) ORDER BY pos) AS v "
        "FROM e0, rk GROUP BY vec_id"
    )
    return _sql_pq256(
        n_queries,
        k,
        shortlist,
        extra_ctes=extra,
        corpus_sql=corpus,
        packed=packed,
    )


@query(
    "sim_ann_pq256_rotated",
    _sql_pq256_rotated(),
)
def sim_ann_pq256_rotated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-lite END TO END, Spark-native: the corpus is rotated by the
    FROZEN orthonormal matrix (operators.rot64 — its first three axes
    are the sim_pca_deflate principal components, Gram-Schmidt-
    completed offline by tools/train_rotation.py; the leading variance
    directions land on subspace boundaries, the OPQ intuition), then
    encoded/served by the UNCHANGED frozen 256-code pipeline
    (topk_ann_pq256: ADC scan + exact re-rank on the rotated frame).
    This pins Spark-side the composition the recall audit measured
    tool-side (ANN_RECALL_AUDIT_r13.json: rotated 0.84 vs unrotated
    0.91 recall@5 — on the isotropic fixture with books trained
    unrotated, rotation honestly buys nothing; the MECHANICS —
    rotate -> encode -> ADC -> re-rank, every stage replayed by the
    oracle — are what the entry pins, and they are exactly what an
    OPQ deployment runs with books retrained post-rotation).

    The rotation apply is one broadcast join + one aggregation shuffle
    (rotate_corpus); the rotated frame is the shared built-once
    artifact (_shared_rot_corpus — whichever OPQ-family entry builds
    first pays the apply; this entry's OWN claim, the unrotated-books
    encode/serve over it, runs per invocation) — at 10^9 vectors a
    deployment persists the rotated (or fused rotate-encode) corpus
    instead. Reference analogue: none (beyond-reference LLM-pipeline
    tier)."""
    return S.topk_ann_pq256(_shared_rot_corpus(spark, sf_dir))


def _sql_opq256(
    n_queries: int = 8, k: int = 5, shortlist: int | None = None
) -> str:
    """DuckDB oracle for sim_ann_opq256: _sql_pq256_rotated's rotated
    corpus replayed against the ROTATED-TRAINED frozen books
    (operators.pq256r_book — tools/train_pq256.py --rotated). Training
    cost to the oracle: zero, twice over (rotation and books are both
    committed constants)."""
    from ..operators import pq256r_book as BR

    return _sql_pq256_rotated(
        n_queries, k, shortlist, packed=BR.PQ256_PACKED
    )


@query(
    "sim_ann_opq256",
    _sql_opq256(),
)
def sim_ann_opq256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE OPQ, both halves (VERDICT r13 ask #2): the frozen rot64
    rotation AND 256-code books RETRAINED on the rotated corpus
    (operators.pq256r_book, tools/train_pq256.py --rotated) — the
    configuration an OPQ deployment actually serves, closing the loop
    the committed r13 audit opened: rotation with UNROTATED-trained
    books loses recall (0.8375 vs 0.9125, ANN_RECALL_AUDIT_r13.json)
    because encode quantizes in a frame the books never saw; retraining
    the books in the rotated frame removes exactly that mismatch
    (measured, committed: ANN_RECALL_AUDIT_r14.json
    ivf_pq256_rotated_trained recall@5 0.9375 — +0.10 over the
    mismatched 0.8375 and at/above the unrotated 0.9125 baseline,
    i.e. the full mismatch recovered; on this isotropic fixture the
    rotation itself cannot add systematic recall, so baseline parity
    is the OPQ ceiling here — real anisotropic corpora are where the
    rotation pays).

    Plan shape is sim_ann_pq256_rotated's exactly (one broadcast
    rotate + the unchanged encode/ADC/re-rank pipeline; the book swap
    changes ONLY the broadcast constant), so the entry isolates the
    books-frame effect: same rotation, same corpus, same scan budget,
    different quantizer training frame. At 10^9 vectors both variants
    cost the same — which is the point: true OPQ is free at serve time
    once the books are retrained offline. Rotated corpus and
    rotated-books codes are the shared built-once artifacts
    (_shared_rot_corpus / _shared_opq_codes — the sim_ann_ivfpq256
    precedent); the ADC scan and exact re-rank, this entry's claim,
    run per invocation. Reference analogue: none (beyond-reference
    LLM-pipeline tier)."""
    return S.topk_ann_pq256(
        _shared_rot_corpus(spark, sf_dir),
        books=S.pq256r_books(spark),
        codes=_shared_opq_codes(spark, sf_dir),
    )


@query(
    "wh_opq256_publish",
    # sim_ann_opq256's oracle shared VERBATIM: stored == in-memory for
    # the full OPQ stack, rotation included.
    _sql_opq256(),
)
def wh_opq256_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUBLISH-then-SERVE the true-OPQ stack (sources.warehouse.
    publish_opq256_layout) — the stored form of sim_ann_opq256, and
    the first published layout that carries the ROTATION itself as a
    sidecar: ``_rot`` (the frozen 64x64 matrix as its row frame),
    ``_books`` (the rotated-TRAINED frozen books), ``_codes`` (the
    256-code table of the rotated corpus — 32x smaller than fp32;
    full-scan ADC posture, no cell partitioning: the compression IS
    the scan budget here). The serve path then runs ENTIRELY from
    read-back tables: queries are rotated by the STORED matrix,
    ADC-scored against the STORED codes with the STORED books, and
    exact-re-ranked on the stored-rotation frame — so a lossy write
    of ANY of the three (including the rotation, which no other
    layout exercises) shifts the top-5 and fails the shared oracle
    hash.

    At 10^9 vectors this is the OPQ deployment shape: rotation and
    books are broadcast-sized store constants, the codes table is the
    only corpus-sized artifact, and a serve touches raw (rotated)
    vectors for only queries x shortlist rows. Eager maintenance-JOB
    posture (fresh publish per invocation). Reference analogue: none
    (beyond-reference LLM-pipeline tier)."""
    from ..sources.warehouse import publish_opq256_layout

    emb = _t(spark, sf_dir, "embeddings")
    # write side from the shared built-once frames (day-one memo); the
    # entry's OWN claim — the three sidecar writes and the fully
    # read-back serve, including the rotate-by-STORED-matrix — runs
    # per invocation
    publish_opq256_layout(
        emb,
        "opq256_idx",
        rotated=_shared_rot_corpus(spark, sf_dir),
        codes=_shared_opq_codes(spark, sf_dir),
    )
    rotated = S.rotate_corpus(
        emb, spark.table("opq256_idx_rot")
    ).localCheckpoint(eager=True)
    return S.topk_ann_pq256(
        rotated,
        books=spark.table("opq256_idx_books"),
        codes=spark.table("opq256_idx_codes"),
    )


@query(
    "st_opq256_serve",
    # Shares sim_ann_opq256's oracle STRING VERBATIM: the union of
    # per-microbatch serve outputs must equal the all-queries batch
    # run row-for-row (stream == batch, the st_ivfpq256_serve
    # discipline at the OPQ configuration). Defined here to share
    # _sql_opq256 and the shared OPQ artifacts; the streaming harness
    # lives in streaming/stream.py.
    _sql_opq256(),
)
def st_opq256_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ queries SERVED AT INGEST from the STORED index
    (streaming.stream.run_opq256_serve_stream) — the online half of
    the OPQ story, mirroring st_ivfpq256_serve at the rotated
    configuration: the true-OPQ layout is published (rotation +
    rotated-trained books + rotated-corpus codes, the
    wh_opq256_publish write from the shared built-once frames), then
    the queries arrive RAW as two genuinely separate microbatches and
    each is first ROTATED by the matrix read BACK from the stored
    ``_rot`` sidecar — the OPQ server's defining first move — before
    the full-scan ADC + exact re-rank against the read-back codes and
    books, into an exactly-once parquet sink.

    The oracle is sim_ann_opq256's VERBATIM: a dropped or doubled
    microbatch, cross-batch contamination, a stale rotation sidecar,
    or any drift in rotate/ADC/re-rank inside EITHER batch changes
    the row set and fails the hash. State-free at 100 TB — the
    published index (rotation included) is the state; the stream
    scales with query rate, not corpus size. Reference analogue: none
    (beyond-reference LLM-pipeline tier)."""
    from ..sources.warehouse import publish_opq256_layout
    from ..streaming import stream as ST

    emb = _t(spark, sf_dir, "embeddings")
    publish_opq256_layout(
        emb,
        "opq256_srv",
        rotated=_shared_rot_corpus(spark, sf_dir),
        codes=_shared_opq_codes(spark, sf_dir),
    )
    rot = spark.table("opq256_srv_rot")
    rotated = S.rotate_corpus(emb, rot).localCheckpoint(eager=True)
    return ST.run_opq256_serve_stream(
        spark,
        sf_dir,
        rotated_emb=rotated,
        rot=rot,
        books=spark.table("opq256_srv_books"),
        codes=spark.table("opq256_srv_codes"),
    )


@query(
    "wh_ivfpq256_append",
    # The sim_ann_ivfpq256 oracle with the coarse quantizer trained on
    # the base split only — the publish-on-base + append-new contract
    # at the production codebook size.
    _sql_ivfpq256(train_base=IVFPQ_APPEND_BASE),
)
def wh_ivfpq256_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL maintenance at the PRODUCTION codebook size
    (sources.warehouse.append_ivfpq256_vectors) — completing the
    256-code lifecycle's freshness path (VERDICT r13 ask #3): the
    layout is published from the BASE corpus (vec_id <
    operators.similarity.IVFPQ_APPEND_BASE; the coarse quantizer — the
    ONLY corpus-trained structure at this size — refines on base
    only), then the remaining vectors arrive as a batch, are assigned
    to the frozen stored centroids and encoded against the frozen
    stored books, and their codes are APPENDED into the
    cell-partitioned table — existing partitions untouched, one new
    file per touched cell. The query then serves from the appended
    stored layout (ivfpq256_query over read-back tables, the
    wh_ivfpq256_publish twin discipline).

    The oracle replays train-coarse-on-base / encode-ALL-with-frozen-
    structures in one batch, so the checked contract is publish +
    append == frozen-structure batch encode, bit for bit — and it
    makes the 256-code family's append argument explicit: because the
    books are a frozen offline constant, an append retrains NOTHING
    (vs the 8-code twin, whose codebooks are corpus-trained), which is
    exactly why production systems freeze quantizers. Built on the
    shared-artifact memo FROM DAY ONE (the r13 "refactor afterward"
    lesson): the stored layout builds once per (session, scale) and
    future compact/monitor siblings consume it. At 100 TB the append
    is one pass over the new batch; compact_partitions is the standing
    repair. Reference analogue: none (beyond-reference LLM-pipeline
    tier)."""
    emb = _t(spark, sf_dir, "embeddings")
    prefix = _shared_appended256_prefix(spark, sf_dir)
    inv = spark.table(f"{prefix}_codes").withColumn(
        "cell", F.col("cell").cast("bigint")
    )
    return S.ivfpq256_query(
        emb,
        spark.table(f"{prefix}_centroids"),
        spark.table(f"{prefix}_books"),
        inv,
    )


@query(
    "wh_ivfpq256_compact",
    # wh_ivfpq256_append's oracle shared VERBATIM: compaction must
    # change NOTHING the serve path can see.
    _sql_ivfpq256(train_base=IVFPQ_APPEND_BASE),
)
def wh_ivfpq256_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files COMPACTION on the production-sized live layout —
    the wh_ivfpq_compact claim at 256 codes, on the SAME shared
    appended artifact wh_ivfpq256_append built (day-one memo): publish
    wrote one file per occupied cell, the append added one more per
    touched cell, compact_partitions rewrites the fragmented cells
    back to one file each (file-listing victim pick, partition-pruned
    read, dynamic partition overwrite — healthy cells untouched). The
    query then serves from the COMPACTED layout and the shared oracle
    pins that compaction changed NOTHING: a dropped/doubled row or a
    misplaced partition shifts the top-5 and fails the hash.
    Re-entry (already compacted this session): victims=[] and the
    serve proves the same changed-nothing contract; the
    fragmentation-then-one-file file-count claim is asserted test-side
    on a private prefix (test_warehouse).

    At 100 TB: victims from a file LISTING, reads partition-pruned to
    fragmented cells only, one rewrite task per cell — maintenance
    scales with fragmentation, not corpus size. Reference analogue:
    none (beyond-reference LLM-pipeline tier)."""
    from ..sources.warehouse import compact_partitions

    emb = _t(spark, sf_dir, "embeddings")
    prefix = _shared_appended256_prefix(spark, sf_dir)
    compact_partitions(spark, f"{prefix}_codes", "cell", min_files=2)
    inv = spark.table(f"{prefix}_codes").withColumn(
        "cell", F.col("cell").cast("bigint")
    )
    return S.ivfpq256_query(
        emb,
        spark.table(f"{prefix}_centroids"),
        spark.table(f"{prefix}_books"),
        inv,
    )


@query(
    "wh_ivfpq256_retrain",
    # sim_ann_ivfpq256's oracle shared VERBATIM (the full-corpus-
    # trained quantizer): retraining the appended base-trained layout
    # must land EXACTLY on the fresh full-trained index.
    _sql_ivfpq256(),
)
def wh_ivfpq256_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full RETRAIN at the production codebook size — the action
    st_psi_embedding_drift / st_ivfpq_monitor's flags demand, and the
    step that closes the 256-code lifecycle (build -> publish -> serve
    -> append -> monitor -> compact -> RETRAIN): starting from the
    APPENDED layout (coarse quantizer trained on base only — the
    drifted state), refresh the coarse quantizer over the FULL corpus
    (seeds < 16 + one decimal-exact Lloyd), re-encode every vector
    against the FROZEN books read BACK from the published sidecar (the
    r13 production pattern: the quantizer constants live in the store,
    not the code), and REPUBLISH the cell-partitioned layout; then
    serve from the read-back retrained tables.

    The checked contract makes the 256-code retrain argument explicit:
    because the books are frozen, a retrain refreshes ONLY the coarse
    quantizer + assignments — so retrain(appended layout) must land
    bit-exactly on the fresh full-trained index, which is why the
    oracle is sim_ann_ivfpq256's VERBATIM. (The 8-code twin
    wh_ivfpq_retrain also re-Lloyds its corpus-trained codebooks — the
    expensive half the production configuration deletes.) Unlike the
    append/compact siblings this entry pays its full action per
    invocation — the retrain IS the claim — but the heavy stages are
    one Lloyd + one single-pass max_by encode, ~the publish cost, not
    the 8-code retrain's double-Lloyd. At 100 TB: retrain is one
    corpus pass per structure, and serving stays on the old layout
    until the republish swaps in (eager-job posture here). Reference
    analogue: none (beyond-reference LLM-pipeline tier)."""
    from ..sources.warehouse import publish_ivfpq256_layout

    emb = _t(spark, sf_dir, "embeddings")
    app_prefix = _shared_appended256_prefix(spark, sf_dir)
    # the drifted state this entry repairs: base-trained quantizer +
    # appended codes (read back; the retrain's input, not its output)
    stale_books = spark.table(f"{app_prefix}_books")
    vecs = S._vecs(emb)
    seeds = vecs.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    cells = S.refine_centroids(vecs, seeds).localCheckpoint(eager=True)
    # re-encode against the frozen books from the STORE (bit-identical
    # to the constant — parquet round-trips array<double> exactly; the
    # publish pins that), then republish to a fresh prefix
    prefix = f"ivfpq256_rt_{_sf_tag(sf_dir)}"
    inv = S.build_ivfpq256_inv(emb, cells, books=stale_books)
    publish_ivfpq256_layout(emb, prefix, cells=cells, inv=inv)
    codes = spark.table(f"{prefix}_codes").withColumn(
        "cell", F.col("cell").cast("bigint")
    )
    return S.ivfpq256_query(
        emb,
        spark.table(f"{prefix}_centroids"),
        spark.table(f"{prefix}_books"),
        codes,
    )


# ---------------------------------------------------------------------------
# sim_pca_deflate: top-k principal components by deflated power iteration
# (r12; VERDICT r11 ask #3 — consume sim_pca_power's rotation claim)
# ---------------------------------------------------------------------------

#: Components extracted by sim_pca_deflate (each costs iterations + 1
#: shuffles over the exploded corpus; the oracle unrolls all of them).
PCA_DEFLATE_COMPONENTS = 3


def _sql_pca_deflate(
    n_components: int = PCA_DEFLATE_COMPONENTS,
    iterations: int = PCA_POWER_ITERATIONS,
) -> str:
    """DuckDB oracle for sim_pca_deflate: _sql_pca_power's unrolled
    power iteration, repeated per component with the deflation step
    between components (cv <- cv - <cv, v_j> v_j via the identical
    vec_id-partitioned window sum), every accumulation DECIMAL(38,12)
    term-cast, components re-entering as their 9-dp-rounded SIGNED
    vectors — so every per-component intermediate (iterates, norms,
    deflated frames, orthogonality) is inside the hash."""
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "ex AS (SELECT vec_id, u.p - 1 AS pos, u.x AS val FROM e,\n"
        "       unnest([{'p': i, 'x': v[i]}\n"
        "               for i in range(1, len(v) + 1)]) AS t(u))",
        "mu AS (SELECT pos,\n"
        "         CAST(sum(CAST(val AS DECIMAL(38,12))) AS DOUBLE)\n"
        "           / count(*) AS mu\n"
        "       FROM ex GROUP BY 1)",
        "c0 AS (SELECT vec_id, ex.pos AS pos, val - mu AS cv\n"
        "      FROM ex JOIN mu USING (pos))",
    ]
    selects = []
    for j in range(n_components):
        ctes.append(
            f"x{j}_0 AS (SELECT pos, CAST('0.125' AS DOUBLE) AS x FROM mu)"
        )
        for i in range(iterations):
            ctes += [
                f"p{j}_{i} AS (SELECT vec_id, c{j}.pos AS pos, cv,\n"
                f"           CAST(cv * x AS DECIMAL(38,12)) AS t\n"
                f"         FROM c{j} JOIN x{j}_{i} USING (pos))",
                f"s{j}_{i} AS (SELECT vec_id, pos, cv,\n"
                f"           CAST(sum(t) OVER (PARTITION BY vec_id)"
                f" AS DOUBLE) AS s\n"
                f"         FROM p{j}_{i})",
                f"y{j}_{i} AS (SELECT pos,\n"
                f"           CAST(sum(CAST(cv * s AS DECIMAL(38,12)))"
                f" AS DOUBLE) AS y\n"
                f"         FROM s{j}_{i} GROUP BY 1)",
                f"n{j}_{i} AS (SELECT sqrt(CAST(sum(CAST(y * y"
                f" AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM y{j}_{i})",
                f"x{j}_{i + 1} AS (SELECT pos, round(y / nrm, 9) AS x\n"
                f"         FROM y{j}_{i}, n{j}_{i})",
            ]
        last = iterations
        ctes += [
            f"sg{j} AS (SELECT CASE WHEN x < 0 THEN CAST(-1 AS DOUBLE)\n"
            f"               ELSE CAST(1 AS DOUBLE) END AS sgn\n"
            f"        FROM x{j}_{last} WHERE pos = 0)",
            f"v{j} AS (SELECT pos, round(x * sgn, 9) AS vx\n"
            f"        FROM x{j}_{last}, sg{j})",
            f"l{j} AS (SELECT round(nrm / (SELECT count(*) FROM e), 9)"
            f" AS lambda9 FROM n{j}_{last - 1})",
        ]
        if j == 0:
            ctes.append(
                f"o{j} AS (SELECT CAST('0' AS DOUBLE) AS ortho_prev9)"
            )
        else:
            ctes.append(
                f"o{j} AS (SELECT round(CAST(sum(CAST(a.vx * b.vx"
                f" AS DECIMAL(38,12))) AS DOUBLE), 9) AS ortho_prev9\n"
                f"        FROM v{j} a JOIN v{j - 1} b USING (pos))"
            )
        if j < n_components - 1:
            ctes += [
                f"pd{j} AS (SELECT vec_id, c{j}.pos AS pos, cv, vx,\n"
                f"           CAST(cv * vx AS DECIMAL(38,12)) AS t\n"
                f"         FROM c{j} JOIN v{j} USING (pos))",
                f"sd{j} AS (SELECT vec_id, pos, cv, vx,\n"
                f"           CAST(sum(t) OVER (PARTITION BY vec_id)"
                f" AS DOUBLE) AS s\n"
                f"         FROM pd{j})",
                f"c{j + 1} AS (SELECT vec_id, pos, cv - s * vx AS cv"
                f" FROM sd{j})",
            ]
        # + CAST('0' AS DOUBLE) on every rounded double output:
        # DuckDB's round() preserves IEEE negative zero (comp 1's
        # ortho_prev9 measures -0.0 on the fixture) while Spark's
        # F.round goes through BigDecimal, which has no signed zero —
        # adding +0.0 canonicalizes -0.0 to +0.0 in BOTH engines
        # (IEEE: -0.0 + 0.0 = +0.0) and is exact for every other value.
        z = " + CAST('0' AS DOUBLE)"
        selects.append(
            f"SELECT CAST({j} AS INTEGER) AS comp,\n"
            f"       CAST(v{j}.pos AS INTEGER) AS pos,\n"
            f"       round(mu, 9){z} AS mu9, vx{z} AS pc_9,\n"
            f"       lambda9{z} AS lambda9, ortho_prev9{z} AS ortho_prev9\n"
            f"FROM v{j} JOIN mu USING (pos), l{j}, o{j}"
        )
    # MATERIALIZED on every CTE: DuckDB otherwise INLINES the CTE DAG,
    # and the deflation chain re-expands each previous component's
    # whole iteration tree multiplicatively — at 3 components the
    # planner opens the parquet file hundreds of times ("too many open
    # files" even at ulimit 20000). Semantics are identical; each CTE
    # is just evaluated once, exactly like the Spark localCheckpoints.
    ctes = [c.replace(" AS (", " AS MATERIALIZED (", 1) for c in ctes]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    "
        + "\n    UNION ALL\n    ".join(selects)
        + "\n    ORDER BY comp, pos"
    )


@query(
    "sim_pca_deflate",
    _sql_pca_deflate(),
)
def sim_pca_deflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 PRINCIPAL COMPONENTS by power iteration WITH DEFLATION
    (operators.similarity.pca_power_topk) — the consumption of
    sim_pca_power's OPQ-lite rotation claim (VERDICT r11 ask #3):
    after each component converges, the centered frame is deflated
    (cv <- cv - <cv, v_j> v_j, one window sum + one 64-row broadcast)
    and the next component runs the identical iteration on the
    residual. The covariance is still never materialized, per-component
    state is d doubles, and the whole rotation basis the recall audit's
    rotated-PQ row uses comes out of exactly this plan shape
    (ANN_RECALL_AUDIT_r13.json, committed, quantifies rotated vs
    unrotated 256-code PQ recall@5 on the fixture: 0.84 rotated vs
    0.91 unrotated — the frozen books were trained on the unrotated
    corpus and the fixture is isotropic, so rotation buys nothing here
    and costs a little; the OPQ-lite mechanics are what the entry
    pins).

    The oracle unrolls all 3 components x 3 iterations plus both
    deflation steps, so every per-component intermediate is in-hash:
    iterates, norms, eigenvalues, the deflated frames, and
    ortho_prev9 — the rounded <v_j, v_{j-1}> that pins
    near-orthogonality of successive components. Output 3 x 64 rows:
    (comp, pos, mu9, pc_9, lambda9, ortho_prev9). Reference analogue:
    none (beyond-reference LLM-pipeline tier)."""
    return S.pca_power_topk(
        _t(spark, sf_dir, "embeddings"),
        n_components=PCA_DEFLATE_COMPONENTS,
        iterations=PCA_POWER_ITERATIONS,
    )

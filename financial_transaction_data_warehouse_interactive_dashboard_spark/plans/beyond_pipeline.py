"""Pipeline-fusion tier (pl_*) — whole-pipeline compositions of the
engine's proven families in the order a production training-data run
actually executes them (round 15; VERDICT r14 ask #6: the ANN
lifecycle is closed, the next capstone is chosen deliberately).

First family member: dedup-BEFORE-index. Every real retrieval corpus
is deduplicated before the ANN index is built — indexing duplicates
wastes index space AND poisons every shortlist with copies of the same
neighbor, so k effective results cost more than k slots. The engine
has both halves oracle-checked separately (dd_minhash_lsh /
dd_neardup_components and the sim_ann_ivfpq256 stack); this tier pins
their COMPOSITION: the index is built over exactly the canonical
corpus the dedup stage keeps, and the served results prove it (no
duplicate doc can appear as a neighbor because it was never encoded).

Reference analogue: none (beyond-reference LLM-pipeline tier; the
reference dashboard has no documents/embeddings surface —
streamlit.py:1-559 is transaction analytics only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import similarity as S
from ..operators.graph import connected_components
from .beyond import SQL_DOCS_SHINGLES, SQL_JACCARD
from .pq_oracles import _sql_ivfpq256
from .queries import _t, query

# NOTE no module-level import of beyond_similarity: any beyond-tier
# module may legally be imported FIRST (the PEP 562 contract pinned by
# tests/test_source_hygiene.py::test_beyond_tier_first_import_order),
# and a tier-to-tier module-level import breaks exactly that order —
# when beyond_similarity is the first import, plans.beyond's tier
# star-imports run while it is mid-init and its helpers don't exist
# yet. The oracle builder comes from the leaf module pq_oracles (split
# out in r15 for this reason); _shared_artifact is imported lazily
# inside the builders below (by first runtime call, every tier is
# fully initialized).


def _shared_dedup_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH near-dup DROP set (every doc whose connected
    component has a smaller member — the canonical-keeps-the-min-id
    policy of dd_neardup_components), built once per dataset and
    checkpoint-pinned: a tiny id frame with huge lineage (shingle ->
    minhash -> banded LSH -> verify -> iterative components), exactly
    the localCheckpoint pattern dd_corpus_clean documents — downstream
    consumers broadcast the ids instead of re-running the LSH
    shuffles."""

    from .beyond_similarity import _shared_artifact

    def build() -> DataFrame:
        docs = _t(spark, sf_dir, "documents")
        pairs = D.minhash_lsh_pairs(docs, threshold=0.5)
        comp = connected_components(pairs)
        return (
            comp.filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias("vec_id"))
            .localCheckpoint(eager=True)
        )

    return _shared_artifact(spark, sf_dir, "pl_dedup_drop", build)


def _shared_canonical_index(spark: SparkSession, sf_dir: str):
    """(kept_corpus, cells, inv) for the CANONICAL corpus: embeddings
    anti-joined against the broadcast drop set (vec_id == doc_id in
    the fixture's row-aligned tables), then the standard production
    index build — seeds < 16 of the surviving ids, one decimal-exact
    Lloyd refine, frozen 256-code encode restricted to the kept rows.
    Built once (the day-one shared-artifact discipline) so future pl_*
    siblings re-prove their OWN claim, not this build."""

    from .beyond_similarity import _shared_artifact

    def build():
        emb = _t(spark, sf_dir, "embeddings")
        kept = emb.join(
            F.broadcast(_shared_dedup_drop(spark, sf_dir)),
            "vec_id",
            "left_anti",
        )
        vecs = S._vecs(kept)
        seeds = vecs.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("cell"), F.col("v").alias("cv")
        )
        cells = S.refine_centroids(vecs, seeds).localCheckpoint(
            eager=True
        )
        inv = S.build_ivfpq256_inv(kept, cells).localCheckpoint(
            eager=True
        )
        return kept, cells, inv

    return _shared_artifact(spark, sf_dir, "pl_canonical_index", build)


def _shared_greedy_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GREEDY keep-first-seen near-dup drop set (dd_corpus_clean's
    documented standard: from each LSH-verified pair the HIGHER doc_id
    drops — pair-at-a-time, no transitive closure), built once per
    dataset and checkpoint-pinned. ADVICE r15: pl_incremental_curate
    and _shared_canon_appended_prefix used to derive this frame
    independently — one memoized build keeps the greedy policy
    single-sourced (a policy change cannot drift the two apart) and
    pays the LSH shuffles once per session."""

    from .beyond_similarity import _shared_artifact

    def build() -> DataFrame:
        docs = _t(spark, sf_dir, "documents")
        return (
            D.minhash_lsh_pairs(docs, threshold=0.5)
            .select(F.col("id_b").alias("vec_id"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    return _shared_artifact(spark, sf_dir, "pl_greedy_drop", build)


def _sql_dedup_before_index() -> str:
    """DuckDB oracle for pl_dedup_before_index: dd_neardup_components'
    recursive transitive closure (VERBATIM math: shingle -> double-hash
    minhash -> banded LSH -> jaccard >= 0.5 verify -> min-label
    components) computes the drop set, then _sql_ivfpq256's replay runs
    with its corpus CTE ``e`` restricted to the survivors — the
    composition is by construction the two committed oracles, so the
    fused entry is pinned by exactly the math its halves were.

    Built by targeted substitution on the _sql_ivfpq256 string: the
    injected CTE names are dd_-prefixed (dd_cand, dd_edge) because the
    host oracle already uses ``cand``/``e``; the substitution anchors
    are exact unique substrings of the generated SQL and are asserted
    present (a silent no-op substitution would quietly un-fuse the
    oracle)."""
    from ..functions import portable as _P

    dedup_ctes = f"""{SQL_DOCS_SHINGLES},
    ab AS (SELECT doc_id,
             [{_P.sql_md5_long('s', 15, 1)} % {_P.ROLL_MOD} for s in sh] AS ha,
             [{_P.sql_md5_long('s', 15, 16)} % {_P.ROLL_MOD} for s in sh] AS hb
           FROM sh),
    sig AS (SELECT doc_id,
              [list_min([(ha[i] + j * hb[i]) % {_P.ROLL_MOD}
                         for i in range(1, len(ha) + 1)])
               for j in range(0, {D.MINHASH_N})] AS sig
            FROM ab),
    bands AS (SELECT doc_id, b AS band,
                array_to_string(
                  sig[b*{D.LSH_ROWS}+1 : b*{D.LSH_ROWS}+{D.LSH_ROWS}], ',')
                  AS key
              FROM sig, range(0, {D.LSH_BANDS}) AS r(b)),
    dd_cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a
             JOIN bands b ON a.band = b.band AND a.key = b.key
                         AND a.doc_id < b.doc_id),
    pairs AS (SELECT id_a, id_b
              FROM dd_cand JOIN sh sa ON dd_cand.id_a = sa.doc_id
                        JOIN sh sb ON dd_cand.id_b = sb.doc_id
              WHERE {SQL_JACCARD} >= 0.5),
    dd_edge AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS n FROM dd_edge),
    reach AS (
      SELECT n, n AS m FROM nodes
      UNION
      SELECT r.n, dd_edge.dst AS m FROM reach r JOIN dd_edge
        ON dd_edge.src = r.m
    ),
    dd_drop AS (SELECT n AS doc_id FROM reach GROUP BY n
                HAVING CAST(min(m) AS BIGINT) != n)"""

    base = _sql_ivfpq256()
    with_anchor = "WITH braw AS"
    e_anchor = (
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
    )
    # Exactly-once (ADVICE r15): the .replace(..., 1) calls below would
    # silently rewrite the WRONG occurrence if a host edit ever
    # duplicated an anchor — fail loudly instead.
    assert base.count(with_anchor) == 1 and base.count(e_anchor) == 1, (
        "oracle substitution anchors not unique — _sql_ivfpq256 changed"
    )
    return base.replace(
        with_anchor,
        f"WITH RECURSIVE {dedup_ctes},\n    braw AS",
        1,
    ).replace(
        e_anchor,
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
        "\n          WHERE vec_id NOT IN (SELECT doc_id FROM dd_drop))",
        1,
    )


@query(
    "pl_dedup_before_index",
    _sql_dedup_before_index(),
)
def pl_dedup_before_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-BEFORE-index, the real pipeline order, fused end to end
    (VERDICT r14 ask #6 option b): MinHash-LSH near-dup components over
    ``documents`` pick the canonical corpus (min-id per component —
    dd_neardup_components' policy), the production IVF+PQ256 index is
    built over ONLY the surviving embeddings (the fixture's tables are
    row-aligned: vec_id == doc_id), and the standard 8 queries are
    served from it. Results differ from sim_ann_ivfpq256's exactly
    where they should: a duplicate can never be a neighbor because it
    was never encoded, and the canonical member represents its cluster.

    At 100 TB this order is not a nicety, it is the budget: every
    duplicate indexed is wasted code storage (64-bit/vector here, but
    x billions), wasted ADC scan in every probe that hits its cell,
    and a shortlist slot that crowds out a DISTINCT true neighbor —
    the same dilution mechanism the r14 audit measured for noise
    distractors, caused by redundancy instead. The drop set is a tiny
    broadcast id frame (dupes are a small fraction); the anti-join
    prunes the corpus BEFORE the encode fan-out, so the expensive
    stages (subvector explode, ADC terms) run only on canonical rows.

    Oracle: dd_neardup_components' recursive-closure SQL composed with
    _sql_ivfpq256's replay, corpus CTE restricted to survivors — both
    committed oracles VERBATIM in their math (see
    _sql_dedup_before_index). Measured (tools/pipeline_audit.py ->
    PIPELINE_AUDIT_r15.json, sf0.1): 12.2% of the corpus is
    non-canonical — that fraction of vectors and stored code rows is
    kept out of the index permanently — and over 32 queries x top-5
    the RAW index serves 3 dropped-duplicate neighbors (the exact
    frontier serves 4: the contamination is in the data, not an index
    artifact) while the canonical index serves 0 by construction."""
    kept, cells, inv = _shared_canonical_index(spark, sf_dir)
    return S.ivfpq256_query(kept, cells, S.pq256_books(spark), inv)


def _sql_hybrid_rerank() -> str:
    """DuckDB oracle for pl_hybrid_rerank: the fused dedup-before-index
    oracle up through its ``rer`` CTE (the full 50-deep shortlist with
    exact cosines), then the HYBRID tail — token-set jaccard between
    the query document and each candidate document, blended
    0.8*cos6 + 0.2*jacc6, re-ranked. Substitution anchor is the host
    oracle's final SELECT (asserted present)."""
    base = _sql_dedup_before_index()
    tail_anchor = "SELECT query_id,\n           CAST(row_number()"
    # Exactly-once (ADVICE r15): a duplicated anchor introduced by a
    # future host edit must fail loudly like a missing one — slicing at
    # the first of two occurrences would silently truncate mid-oracle.
    assert base.count(tail_anchor) == 1, (
        "oracle tail anchor not unique — _sql_ivfpq256 changed"
    )
    head = base[: base.index(tail_anchor)]
    return (
        head
        + """, docw AS (SELECT doc_id,
               list_distinct(string_split(text, ' ')) AS w
            FROM documents),
    hyb AS (SELECT query_id, neighbor_id, cos6,
              round(len(list_intersect(qw.w, nw.w))::DOUBLE
                    / len(list_distinct(list_concat(qw.w, nw.w))), 6)
                AS jacc6
            FROM rer
            JOIN docw qw ON rer.query_id = qw.doc_id
            JOIN docw nw ON rer.neighbor_id = nw.doc_id),
    blend AS (SELECT *,
                round(CAST('0.8' AS DOUBLE) * cos6
                      + CAST('0.2' AS DOUBLE) * jacc6, 6) AS blend6
              FROM hyb)
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY blend6 DESC, neighbor_id ASC) AS INTEGER) AS rnk,
           neighbor_id, cos6, jacc6, blend6
    FROM blend
    QUALIFY rnk <= 5
    ORDER BY query_id, rnk
    """
    )


def hybrid_rerank_stage(
    docw: DataFrame, short: DataFrame, k: int = 5
) -> DataFrame:
    """The second-stage hybrid scorer as a REUSABLE stage: blend the
    shortlist's dense cos6 with token-set jaccard between the query's
    and each candidate's document, 0.8/0.2, deterministic tie-break
    (blend DESC, neighbor_id ASC), top-``k``. ``docw`` is (doc_id,
    w: array<string>); ``short`` is (query_id, neighbor_id, cos6).

    Factored out of pl_hybrid_rerank (VERDICT r15 ask #3) so
    tools/pipeline_audit.py measures the SHIPPED stage on its planted
    lexical corpus, not a tool-side re-derivation — the
    ann_recall_audit discipline (measure through the operator). Both
    payload attachments broadcast the SMALL side (the shortlist frame,
    O(queries x k_shortlist)) against the documents scan — full-text
    I/O stays one corpus scan per side, never a corpus broadcast."""
    cand = docw.join(
        F.broadcast(short), docw.doc_id == short.neighbor_id
    ).select(
        "query_id", "neighbor_id", "cos6", F.col("w").alias("nw")
    )
    hyb = (
        docw.select(
            F.col("doc_id").alias("query_id"), F.col("w").alias("qw")
        )
        .join(F.broadcast(cand), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "cos6",
            F.round(
                F.size(F.array_intersect("qw", "nw")).cast("double")
                / F.size(F.array_distinct(F.concat("qw", "nw"))),
                6,
            ).alias("jacc6"),
        )
    )
    blend = hyb.withColumn(
        "blend6",
        F.round(
            F.expr("CAST('0.8' AS DOUBLE)") * F.col("cos6")
            + F.expr("CAST('0.2' AS DOUBLE)") * F.col("jacc6"),
            6,
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("blend6"), F.asc("neighbor_id")
    )
    return (
        blend.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "rnk", "neighbor_id", "cos6", "jacc6", "blend6"
        )
        .orderBy("query_id", "rnk")
    )


@query(
    "pl_hybrid_rerank",
    _sql_hybrid_rerank(),
)
def pl_hybrid_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid reranker stage composed ONTO the canonical ANN shortlist
    (VERDICT r14 ask #6 option a, fused with option b's index): the
    dedup-before-index stack produces the 50-deep shortlist (ADC scan +
    exact cosine over survivors), then a second-stage reranker blends
    the dense score with a LEXICAL signal — token-set jaccard between
    the query's document and each candidate's document —
    0.8*cos6 + 0.2*jacc6, deterministic tie-break (blend DESC,
    neighbor_id ASC), top-5.

    This is the production retrieval shape: a cheap compressed ANN
    stage proposes, an expensive pairwise stage disposes — here the
    pairwise scorer is a deterministic lexical-overlap feature (the
    cross-encoder SLOT; a learned model would replace the jaccard
    column, and the plan shape — broadcast the O(queries x 50)
    shortlist against the document payloads, score pairwise, window
    re-rank — is exactly what it would run). Pairwise work touches
    ONLY n_queries x 50 rows, never the corpus: the shortlist frame is
    broadcast to the documents scan, so full-text I/O stays
    O(shortlist), and the blend/window run on 400 rows.

    Oracle: the fused dedup+index oracle through its shortlist-with-
    cosines CTE, then the jaccard/blend tail in DuckDB list algebra
    (see _sql_hybrid_rerank)."""
    kept, cells, inv = _shared_canonical_index(spark, sf_dir)
    short = S.ivfpq256_query(
        kept, cells, S.pq256_books(spark), inv, k=S.PQ256_SHORTLIST
    ).select("query_id", "neighbor_id", "cos6")
    docs = _t(spark, sf_dir, "documents")
    docw = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("w")
    )
    return hybrid_rerank_stage(docw, short)


@query(
    "st_canonical_serve",
    # Shares pl_dedup_before_index's oracle STRING VERBATIM: per-query
    # results are independent, each query id arrives in exactly one
    # microbatch, so the union of per-batch serve outputs equals the
    # batch run row-for-row — stream == batch is the checked contract
    # (the st_ivfpq256_serve discipline, on the CANONICAL index).
    _sql_dedup_before_index(),
)
def st_canonical_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused pipeline's streaming closure: queries served AT INGEST
    from the dedup-before-index CANONICAL index. Two genuine
    microbatches of query vectors (drawn from the canonical pool — the
    fused oracle's qv convention) flow through foreachBatch into the
    full probe/ADC/re-rank serve path against the shared canonical
    index frames, appending to an exactly-once parquet sink.

    This completes the pl-tier story batch AND stream: curate once
    (dedup), index the survivors once, then serve continuously — the
    index is the state, the stream scales with query rate, and no
    duplicate can ever be served because it was never encoded.

    Oracle: pl_dedup_before_index's fused SQL VERBATIM (stream ==
    batch)."""
    from ..streaming import stream as ST

    kept, cells, inv = _shared_canonical_index(spark, sf_dir)
    return ST.run_ivfpq256_serve_stream(
        spark,
        sf_dir,
        cells,
        S.pq256_books(spark),
        inv,
        emb=kept,
        key_tag="canonical-serve",
    )


@query(
    "wh_canonical_publish",
    # Shares pl_dedup_before_index's oracle STRING VERBATIM (the
    # wh_ivfpq256_publish twin discipline on the CURATED corpus): the
    # persisted canonical index must answer exactly like the in-memory
    # fused pipeline.
    _sql_dedup_before_index(),
)
def wh_canonical_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUBLISH-then-SERVE the CANONICAL (dedup-before-index) index —
    the pl tier's storage lifecycle member, completing curate -> index
    -> publish -> serve batch/stream: the canonical corpus's 256-code
    inverted file is written PARTITIONED BY cell with centroid/book
    sidecars (sources.warehouse.publish_ivfpq256_layout, unchanged —
    the layout does not care that the corpus was curated; that is the
    point), then queries are answered from the READ-BACK tables with
    exact re-rank against the canonical corpus.

    At 100 TB the stored layout is where dedup-before-index pays
    permanently: every duplicate kept out of the published codes table
    is storage, scan, and shortlist budget saved on EVERY query for
    the life of the index, not once. Eager maintenance-JOB posture
    (fresh publish per invocation); the curation inputs ride the
    shared memos, the publish write is THIS entry's claim.

    Oracle: pl_dedup_before_index's fused SQL VERBATIM (stored ==
    in-memory)."""
    from ..sources.warehouse import publish_ivfpq256_layout
    from .beyond_similarity import _sf_tag

    kept, cells, inv = _shared_canonical_index(spark, sf_dir)
    # Scale-tagged prefix (ADVICE r15): table names are session-global,
    # so two scales built before collection in one session must not
    # serve each other's layout — the _shared_canon_appended_prefix
    # convention applied here too.
    prefix = f"canon_idx_{_sf_tag(sf_dir)}"
    publish_ivfpq256_layout(kept, prefix, cells=cells, inv=inv)
    # Defensive bigint pin on the partition column (the
    # wh_ivfpq_publish ADVICE r9 lesson); Catalyst eliminates the
    # same-type cast, so DPP on the probe join is unaffected.
    stored_inv = spark.table(f"{prefix}_codes").withColumn(
        "cell", F.col("cell").cast("bigint")
    )
    return S.ivfpq256_query(
        kept,
        spark.table(f"{prefix}_centroids"),
        spark.table(f"{prefix}_books"),
        stored_inv,
    )


def _sql_greedy_drop_ctes() -> str:
    """DuckDB CTE chain ending in ``dd_drop`` — the GREEDY keep-first-
    seen drop set (shingle -> double-hash minhash -> banded LSH ->
    jaccard >= 0.5 verify; the HIGHER doc_id of every verified pair
    drops). Factored (r16) so _sql_incremental_curate and
    _sql_retrain_on_drift share the policy VERBATIM on the oracle side,
    mirroring _shared_greedy_drop on the Spark side."""
    from ..functions import portable as _P

    return f"""{SQL_DOCS_SHINGLES},
    ab AS (SELECT doc_id,
             [{_P.sql_md5_long('s', 15, 1)} % {_P.ROLL_MOD} for s in sh] AS ha,
             [{_P.sql_md5_long('s', 15, 16)} % {_P.ROLL_MOD} for s in sh] AS hb
           FROM sh),
    sig AS (SELECT doc_id,
              [list_min([(ha[i] + j * hb[i]) % {_P.ROLL_MOD}
                         for i in range(1, len(ha) + 1)])
               for j in range(0, {D.MINHASH_N})] AS sig
            FROM ab),
    bands AS (SELECT doc_id, b AS band,
                array_to_string(
                  sig[b*{D.LSH_ROWS}+1 : b*{D.LSH_ROWS}+{D.LSH_ROWS}], ',')
                  AS key
              FROM sig, range(0, {D.LSH_BANDS}) AS r(b)),
    dd_cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a
             JOIN bands b ON a.band = b.band AND a.key = b.key
                         AND a.doc_id < b.doc_id),
    dd_drop AS (SELECT DISTINCT id_b AS doc_id
              FROM dd_cand JOIN sh sa ON dd_cand.id_a = sa.doc_id
                        JOIN sh sb ON dd_cand.id_b = sb.doc_id
              WHERE {SQL_JACCARD} >= 0.5)"""


def _sql_incremental_curate() -> str:
    """DuckDB oracle for pl_incremental_curate: the greedy keep-first-
    seen near-dup policy (dd_corpus_clean's documented standard: from
    each LSH-verified pair the HIGHER doc_id drops — pair-at-a-time,
    no transitive closure) restricted onto _sql_ivfpq256's
    train_base replay (coarse quantizer trained on the canonical BASE
    only; assignment/encode replayed over ALL survivors against the
    frozen result — the publish-on-base + append-new contract of
    wh_ivfpq256_append, now with curation fused in front). Same
    anchored-substitution discipline as _sql_dedup_before_index."""
    from ..operators.similarity import IVFPQ_APPEND_BASE

    greedy_ctes = _sql_greedy_drop_ctes()
    base = _sql_ivfpq256(train_base=IVFPQ_APPEND_BASE)
    with_anchor = "WITH braw AS"
    e_anchor = (
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
    )
    # Exactly-once (ADVICE r15): the .replace(..., 1) calls below would
    # silently rewrite the WRONG occurrence if a host edit ever
    # duplicated an anchor — fail loudly instead.
    assert base.count(with_anchor) == 1 and base.count(e_anchor) == 1, (
        "oracle substitution anchors not unique — _sql_ivfpq256 changed"
    )
    return base.replace(
        with_anchor,
        f"WITH {greedy_ctes},\n    braw AS",
        1,
    ).replace(
        e_anchor,
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
        "\n          WHERE vec_id NOT IN (SELECT doc_id FROM dd_drop))",
        1,
    )


def _shared_canon_appended_prefix(spark: SparkSession, sf_dir: str) -> str:
    """The curated publish-on-base + append-new STORED layout —
    publish the canonical base's index once, append the canonical new
    batch once (the _shared_appended256_prefix discipline; a second
    append would double the codes, so the memo is correctness, not
    just bench hygiene)."""
    from .beyond_similarity import _shared_artifact, _sf_tag

    def build() -> str:
        from ..operators.similarity import IVFPQ_APPEND_BASE
        from ..sources.warehouse import (
            append_ivfpq256_vectors,
            publish_ivfpq256_layout,
        )

        dropg = _shared_greedy_drop(spark, sf_dir)
        emb = _t(spark, sf_dir, "embeddings")
        kept = emb.join(F.broadcast(dropg), "vec_id", "left_anti")
        base = kept.filter(F.col("vec_id") < IVFPQ_APPEND_BASE)
        new = kept.filter(F.col("vec_id") >= IVFPQ_APPEND_BASE)
        prefix = f"canon_inc_{_sf_tag(sf_dir)}"
        publish_ivfpq256_layout(base, prefix)
        append_ivfpq256_vectors(new, prefix)
        return prefix

    return _shared_artifact(spark, sf_dir, "canon_appended_prefix", build)


@query(
    "pl_incremental_curate",
    _sql_incremental_curate(),
)
def pl_incremental_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL production loop, fused: a new document batch
    (vec_id >= IVFPQ_APPEND_BASE, the wh_ivfpq256_append boundary)
    arrives against a standing curated index — near-dups are dropped
    by the greedy keep-first-seen policy (dd_corpus_clean's documented
    standard: the higher id of every LSH-verified pair drops, so a new
    doc duplicating ANYTHING earlier — base or batch — never enters),
    the canonical base's index was published with the coarse quantizer
    trained on the BASE ONLY, and the canonical new vectors are
    APPENDED with zero retraining (frozen books, frozen centroids —
    the wh_ivfpq256_append economics with curation fused in front).
    Queries are then served from the stored layout.

    Checked contract: curate -> publish-on-base -> append-new must
    answer EXACTLY like curating and encoding the whole corpus in one
    batch against the same frozen structures — the oracle replays
    greedy-dedup + train-on-base + encode-all (see
    _sql_incremental_curate). At 100 TB this is THE standing loop: per
    arriving batch, one LSH pass over the batch (the band index makes
    candidates an equi-join), one assign+encode pass over its
    survivors, zero touching of the standing corpus or books.

    Oracle: the fused greedy-curate + train_base SQL (stored ==
    one-batch replay)."""
    prefix = _shared_canon_appended_prefix(spark, sf_dir)
    dropg = _shared_greedy_drop(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    kept = emb.join(F.broadcast(dropg), "vec_id", "left_anti")
    stored_inv = spark.table(f"{prefix}_codes").withColumn(
        "cell", F.col("cell").cast("bigint")
    )
    return S.ivfpq256_query(
        kept,
        spark.table(f"{prefix}_centroids"),
        spark.table(f"{prefix}_books"),
        stored_inv,
    )


def _sql_retrain_on_drift() -> str:
    """DuckDB oracle for pl_retrain_on_drift: the greedy drop-set CTEs
    (VERBATIM via _sql_greedy_drop_ctes) curate the corpus, one
    decimal-exact Lloyd step over the canonical BASE (seeds = its 16
    smallest surviving ids — sim_ivfpq_drift's icent0 math restricted
    to survivors) builds the serving quantizer, the monitor replays
    sim_ivfpq_drift's fit/occupancy decision for the arriving cohorts,
    and the RETRAIN replays the same Lloyd step re-seeded inside the
    drifted blob (8 smallest base + 8 smallest shifted ids) over
    base + shifted — the recovery is then measured against the
    retrained cells. Every piece is an already-committed oracle idiom
    composed; nothing new is invented on the oracle side."""
    from ..operators.similarity import IVFPQ_APPEND_BASE

    return f"""WITH {_sql_greedy_drop_ctes()},
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          WHERE vec_id NOT IN (SELECT doc_id FROM dd_drop)),
    base AS (SELECT vec_id, v FROM e
             WHERE vec_id < {IVFPQ_APPEND_BASE}),
    newb AS (SELECT vec_id, v FROM e
             WHERE vec_id >= {IVFPQ_APPEND_BASE}),
    shif AS (SELECT vec_id,
               [x * CAST('0.05' AS DOUBLE) + CAST('1.0' AS DOUBLE)
                for x in v] AS v
             FROM newb),
    c0 AS (SELECT vec_id AS cell, v AS cv FROM base
           QUALIFY row_number() OVER (ORDER BY vec_id) <= 16),
    ia0 AS (SELECT base.vec_id, base.v, cell FROM base, c0
            QUALIFY row_number() OVER (PARTITION BY base.vec_id
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
    s8a AS (SELECT vec_id, v FROM base
            QUALIFY row_number() OVER (ORDER BY vec_id) <= 8),
    s8b AS (SELECT vec_id, v FROM shif
            QUALIFY row_number() OVER (ORDER BY vec_id) <= 8),
    cr0 AS (SELECT vec_id AS cell, v AS cv FROM s8a
            UNION ALL
            SELECT vec_id AS cell, v AS cv FROM s8b),
    un AS (SELECT vec_id, v FROM base
           UNION ALL
           SELECT vec_id, v FROM shif),
    iar AS (SELECT un.vec_id, un.v, cell FROM un, cr0
            QUALIFY row_number() OVER (PARTITION BY un.vec_id
              ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,
              cell ASC) = 1),
    ipxr AS (SELECT cell, u.p AS pos, u.x AS val FROM iar,
             unnest([{{'p': i, 'x': v[i]}}
                     for i in range(1, len(v) + 1)]) AS t(u)),
    icentr AS (SELECT cell, pos,
                 CAST(sum(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
                   / count(*) AS cv_e
               FROM ipxr GROUP BY 1, 2),
    c2 AS (SELECT cell, list(cv_e ORDER BY pos) AS cv
           FROM icentr GROUP BY 1),
    mon AS (SELECT 'monitor' AS phase, 'new_iid' AS cohort, vec_id, v
            FROM newb
            UNION ALL
            SELECT 'monitor', 'new_shifted', vec_id, v FROM shif
            UNION ALL
            SELECT 'after', 'new_iid', vec_id, v FROM newb),
    afm AS (SELECT mon.phase, mon.cohort, mon.vec_id, cell,
              CAST(round(list_cosine_similarity(v, cv), 6)
                   AS DECIMAL(18,6)) AS q
            FROM mon, c1
            QUALIFY row_number() OVER (
              PARTITION BY mon.phase, mon.cohort, mon.vec_id
              ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,
              cell ASC) = 1),
    afr AS (SELECT 'after' AS phase, 'new_shifted' AS cohort,
              shif.vec_id, cell,
              CAST(round(list_cosine_similarity(v, cv), 6)
                   AS DECIMAL(18,6)) AS q
            FROM shif, c2
            QUALIFY row_number() OVER (PARTITION BY shif.vec_id
              ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,
              cell ASC) = 1),
    al AS (SELECT * FROM afm UNION ALL SELECT * FROM afr),
    gc AS (SELECT phase, cohort, cell, count(*) AS nc, sum(q) AS sq
           FROM al GROUP BY 1, 2, 3),
    g AS (SELECT phase, cohort, sum(nc) AS n, sum(sq) AS sq,
                 max(nc) AS max_nc
          FROM gc GROUP BY 1, 2),
    dec AS (SELECT cohort,
              CASE WHEN round(CAST(max_nc AS DOUBLE) / n, 6)
                        > CAST('0.5' AS DOUBLE)
                   THEN 'retrain' ELSE 'append' END AS action,
              round(CAST(sq AS DOUBLE) / n, 6) AS monitor_mean6
            FROM g WHERE phase = 'monitor')
    SELECT phase, g.cohort, CAST(n AS BIGINT) AS n,
           round(CAST(sq AS DOUBLE) / n, 6) AS mean_cos6,
           round(CAST(max_nc AS DOUBLE) / n, 6) AS max_share6,
           round(CAST(max_nc AS DOUBLE) / n, 6) > CAST('0.5' AS DOUBLE)
             AS drifted,
           action,
           phase = 'after'
             AND round(CAST(sq AS DOUBLE) / n, 6) >= monitor_mean6
             AS recovered
    FROM g JOIN dec ON g.cohort = dec.cohort
    ORDER BY phase, g.cohort
    """


@query(
    "pl_retrain_on_drift",
    _sql_retrain_on_drift(),
)
def pl_retrain_on_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRAIN-ON-DRIFT for the CANONICAL index — the one lifecycle
    edge the fused pipeline had not crossed (VERDICT r15 ask #8 option
    a, chosen deliberately): compose sim_ivfpq_drift's monitor with
    the curated-corpus loop, so the standing production cycle becomes
    curate -> index -> serve -> MONITOR -> (append | RETRAIN) ->
    recovered serve, all on the canonical corpus.

    The arriving batch (vec_id >= IVFPQ_APPEND_BASE) is greedy-curated
    first (the memoized _shared_greedy_drop — dedup runs BEFORE every
    downstream lifecycle stage, the tier's standing claim). Two planted
    cohorts then hit the monitor against the BASE-trained canonical
    quantizer (sim_ivfpq_drift's decision: occupancy concentration
    max_share6 > 0.5): new_iid — the real curated batch — matches the
    base distribution and must NOT flag (action 'append': the
    wh_ivfpq256_append economics, zero retraining, its 'after' stats
    are byte-identical to its monitor stats because the quantizer is
    FROZEN); new_shifted — every vector crowding one direction
    (x*0.05 + 1, the sim_ivfpq_drift spike-in) — collapses occupancy
    to ~1.0 and MUST flag (action 'retrain'). The retrain is the
    production answer: re-seed the quantizer WHERE THE DATA NOW LIVES
    (8 smallest base + 8 smallest shifted ids) and rerun the same
    decimal-exact Lloyd step over base + shifted.

    RECOVERY is judged by FIT, not occupancy — the ``recovered``
    column (phase = 'after' AND mean_cos6 >= the same cohort's monitor
    mean_cos6, computed by join) reads true for both after-rows:
    new_iid trivially (frozen quantizer, stats byte-identical) and
    new_shifted decisively (mean fit jumps ~0.19 -> ~0.9999 at every
    scale: the retrained centroids live inside the blob, so
    quantization error collapses). Occupancy is deliberately NOT the
    recovery signal: the spike-in batch is one tight direction by
    construction, so even a perfectly-fit retrained quantizer may
    funnel it into few cells (rounded-cosine ties inside an ultra-
    tight blob break toward the lowest cell — max_share6 after
    retraining reads 0.50/0.98/0.24 at sf0.001/0.01/0.1), which is
    the DATA's concentration, not the quantizer's failure; the
    committed occupancy signal is the monitor's drift TRIGGER against
    a frozen quantizer (where concentration means mismatch), and the
    post-retrain cell-size skew it reports is the compaction
    rebalance's problem (wh_ivfpq256_compact), not the monitor's. The
    action column is DERIVED from the monitor flags by join (no
    driver-side collect): the decision wiring is data-driven
    end-to-end; in production the 'retrain' leg gates a maintenance
    job, and this entry pins the math of both legs plus the decision
    in one hash.

    Scale: one pass per (phase, cohort) against BROADCAST centroid
    tables (16-row frames), ONE shuffle to (phase, cohort, cell)
    groups, 4-row output; the Lloyd steps are the committed
    refine_centroids (decimal-exact, map-side combinable); seeds are
    TakeOrdered heads, never a global sort. Nothing touches the
    standing base codes — retraining replaces a 16-row centroid
    sidecar, exactly the artifact wh_ivfpq256_retrain already proves
    swappable in the stored layout.

    Oracle: the greedy CTEs + two Lloyd replays + the sim_ivfpq_drift
    decision math composed (see _sql_retrain_on_drift).
    Reference analogue: none (beyond-reference LLM-pipeline tier)."""
    from pyspark.sql import Window

    from ..functions import portable as _P

    dropg = _shared_greedy_drop(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    kept = S._vecs(emb.join(F.broadcast(dropg), "vec_id", "left_anti"))
    base = kept.filter(F.col("vec_id") < S.IVFPQ_APPEND_BASE)
    newb = kept.filter(F.col("vec_id") >= S.IVFPQ_APPEND_BASE)
    shifted = newb.select(
        "vec_id",
        F.expr(
            "transform(v, x -> x * CAST('0.05' AS DOUBLE)"
            " + CAST('1.0' AS DOUBLE))"
        ).alias("v"),
    )
    seeds = (
        base.orderBy("vec_id")
        .limit(16)
        .select(F.col("vec_id").alias("cell"), F.col("v").alias("cv"))
    )
    cells1 = S.refine_centroids(base, seeds).localCheckpoint(eager=True)
    seeds_r = (
        base.orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("cell"), F.col("v").alias("cv"))
        .unionAll(
            shifted.orderBy("vec_id")
            .limit(8)
            .select(
                F.col("vec_id").alias("cell"), F.col("v").alias("cv")
            )
        )
    )
    cells2 = S.refine_centroids(
        base.unionAll(shifted), seeds_r
    ).localCheckpoint(eager=True)

    def fit(frame: DataFrame, cells: DataFrame, phase: str, cohort: str):
        # shuffle-free nearest-cell + fit score (r16: was a corpus x
        # cells crossJoin ranked by a row_number window — identical
        # (cell, score) per row, zero Exchange per monitored cohort)
        return S.nearest_cell_scored(frame, cells, []).select(
            F.lit(phase).alias("phase"),
            F.lit(cohort).alias("cohort"),
            "cell",
            F.col("cell_cos").cast("decimal(18,6)").alias("q"),
        )

    al = (
        fit(newb, cells1, "monitor", "new_iid")
        .unionAll(fit(shifted, cells1, "monitor", "new_shifted"))
        .unionAll(fit(newb, cells1, "after", "new_iid"))
        .unionAll(fit(shifted, cells2, "after", "new_shifted"))
    )
    gc = al.groupBy("phase", "cohort", "cell").agg(
        F.count("*").alias("nc"), F.sum("q").alias("sq")
    )
    g = gc.groupBy("phase", "cohort").agg(
        F.sum("nc").alias("n"),
        F.sum("sq").alias("sq"),
        F.max("nc").alias("max_nc"),
    )
    share = F.round(F.col("max_nc").cast("double") / F.col("n"), 6)
    mean6 = F.round(F.col("sq").cast("double") / F.col("n"), 6)
    dec = g.filter(F.col("phase") == "monitor").select(
        "cohort",
        F.when(
            share > F.expr("CAST('0.5' AS DOUBLE)"), F.lit("retrain")
        )
        .otherwise(F.lit("append"))
        .alias("action"),
        mean6.alias("monitor_mean6"),
    )
    return (
        g.join(F.broadcast(dec), "cohort")
        .select(
            "phase",
            "cohort",
            F.col("n").cast("bigint").alias("n"),
            mean6.alias("mean_cos6"),
            share.alias("max_share6"),
            (share > F.expr("CAST('0.5' AS DOUBLE)")).alias("drifted"),
            "action",
            (
                (F.col("phase") == F.lit("after"))
                & (mean6 >= F.col("monitor_mean6"))
            ).alias("recovered"),
        )
        .orderBy("phase", "cohort")
    )


def _sql_learned_rerank() -> str:
    """DuckDB oracle for pl_learned_rerank: the fused dedup+index
    oracle through its shortlist-with-cosines CTE (same anchored slice
    as _sql_hybrid_rerank), then the LEARNED tail — a corpus-trained
    IDF table (round-6 ln, the tx_tfidf discipline, cast
    DECIMAL(18,6) so weight SUMS are exact and order-independent)
    scores idf-weighted token overlap per pair, blended 0.8/0.2."""
    base = _sql_dedup_before_index()
    tail_anchor = "SELECT query_id,\n           CAST(row_number()"
    assert base.count(tail_anchor) == 1, (
        "oracle tail anchor not unique — _sql_ivfpq256 changed"
    )
    head = base[: base.index(tail_anchor)]
    return (
        head
        + """, docw AS (SELECT doc_id,
               list_distinct(string_split(text, ' ')) AS w
            FROM documents),
    ndoc AS (SELECT count(*) AS n FROM documents),
    tok AS (SELECT doc_id, unnest(w) AS t FROM docw),
    tdf AS (SELECT t, count(*) AS df FROM tok GROUP BY t),
    idf AS (SELECT t,
              CAST(round(ln((n - df + CAST('0.5' AS DOUBLE))
                            / (df + CAST('0.5' AS DOUBLE))
                            + CAST('1' AS DOUBLE)), 6)
                   AS DECIMAL(18,6)) AS iw
            FROM tdf, ndoc),
    hy AS (SELECT query_id, neighbor_id, cos6,
              list_intersect(qw.w, nw.w) AS il,
              list_distinct(list_concat(qw.w, nw.w)) AS ul
           FROM rer
           JOIN docw qw ON rer.query_id = qw.doc_id
           JOIN docw nw ON rer.neighbor_id = nw.doc_id),
    ex AS (SELECT query_id, neighbor_id, cos6, u.t AS t,
              CASE WHEN list_contains(il, u.t) THEN 1 ELSE 0 END
                AS isect
           FROM hy, unnest(ul) AS u(t)),
    sc AS (SELECT query_id, neighbor_id, cos6,
              round(CAST(sum(CASE WHEN isect = 1 THEN iw
                                  ELSE CAST('0' AS DECIMAL(18,6)) END)
                         AS DOUBLE)
                    / CAST(sum(iw) AS DOUBLE), 6) AS wjacc6
           FROM ex JOIN idf ON ex.t = idf.t
           GROUP BY 1, 2, 3),
    blend AS (SELECT *,
                round(CAST('0.8' AS DOUBLE) * cos6
                      + CAST('0.2' AS DOUBLE) * wjacc6, 6) AS blend6
              FROM sc)
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY blend6 DESC, neighbor_id ASC) AS INTEGER) AS rnk,
           neighbor_id, cos6, wjacc6, blend6
    FROM blend
    QUALIFY rnk <= 5
    ORDER BY query_id, rnk
    """
    )


def corpus_idf(docw: DataFrame) -> DataFrame:
    """The LEARNED scoring table: token -> smoothed IDF
    (round(ln((N - df + 0.5) / (df + 0.5) + 1), 6), the BM25 idf with
    the tx_tfidf round-6 discipline), trained from the corpus's
    distinct-token document frequencies in ONE grouped pass. Weights
    are cast DECIMAL(18,6) so downstream SUMS of weights are exact and
    summation-order-independent (the beyond_text logp convention) —
    float sums would differ in final ulps between engines and
    partitionings. Bounded by the VOCABULARY (Heaps' law), never the
    corpus: broadcast at fixture scale; at 100 TB the same frame is a
    bucketed map-side join table."""
    tok = docw.select(F.explode("w").alias("t"))
    tdf = tok.groupBy("t").agg(F.count("*").alias("df"))
    ndoc = docw.agg(F.count("*").alias("n"))
    half = F.expr("CAST('0.5' AS DOUBLE)")
    one = F.expr("CAST('1' AS DOUBLE)")
    return tdf.crossJoin(F.broadcast(ndoc)).select(
        "t",
        F.round(
            F.log((F.col("n") - F.col("df") + half)
                  / (F.col("df") + half) + one),
            6,
        ).cast("decimal(18,6)").alias("iw"),
    )


def weighted_rerank_stage(
    docw: DataFrame, short: DataFrame, idf: DataFrame, k: int = 5
) -> DataFrame:
    """hybrid_rerank_stage's LEARNED twin: identical plan shape (the
    shortlist frame broadcast to the documents scan, pairwise work
    O(queries x k_shortlist), blend + window on the pair frame) with
    the unweighted jaccard feature replaced by an IDF-WEIGHTED overlap
    scored against the broadcast ``idf`` table — the 'learned
    broadcast scoring table' upgrade of the cross-encoder slot: a
    trained model's per-token weights would ride the same join. Shared
    with tools/pipeline_audit.py so the learned-vs-plain comparison
    measures the shipped stage."""
    cand = docw.join(
        F.broadcast(short), docw.doc_id == short.neighbor_id
    ).select(
        "query_id", "neighbor_id", "cos6", F.col("w").alias("nw")
    )
    hy = (
        docw.select(
            F.col("doc_id").alias("query_id"), F.col("w").alias("qw")
        )
        .join(F.broadcast(cand), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "cos6",
            F.array_intersect("qw", "nw").alias("il"),
            F.array_distinct(F.concat("qw", "nw")).alias("ul"),
        )
    )
    ex = hy.select(
        "query_id", "neighbor_id", "cos6", "il",
        F.explode("ul").alias("t"),
    ).select(
        "query_id",
        "neighbor_id",
        "cos6",
        "t",
        F.when(F.array_contains("il", F.col("t")), 1)
        .otherwise(0)
        .alias("isect"),
    )
    zero = F.lit("0").cast("decimal(18,6)")
    sc = (
        ex.join(F.broadcast(idf), "t")
        .groupBy("query_id", "neighbor_id", "cos6")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("isect") == 1, F.col("iw")).otherwise(
                        zero
                    )
                ).cast("double")
                / F.sum("iw").cast("double"),
                6,
            ).alias("wjacc6")
        )
    )
    blend = sc.withColumn(
        "blend6",
        F.round(
            F.expr("CAST('0.8' AS DOUBLE)") * F.col("cos6")
            + F.expr("CAST('0.2' AS DOUBLE)") * F.col("wjacc6"),
            6,
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("blend6"), F.asc("neighbor_id")
    )
    return (
        blend.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "rnk", "neighbor_id", "cos6", "wjacc6", "blend6"
        )
        .orderBy("query_id", "rnk")
    )


@query(
    "pl_learned_rerank",
    _sql_learned_rerank(),
)
def pl_learned_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rerank slot upgraded from unweighted jaccard to a LEARNED
    broadcast scoring table (VERDICT r15 ask #8 option b, taken as the
    measured follow-through of ask #3: PIPELINE_AUDIT_r16 proved the
    second stage pays; this entry ships the production feature the
    slot was built for). The scorer is a corpus-trained smoothed-IDF
    table (corpus_idf — one grouped pass over exploded distinct
    tokens, vocabulary-bounded, broadcast); each canonical-shortlist
    pair is scored by IDF-WEIGHTED token overlap (rare shared tokens
    count, ubiquitous tokens barely do — exactly the signal the
    unweighted jaccard dilutes when common tokens dominate), blended
    0.8/0.2 with the dense cosine, deterministic tie-break, top-5.

    Plan shape is hybrid_rerank_stage's VERBATIM with one extra
    broadcast (the weight table): pairwise work touches only
    queries x 50 rows, full-text I/O stays one corpus scan per side,
    and the learned weights ride a map-side join — swap the IDF frame
    for a distilled model's per-token weights and the plan does not
    change. That is the point of the slot.

    Exactness: idf = round(ln((N - df + 0.5)/(df + 0.5) + 1), 6) cast
    DECIMAL(18,6) (the tx_tfidf round-6 ln discipline; decimal weights
    make the pair-level weight SUMS exact and order-independent);
    wjacc6 = round(sum_iw(intersection)/sum_iw(union), 6).

    Oracle: the fused oracle through its shortlist CTE + the learned
    tail in DuckDB (see _sql_learned_rerank).
    Reference analogue: none (beyond-reference pipeline tier)."""
    kept, cells, inv = _shared_canonical_index(spark, sf_dir)
    short = S.ivfpq256_query(
        kept, cells, S.pq256_books(spark), inv, k=S.PQ256_SHORTLIST
    ).select("query_id", "neighbor_id", "cos6")
    docs = _t(spark, sf_dir, "documents")
    docw = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("w")
    )
    return weighted_rerank_stage(docw, short, corpus_idf(docw))

"""Deduplication-tier named queries (dd_*) — split from ``plans/beyond.py`` in round 8.

Pure mechanical move (VERDICT r7 ask #8): registry names, oracles, and
driver history are unchanged; ``plans.beyond`` still imports and
re-exports every entry, so existing import paths keep working. Shared
DuckDB fragments/helpers stay in ``plans.beyond`` and are imported from
there (it is mid-initialization at that point, but the shared block is
defined before the tier imports at its bottom run).
"""

from __future__ import annotations

from ..functions import portable as _P
from ..functions import text as T
from ..operators import dedup as D
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .beyond import (  # shared fragments/helpers
    EDJ_K,
    EDJ_PLEN,
    EDJ_SEGS,
    ER_MAX_DIST,
    SEG_TOKENS,
    SQL_DOCS_SHINGLES,
    SQL_JACCARD,
    SQL_SIMHASH,
    _SQL_CORPUS_CLEAN,
    _SQL_NORM,
)
from .queries import _t, query




# ===========================================================================
# Deduplication
# ===========================================================================


@query(
    "dd_exact_dedup",
    """
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    ORDER BY doc_id
    """,
)
def dd_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy (operators.dedup.exact_dedup)."""
    return D.exact_dedup(_t(spark, sf_dir, "documents")).orderBy("doc_id")




@query(
    "dd_ngram_jaccard",
    f"""
    WITH {SQL_DOCS_SHINGLES},
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    rare AS (SELECT s FROM ex GROUP BY s
             HAVING count(*) <= greatest(2,
               floor(0.5 * (SELECT count(*) FROM documents)))),
    exf AS (SELECT ex.* FROM ex JOIN rare USING (s)),
    co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
           FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
    sz AS (SELECT doc_id, len(sh) AS sz FROM sh)
    SELECT id_a, id_b,
           round(common::DOUBLE / (sa.sz + sb.sz - common), 6) AS jaccard
    FROM co JOIN sz sa ON co.id_a = sa.doc_id
            JOIN sz sb ON co.id_b = sb.doc_id
    WHERE round(common::DOUBLE / (sa.sz + sb.sz - common), 6) >= 0.3
    ORDER BY id_a, id_b
    """,
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive word-5-gram Jaccard near-dup pairs (shared-shingle block).

    Runs the operator's scale-safe default (max_df=0.5: stop-shingles
    present in over half the corpus are excluded from candidate
    generation); the oracle mirrors the same df cap, so the contract is
    exact whether or not the cap fires at a given scale."""
    return D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.3
    ).orderBy("id_a", "id_b")




@query(
    "dd_minhash_lsh",
    f"""
    WITH {SQL_DOCS_SHINGLES},
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
                array_to_string(sig[b*{D.LSH_ROWS}+1 : b*{D.LSH_ROWS}+{D.LSH_ROWS}], ',') AS key
              FROM sig, range(0, {D.LSH_BANDS}) AS r(b)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a
             JOIN bands b ON a.band = b.band AND a.key = b.key
                         AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, {SQL_JACCARD} AS jaccard
    FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
              JOIN sh sb ON cand.id_b = sb.doc_id
    WHERE {SQL_JACCARD} >= 0.3
    ORDER BY id_a, id_b
    """,
)
def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(8 bands x 2) candidates, exact-Jaccard verified.

    The oracle reproduces the banding, so candidate generation itself is
    correctness-checked; recall vs the exhaustive baseline is pinned by
    tests/test_beyond_ops.py::test_minhash_lsh_recall.
    """
    return D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.3
    ).orderBy("id_a", "id_b")




@query(
    "dd_simhash",
    f"""
    WITH {SQL_SIMHASH}
    SELECT doc_id, simhash FROM simh ORDER BY doc_id
    """,
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (operators.dedup.simhash)."""
    return D.simhash(_t(spark, sf_dir, "documents")).orderBy("doc_id")




@query(
    "dd_simhash_pairs",
    f"""
    WITH {SQL_SIMHASH},
    chunks AS (SELECT doc_id, simhash, c, (simhash >> (c*8)) & 255 AS ck
               FROM simh, range(0, 4) AS r(c))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming
    FROM chunks a
    JOIN chunks b ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY id_a, id_b
    """,
)
def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3), 8-bit-chunk blocked —
    lossless blocking by pigeonhole (see operators.dedup.simhash_pairs)."""
    return D.simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3).orderBy(
        "id_a", "id_b"
    )




@query(
    "dd_embedding_neardup",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def dd_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, label-blocked."""
    return D.embedding_near_dup(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    ).orderBy("id_a", "id_b")




@query(
    "dd_embedding_neardup_blocked",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def dd_embedding_neardup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-pair (cogrouped GEMM tile) variant — MUST emit exactly the
    pairs of dd_embedding_neardup; same oracle proves the blocked
    decomposition loses nothing."""
    return D.embedding_near_dup_blocked(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, n_chunks=4
    ).orderBy("id_a", "id_b")




@query(
    "dd_neardup_components",
    f"""
    WITH RECURSIVE {SQL_DOCS_SHINGLES},
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
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a
             JOIN bands b ON a.band = b.band AND a.key = b.key
                         AND a.doc_id < b.doc_id),
    pairs AS (SELECT id_a, id_b
              FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
                        JOIN sh sb ON cand.id_b = sb.doc_id
              WHERE {SQL_JACCARD} >= 0.5),
    e AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS n FROM e),
    reach AS (
      SELECT n, n AS m FROM nodes
      UNION
      SELECT r.n, e.dst AS m FROM reach r JOIN e ON e.src = r.m
    )
    SELECT n AS doc_id, CAST(min(m) AS BIGINT) AS component
    FROM reach GROUP BY n ORDER BY doc_id
    """,
)
def dd_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE dedup clusters: connected components over the MinHash-LSH
    near-dup pair graph (operators.graph.connected_components, the
    iterative min-label-propagation loop) — transitive merging that
    pair-at-a-time dropping can't do (A~B, B~C puts A,B,C in ONE cluster
    even when A!~C directly). The oracle computes the same components by
    recursive transitive closure in DuckDB, so the iterative Spark loop
    is pinned end-to-end: LSH candidate generation, verification, AND
    the fixpoint."""
    from ..operators.graph import connected_components

    pairs = D.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)
    return (
        connected_components(pairs)
        .select(F.col("node").alias("doc_id"), "component")
        .orderBy("doc_id")
    )




@query(
    "dd_corpus_clean",
    _SQL_CORPUS_CLEAN,
)
def dd_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship LLM-training-data pipeline, end to end: language
    filter -> quality filter -> exact dedup -> MinHash-LSH near-dup
    removal -> surviving corpus. Every stage is one of the engine's
    oracle-checked operators composed lazily into a single Catalyst plan
    (the filters run BEFORE the expensive shingle/LSH stages, so the
    near-dup pass sees only the quality-English subset — the order a
    100 TB curation run must use).

    Near-dup policy: from each LSH-verified pair (jaccard >= 0.5) the
    higher doc_id is dropped ("keep first seen") — deterministic,
    single-pass, and the standard greedy choice when full
    connected-component resolution isn't worth a transitive closure."""
    docs = _t(spark, sf_dir, "documents")
    prof = T.text_profile(docs).select(
        "doc_id", "n_tokens", "quality_pts", T.predicted_lang().alias("plang")
    )
    kept = (
        prof.filter((F.col("plang") == "en") & (F.col("quality_pts") >= 45))
        .select("doc_id", "n_tokens", "quality_pts")
        # Tiny frame (surviving ids + 2 stat columns), huge lineage (the
        # full explode+aggregate profile) referenced by every downstream
        # branch — the GOOD localCheckpoint pattern: materialize the ids
        # once, then each branch filters the corpus with a broadcast
        # semi-join instead of re-running the profile shuffle. (Contrast
        # the measured-8x-slower checkpoint of the WIDE text-carrying
        # frame, which this replaces.)
        .localCheckpoint(eager=True)
    )
    # Re-attach the payload by id for the dedup/LSH stages — text must
    # never ride through the profile's groupBy shuffle.
    filt = docs.select("doc_id", "text").join(
        F.broadcast(kept.select("doc_id")), "doc_id", "left_semi"
    )
    reps = D.exact_dedup(filt).select("doc_id")
    # filt/s2 themselves stay LAZY: each re-evaluation is just a parquet
    # scan + broadcast semi-join against the checkpointed id set. (An
    # eager checkpoint of the WIDE text-carrying frame here was measured
    # 8x slower — materialize small id/stat frames, never payloads.)
    s2 = filt.join(reps, "doc_id", "left_semi")
    near = D.minhash_lsh_pairs(
        s2.select("doc_id", "text"), threshold=0.5
    ).select(F.col("id_b").alias("doc_id")).distinct()
    return (
        s2.select("doc_id")
        .join(near, "doc_id", "left_anti")
        .join(kept, "doc_id")
        .select("doc_id", "n_tokens", "quality_pts")
        .orderBy("doc_id")
    )




@query(
    "dd_normalized_dedup",
    f"""
    WITH uni AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             upper(replace(text, ' ', ', ')) || '!!' AS text
      FROM documents),
    h AS (SELECT doc_id,
                 CASE WHEN length({_SQL_NORM}) = 0
                      THEN {_P.sql_md5_long('text')}
                      ELSE {_P.sql_md5_long(_SQL_NORM)} END AS h
          FROM uni)
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM h GROUP BY h.h ORDER BY doc_id
    """,
)
def dd_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet-style normalization dedup (operators.dedup.
    normalized_dedup): exact dedup over the canonical text form (case
    folded, punctuation stripped, whitespace collapsed), so trivially
    mutated copies collapse where raw-hash dedup (dd_exact_dedup) sees
    distinct documents.

    The fixture corpus is ALREADY canonical (lowercase, single-spaced),
    so the query unions in a deterministically mutated copy of every doc
    (uppercased, comma-injected, bang-suffixed, id offset by 1e6 — same
    expression in the oracle); the operator must merge each mutant with
    its original, giving every surviving group n_copies = 2 with the
    original id as representative. A raw-hash dedup run on the same
    union leaves 2x the groups — the normalization is what's under
    test, not vacuously re-tested exact hashing.

    Scale shape identical to exact_dedup: the added normalization is a
    map-only JVM regexp chain; the single shuffle still carries a 60-bit
    hash per row. Reference analogue: none."""
    docs = _t(spark, sf_dir, "documents")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.upper(F.regexp_replace("text", " ", ", ")), F.lit("!!")
        ).alias("text"),
    )
    uni = docs.select("doc_id", "text").unionAll(mutated)
    return D.normalized_dedup(uni).orderBy("doc_id")




@query(
    "dd_incremental_dedup",
    """
    WITH ch AS (SELECT DISTINCT md5(text) AS h FROM documents
                WHERE doc_id < 400),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= 400
      UNION ALL    -- replayed corpus content: must be dropped by the index
      SELECT doc_id + 1000000, text FROM documents
      WHERE doc_id < 400 AND doc_id % 7 = 0
      UNION ALL    -- within-batch exact copies: must collapse
      SELECT doc_id + 2000000, text FROM documents
      WHERE doc_id >= 400 AND doc_id % 5 = 0),
    b AS (SELECT md5(text) AS h, min(doc_id) AS doc_id,
                 count(*) AS n_copies
          FROM batch GROUP BY 1)
    SELECT doc_id, n_copies FROM b
    WHERE h NOT IN (SELECT h FROM ch)
    ORDER BY doc_id
    """,
)
def dd_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (operators.dedup.incremental_dedup):
    doc_ids >= 400 play today's ingest batch, everything before them the
    already-deduped corpus, represented ONLY by its content-hash index
    (operators.dedup.hash_index). The fixture corpus has no exact
    duplicates (its planted dupes are NEAR-dups), so the batch unions in
    two deterministic exact-replay sets — corpus docs re-ingested under
    new ids (%7, must be dropped by the index anti-join) and
    within-batch copies (%5, must collapse to n_copies=2 under the
    original id) — making both code paths observable at every SF; the
    oracle replays the same construction.

    This is the operational shape of dedup at 100 TB: the history is
    petabytes but its index is ~16 bytes/doc, and the daily batch joins
    against the index, not the corpus."""
    docs = _t(spark, sf_dir, "documents")
    corpus_idx = D.hash_index(docs.filter(F.col("doc_id") < 400))
    fresh = docs.filter(F.col("doc_id") >= 400).select("doc_id", "text")
    replayed = (
        docs.filter((F.col("doc_id") < 400) & (F.col("doc_id") % 7 == 0))
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    copies = (
        docs.filter((F.col("doc_id") >= 400) & (F.col("doc_id") % 5 == 0))
        .select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    )
    batch = fresh.unionAll(replayed).unionAll(copies)
    return D.incremental_dedup(batch, corpus_idx).orderBy("doc_id")




@query(
    "dd_incremental_minhash",
    f"""
    WITH {SQL_DOCS_SHINGLES},
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
                array_to_string(sig[b*{D.LSH_ROWS}+1 : b*{D.LSH_ROWS}+{D.LSH_ROWS}], ',') AS key
              FROM sig, range(0, {D.LSH_BANDS}) AS r(b)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a
             JOIN bands b ON a.band = b.band AND a.key = b.key
                         AND a.doc_id < 400 AND b.doc_id >= 400)
    SELECT id_a, id_b, {SQL_JACCARD} AS jaccard
    FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
              JOIN sh sb ON cand.id_b = sb.doc_id
    WHERE {SQL_JACCARD} >= 0.3
    ORDER BY id_a, id_b
    """,
)
def dd_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dedup (operators.dedup.incremental_minhash_lsh):
    doc_ids >= 400 are today's batch, the rest the corpus, represented
    by its LSH band index (operators.dedup.band_index — the state an
    accepted batch appends to). Candidates come from the index
    equi-join; only candidate corpus docs are re-read for the exact
    Jaccard verify. The oracle replays the FULL LSH pipeline in DuckDB
    restricted to cross-boundary pairs, so the incremental path must
    find exactly the pairs the batch operator would — the convergence
    guarantee the operator docstring claims, under the hard signal
    (non-vacuous: 8 cross-boundary near-dup pairs at sf0.01, 31 at
    sf0.1)."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    batch = docs.filter(F.col("doc_id") >= 400)
    return D.incremental_minhash_lsh(batch, corpus, threshold=0.3).orderBy(
        "id_a", "id_b"
    )




@query(
    "dd_passage_dupes",
    f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    p AS (
      SELECT doc_id,
             unnest(list_distinct(
               [array_to_string(w[i:i+15], ' ')
                for i in range(1, len(w) - 14)])) AS s
      FROM d),
    ph AS (SELECT doc_id, {_P.sql_md5_long('s')} AS h FROM p),
    df AS (SELECT h, count(*) AS nd FROM ph GROUP BY 1)
    SELECT doc_id, count(*) AS n_passages,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_passages,
           round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) / count(*), 6)
             AS dup_fraction
    FROM ph JOIN df USING (h)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def dd_passage_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-passage report (operators.dedup.passage_dup_report):
    per document, the fraction of its distinct word-16-gram passages
    that also occur in at least one other document — the span-hash
    approximation of Lee et al. 2021's exact-substring dedup, catching
    boilerplate/templated spans that whole-document hashing never can.
    16-gram passages (vs the 5-gram Jaccard shingles) make chance
    collisions in the tiny fixture vocabulary rare, so nonzero
    dup_fraction means genuinely shared spans (planted near-dups).

    The per-passage doc-frequency count uses count(*) over rows that are
    already DISTINCT (doc, passage-hash) pairs — a plain aggregate, not
    a countDistinct expand. Reference analogue: none."""
    docs = _t(spark, sf_dir, "documents")
    return D.passage_dup_report(docs, n=16).orderBy("doc_id")




@query(
    "dd_segment_dedup",
    f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    segs AS (
      SELECT doc_id,
             unnest(range(0, (len(w) + {SEG_TOKENS - 1}) // {SEG_TOKENS}))
               AS seg_idx,
             unnest([array_to_string(
                       w[s * {SEG_TOKENS} + 1 : s * {SEG_TOKENS} + {SEG_TOKENS}],
                       ' ')
                     for s in range(0, (len(w) + {SEG_TOKENS - 1})
                                       // {SEG_TOKENS})]) AS seg
      FROM tok),
    k AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (
               PARTITION BY ('0x' || substr(md5(seg), 1, 15))::BIGINT
               ORDER BY doc_id, seg_idx) AS rn
      FROM segs)
    SELECT doc_id,
           count(*) AS n_segments,
           sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
                               ORDER BY seg_idx), '') AS clean_text
    FROM k GROUP BY doc_id ORDER BY doc_id
    """,
)
def dd_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's line-level dedup (Raffel et al. 2020 §2.2 — drop every
    repeated line corpus-wide, keeping the globally FIRST occurrence)
    at fixed-width segment granularity, with documents reassembled in
    original order (operators.dedup.segment_dedup). The parallel-unnest
    oracle replays the identical segmentation, winner election
    (row_number over the same 60-bit hash partitioning) and ordered
    string_agg reassembly. Two fixture docs come back EMPTY — the
    boilerplate-only pages the C4 pass exists to drain."""
    return D.segment_dedup(
        _t(spark, sf_dir, "documents"), SEG_TOKENS
    ).orderBy("doc_id")




@query(
    "dd_er_blocked_pairs",
    f"""
    WITH n AS (SELECT DISTINCT p_name AS name,
                      string_split(p_name, ' ')[-1] AS block
               FROM part)
    SELECT a.block AS block, a.name AS name_a, b.name AS name_b,
           levenshtein(a.name, b.name) AS dist,
           round(1.0 - levenshtein(a.name, b.name)
                       / greatest(length(a.name), length(b.name)), 6)
             AS sim
    FROM n a JOIN n b ON a.block = b.block AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= {ER_MAX_DIST}
    ORDER BY 1, 2, 3
    """,
)
def dd_er_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairs over the part-name vocabulary:
    block on the head noun (last token), verify within blocks by JVM-side
    levenshtein under 3 (operators.dedup.
    blocked_levenshtein_pairs) — the Fellegi-Sunter blocking+verify
    skeleton every record-linkage pipeline runs before scoring. Both
    engines ship the same edit-distance primitive, so the oracle is
    exact. At 100 TB the single blocking key becomes multi-pass /
    sorted-neighborhood keys; each pass is this operator unchanged."""
    pairs = D.blocked_levenshtein_pairs(
        _t(spark, sf_dir, "part"),
        "p_name",
        F.substring_index(F.col("p_name"), " ", -1),
        ER_MAX_DIST,
    )
    return pairs.orderBy("block", "name_a", "name_b")




@query(
    "dd_qgram_edit_join",
    f"""
    WITH p AS (SELECT DISTINCT substr(text, 1, {EDJ_PLEN}) AS s
               FROM documents),
    segdef(i, st, ln) AS (VALUES
      {", ".join(f"({i}, {st}, {ln})" for i, st, ln in EDJ_SEGS)}),
    a_seg AS (SELECT s, i, substr(s, st, ln) AS g
              FROM p CROSS JOIN segdef),
    b_seg AS (SELECT s, i, substr(s, st + d, ln) AS g
              FROM p CROSS JOIN segdef
              CROSS JOIN (SELECT unnest(range(-{EDJ_K}, {EDJ_K + 1})) AS d)
              WHERE st + d >= 1 AND st + d + ln - 1 <= {EDJ_PLEN}),
    cand AS (SELECT DISTINCT a.s AS s_a, b.s AS s_b
             FROM a_seg a JOIN b_seg b ON a.i = b.i AND a.g = b.g
             WHERE a.s < b.s)
    SELECT s_a, s_b, levenshtein(s_a, s_b) AS dist
    FROM cand WHERE levenshtein(s_a, s_b) <= {EDJ_K}
    ORDER BY s_a, s_b
    """,
)
def dd_qgram_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide edit-distance similarity JOIN (all pairs of distinct
    16-char document prefixes with levenshtein <= 2)
    WITHOUT the quadratic scan — the PassJoin pigeonhole (Li, Deng,
    Feng 2011): split each key into k+1 = 3 segments; if
    ed(a, b) <= k then b contains one of a's segments EXACTLY, at a
    position shifted by at most k. So the build side emits canonical
    segments, the probe side emits the same windows at shifts
    -2..2, candidates come from the (segment_id, gram)
    equi-join, and only candidates pay the levenshtein verify. At sf0.1
    this checks ~0.4% of the 10M all-pairs space (measured 348k
    candidates, 1129 true pairs) — recall is COMPLETE by the
    pigeonhole, which the exhaustive-oracle sibling in the unit tests
    pins. Same blocked-verify skeleton as MinHash-LSH, for the
    edit-distance metric the LSH family can't index; the scale answer
    to dd_er_blocked_pairs' single-key blocking caveat. Fixed-length
    keys by construction (every fixture doc is >= 16 chars);
    variable-length corpora use PassJoin's length-bucketed segment
    table, same join shape."""
    p = (
        _t(spark, sf_dir, "documents")
        .select(F.substring("text", 1, EDJ_PLEN).alias("s"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    segdef = [
        (i, st, ln) for i, st, ln in EDJ_SEGS
    ]
    a_seg = p.select(
        "s",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.substring("s", st, ln).alias("g"),
                    )
                    for i, st, ln in segdef
                ]
            )
        ).alias("x"),
    ).select("s", "x.i", "x.g")
    probes = [
        (i, st + d, ln)
        for i, st, ln in segdef
        for d in range(-EDJ_K, EDJ_K + 1)
        if st + d >= 1 and st + d + ln - 1 <= EDJ_PLEN
    ]
    b_seg = p.select(
        F.col("s").alias("s_b"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.substring("s", st, ln).alias("g"),
                    )
                    for i, st, ln in probes
                ]
            )
        ).alias("x"),
    ).select("s_b", "x.i", "x.g")
    cand = (
        a_seg.join(b_seg, ["i", "g"])
        .filter(F.col("s") < F.col("s_b"))
        .select(F.col("s").alias("s_a"), "s_b")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("s_a", "s_b"))
        .filter(F.col("dist") <= EDJ_K)
        .orderBy("s_a", "s_b")
    )




# ---------------------------------------------------------------------------
# dd_containment_pairs: asymmetric shingle-containment near-dup pairs
# ---------------------------------------------------------------------------


@query(
    "dd_containment_pairs",
    f"""
    WITH {SQL_DOCS_SHINGLES},
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    rare AS (SELECT s FROM ex GROUP BY s
             HAVING count(*) <= greatest(2,
               floor(0.5 * (SELECT count(*) FROM documents)))),
    exf AS (SELECT ex.* FROM ex JOIN rare USING (s)),
    co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
           FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
    sz AS (SELECT doc_id, len(sh) AS sz FROM sh)
    SELECT id_a, id_b,
           round(common::DOUBLE / sa.sz, 6) AS cont_a_in_b,
           round(common::DOUBLE / sb.sz, 6) AS cont_b_in_a,
           round(common::DOUBLE / least(sa.sz, sb.sz), 6) AS containment
    FROM co JOIN sz sa ON co.id_a = sa.doc_id
            JOIN sz sb ON co.id_b = sb.doc_id
    WHERE round(common::DOUBLE / least(sa.sz, sb.sz), 6) >= 0.8
    ORDER BY id_a, id_b
    """,
)
def dd_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by shingle CONTAINMENT >= 0.8 — |A n B| over the
    SMALLER set, the asymmetric measure that catches a short document
    embedded in a long one (boilerplate-wrapped copies, partial
    scrapes) where symmetric Jaccard reads 0.1 and misses it
    (operators.dedup.containment_pairs; Lee et al. 2021's substring-
    dedup motivation at shingle granularity). Both directional
    fractions ride along so curation policy can keep the container and
    drop the contained. Same inverted-index blocking + stop-shingle
    cap + count-only verify as the Jaccard sibling — one extra
    projection, zero extra shuffles."""
    return D.containment_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.8
    ).orderBy("id_a", "id_b")




# ---------------------------------------------------------------------------
# dd_novelty_fractions: per-doc marginal-novelty curve
# ---------------------------------------------------------------------------


@query(
    "dd_novelty_fractions",
    f"""
    WITH {SQL_DOCS_SHINGLES},
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    fo AS (SELECT s, min(doc_id) AS first_doc FROM ex GROUP BY 1)
    SELECT ex.doc_id AS doc_id, count(*) AS n_shingles,
           sum(CASE WHEN fo.first_doc = ex.doc_id THEN 1 ELSE 0 END)
             ::BIGINT AS n_novel,
           round(sum(CASE WHEN fo.first_doc = ex.doc_id
                          THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
             AS novelty
    FROM ex JOIN fo ON ex.s = fo.s
    GROUP BY 1 ORDER BY 1
    """,
)
def dd_novelty_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty curve per document: what fraction of each doc's
    distinct shingles did the corpus see HERE first (min doc_id ==
    ingestion order)? The decision metric behind "is another crawl
    batch still worth ingesting" — novelty ~1 for fresh content, 0 for
    a pure re-crawl (the fixture's planted copies score exactly 0).
    operators.dedup.novelty_fractions; same hash-keyed shuffle shape as
    passage_dup_report, oracle replays the identical first-occurrence
    election over the portable shingles."""
    return D.novelty_fractions(_t(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )

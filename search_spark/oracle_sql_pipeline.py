"""DuckDB oracle SQL for the training-pipeline operators (dedup /
text-stats / media / keywords).

Same conventions as oracle_sql.py: shared frozen specs (analyzer.sql_tokens,
functions/hashing fragments, inlined MinHash constants), float outputs as
integer micro-units, ranks computed over rounded values.

ASCII note: the synthetic ``documents.text`` is pure ASCII (asserted in
tests), so oracle-side ``md5(text)`` / ``substring(text, ...)`` equal the
engine's byte-level ``md5(payload)`` / payload slicing.  The ENGINE operates
on real bytes; only the oracle leans on the ASCII equivalence (DuckDB has
no blob md5/substring).
"""

from __future__ import annotations

from .analyzer import sql_tokens
from .functions.hashing import P31, h32_sql, minhash_perm_sql
from .functions.textstats import (
    LANG_MARKERS,
    lang_id_sql,
    quality_sql,
    quality_sql_lateral,
    bpe_count_sql,
    ws_token_count_sql,
)
from .functions.hashing import rolling_fp_sql
from .operators.dedup import (
    JACCARD_T,
    MAX_BAND_SIZE,
    NGRAM_W,
    SHINGLE_DF_CAP_MIN,
    SHINGLE_DF_QUANTILE,
    SIMHASH_BITS,
    SIMHASH_MAX_HAMMING,
)
from .operators.media import FAKE_MIN_DIM, FAKE_W_MOD, FRAME_STEP, RESIZE_MAX_SIDE

assert NGRAM_W == 3, "shingle SQL below is written for w=3"

DOCS_SQL = "SELECT doc_id, text FROM documents"


def _shingles(toks: str) -> str:
    return (
        f"list_distinct(list_transform(generate_series(1, len({toks}) - 2), "
        f"i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]))"
    )


def _shingles_w(toks: str, w: int) -> str:
    """Arbitrary-width shingle fragment (the w=3 `_shingles` twin)."""
    joined = " || ' ' || ".join(f"{toks}[i+{j}]" if j else f"{toks}[i]" for j in range(w))
    return (
        f"list_distinct(list_transform(generate_series(1, len({toks}) - {w - 1}), "
        f"i -> {joined}))"
    )


def contamination_sql(
    eval_sql: str,
    w: int = 8,
    min_hits: int = 1,
    docs_sql: str = DOCS_SQL,
) -> str:
    """Decontamination twin (operators/decontam.contamination_report):
    (doc_id, eval_id, n_shared) over distinct w-gram shingles.
    ``eval_sql`` must yield (eval_id, text)."""
    toks = sql_tokens("text")
    return f"""
WITH docs AS ({docs_sql}),
  ev AS ({eval_sql}),
  dsh AS (SELECT doc_id, unnest({_shingles_w(toks, w)}) AS shingle FROM docs),
  esh AS (SELECT DISTINCT eval_id, shingle FROM
            (SELECT eval_id, unnest({_shingles_w(toks, w)}) AS shingle FROM ev))
SELECT dsh.doc_id, esh.eval_id, CAST(count(*) AS BIGINT) AS n_shared
FROM dsh JOIN esh USING (shingle)
GROUP BY dsh.doc_id, esh.eval_id
HAVING count(*) >= {min_hits}"""


def _shingle_ctes(docs_sql: str = DOCS_SQL) -> str:
    toks = sql_tokens("text")
    return f"""
  docs AS ({docs_sql}),
  sh AS (
    SELECT doc_id, unnest({_shingles(toks)}) AS shingle
    FROM docs),
  sz AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id)"""


def _jaccard_verify(pairs_cte: str, threshold: float) -> str:
    """Closing SELECT: exact Jaccard over candidate pairs in ``cand``."""
    return f"""
  cmn AS (
    SELECT c.a_id, c.b_id, count(*) AS n_common
    FROM {pairs_cte} c
    JOIN sh sa ON sa.doc_id = c.a_id
    JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
    GROUP BY c.a_id, c.b_id),
  jacc AS (
    SELECT cmn.a_id, cmn.b_id,
           CAST(n_common AS DOUBLE) / CAST(za.set_size + zb.set_size - n_common AS DOUBLE) AS jacc
    FROM cmn
    JOIN sz za ON za.doc_id = cmn.a_id
    JOIN sz zb ON zb.doc_id = cmn.b_id)
SELECT a_id, b_id, CAST(round(jacc * 1e6) AS BIGINT) AS jacc_micro
FROM jacc WHERE jacc >= {threshold}"""


def dedup_exact_sql(docs_sql: str = DOCS_SQL) -> str:
    return f"""
WITH docs AS ({docs_sql})
SELECT doc_id,
       md5(text) AS text_md5,
       min(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id,
       doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
FROM docs"""


def minhash_lsh_sql(threshold: float = JACCARD_T, docs_sql: str = DOCS_SQL) -> str:
    """LSH candidates (4 bands × 4 rows over the 16 inlined permutations)
    + exact Jaccard verification — mirrors operators.dedup.minhash_lsh_pairs."""
    h = h32_sql("shingle")
    mins = ",\n           ".join(
        f"min({minhash_perm_sql(h, j)}) AS mh{j}" for j in range(16)
    )
    band_rows = []
    for b in range(4):
        cols = " || '_' || ".join(
            f"CAST(mh{b * 4 + r} AS VARCHAR)" for r in range(4)
        )
        band_rows.append(f"SELECT doc_id, {b} AS band_id, {cols} AS band_key FROM sig")
    bands = "\n    UNION ALL\n    ".join(band_rows)
    return f"""
WITH {_shingle_ctes(docs_sql)},
  sig AS (
    SELECT doc_id,
           {mins}
    FROM sh GROUP BY doc_id),
  banded AS (
    {bands}),
  kept AS (
    SELECT * FROM (
      SELECT doc_id, band_id, band_key,
             count(*) OVER (PARTITION BY band_id, band_key) AS band_n
      FROM banded)
    WHERE band_n <= {MAX_BAND_SIZE}),
  cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM kept a
    JOIN kept b ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
  {_jaccard_verify('cand', threshold)}"""


def ngram_jaccard_sql(threshold: float = JACCARD_T, docs_sql: str = DOCS_SQL) -> str:
    return f"""
WITH {_shingle_ctes(docs_sql)},
  cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
  {_jaccard_verify('cand', threshold)}"""


def ngram_jaccard_capped_sql(
    threshold: float = JACCARD_T,
    quantile: float = SHINGLE_DF_QUANTILE,
    docs_sql: str = DOCS_SQL,
) -> str:
    """Mirror of dedup.ngram_jaccard_pairs with the DEFAULT auto cap: the
    cap is the smallest shingle-df covering ≥ quantile of distinct
    shingles (cume_dist — the SQL form of auto_shingle_df_cap's histogram
    walk; both are exact integer order statistics), floored at
    SHINGLE_DF_CAP_MIN exactly like the engine (mostly-unique corpora
    would otherwise degenerate the cap to 1 and find zero pairs)."""
    return f"""
WITH {_shingle_ctes(docs_sql)},
  dfs AS (SELECT shingle, count(*) AS sdf FROM sh GROUP BY shingle),
  cut AS (
    SELECT greatest(min(sdf), {SHINGLE_DF_CAP_MIN}) AS cap FROM (
      SELECT sdf, cume_dist() OVER (ORDER BY sdf) AS cd FROM dfs)
    WHERE cd >= {quantile}),
  kept AS (
    SELECT sh.doc_id, sh.shingle FROM sh
    JOIN dfs ON dfs.shingle = sh.shingle
    WHERE dfs.sdf <= (SELECT cap FROM cut)),
  cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
  {_jaccard_verify('cand', threshold)}"""


def keeper_assignment_sql(pairs_sql: str, docs_sql: str = DOCS_SQL) -> str:
    """Mirror of operators/cluster.keeper_assignment: connected components
    over the pair graph via a RECURSIVE reachability CTE (cluster_id =
    component min doc_id — the same pure function the iterative min-label
    propagation converges to), then the full-corpus keeper verdict."""
    return f"""
WITH RECURSIVE
  docs AS ({docs_sql}),
  pairs AS (SELECT a_id, b_id FROM ({pairs_sql}) p),
  edges AS (
    SELECT a_id AS src, b_id AS dst FROM pairs
    UNION
    SELECT b_id, a_id FROM pairs),
  reach AS (
    SELECT src AS v, dst AS u FROM edges
    UNION
    SELECT r.v, e.dst FROM reach r JOIN edges e ON e.src = r.u),
  clusters AS (
    SELECT v AS doc_id, least(v, min(u)) AS cluster_id
    FROM reach GROUP BY v)
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id <> coalesce(c.cluster_id, d.doc_id) AS is_dup
FROM docs d LEFT JOIN clusters c ON c.doc_id = d.doc_id"""


def _simhash_ctes(docs_sql: str = DOCS_SQL) -> str:
    toks = sql_tokens("text")
    h = h32_sql("term")
    bit_sums = ",\n           ".join(
        f"sum(CASE WHEN (({h}) >> {b}) & 1 = 1 THEN tf ELSE -tf END) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
  docs AS ({docs_sql}),
  tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest({toks}) AS term FROM docs)
    GROUP BY doc_id, term),
  bits AS (
    SELECT doc_id,
           {bit_sums}
    FROM tf GROUP BY doc_id),
  fps AS (SELECT doc_id, {fp} AS simhash FROM bits)"""


def simhash_fingerprints_sql(docs_sql: str = DOCS_SQL) -> str:
    return f"""
WITH {_simhash_ctes(docs_sql)}
SELECT doc_id, simhash FROM fps"""


def simhash_pairs_sql(
    max_hamming: int = SIMHASH_MAX_HAMMING, docs_sql: str = DOCS_SQL
) -> str:
    bands = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, simhash, {i} AS band_id, (simhash >> {i * 8}) & 255 AS band_key FROM fps"
        for i in range(4)
    )
    return f"""
WITH {_simhash_ctes(docs_sql)},
  banded AS (
    {bands}),
  kept AS (
    SELECT * FROM (
      SELECT doc_id, simhash, band_id, band_key,
             count(*) OVER (PARTITION BY band_id, band_key) AS band_n
      FROM banded)
    WHERE band_n <= {MAX_BAND_SIZE}),
  pairs AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM kept a
    JOIN kept b ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id)
SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= {max_hamming}"""


# -- text stats -------------------------------------------------------------

def token_counts_sql(docs_sql: str = DOCS_SQL) -> str:
    toks = sql_tokens("text")
    return f"""
WITH docs AS ({docs_sql})
SELECT doc_id,
       {ws_token_count_sql('text')} AS ws_tokens,
       CAST(len({toks}) AS INT) AS re_tokens,
       {bpe_count_sql(toks)} AS bpe_tokens
FROM docs"""


def lang_id_sql_query(docs_sql: str = DOCS_SQL) -> str:
    toks = sql_tokens("text")
    return f"""
WITH docs AS ({docs_sql})
SELECT doc_id, {lang_id_sql(toks)} AS lang_pred
FROM docs"""


def quality_sql_query(docs_sql: str = DOCS_SQL) -> str:
    return f"""
WITH docs AS ({docs_sql}),
  base AS (
    SELECT doc_id, text, {quality_sql_lateral('text')}
    FROM docs)
SELECT doc_id, {quality_sql('text')}
FROM base"""


def fingerprints_sql(docs_sql: str = DOCS_SQL) -> str:
    toks = sql_tokens("text")
    return f"""
WITH docs AS ({docs_sql})
SELECT doc_id, {rolling_fp_sql(toks)} AS fingerprint
FROM docs"""


# -- media ------------------------------------------------------------------

def media_metadata_sql(media_type: str = "image/fake", docs_sql: str = DOCS_SQL) -> str:
    h = h32_sql("text")
    return f"""
WITH docs AS ({docs_sql})
SELECT doc_id,
       '{media_type}' AS media_type,
       CAST(octet_length(encode(text)) AS INT) AS byte_len,
       {h} AS content_h32,
       CAST(({h}) % {FAKE_W_MOD} + {FAKE_MIN_DIM} AS INT) AS width,
       CAST((({h}) // {FAKE_W_MOD}) % {FAKE_W_MOD} + {FAKE_MIN_DIM} AS INT) AS height,
       'FAKE' AS format
FROM docs"""


def media_features_sql(docs_sql: str = DOCS_SQL) -> str:
    """Mirror of media.extract_features: 16-bin high-nibble byte histogram
    of the payload.  ASCII corpus ⇒ byte == codepoint (the oracle-side
    equivalence documented in the module header)."""
    return f"""
WITH docs AS ({docs_sql}),
  bytes AS (
    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM docs)
SELECT doc_id,
       CAST(ord(ch) // 16 AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n
FROM bytes
WHERE ch <> ''  -- string_split('', '') yields one '' element; empty docs emit no rows
GROUP BY doc_id, bin"""


def media_resize_sql(max_side: int = RESIZE_MAX_SIDE, docs_sql: str = DOCS_SQL) -> str:
    """Mirror of media.resize_plan over the fake-decoded dims (integer
    division on both engines — exact)."""
    h = h32_sql("text")
    return f"""
WITH docs AS ({docs_sql}),
  meta AS (
    SELECT doc_id,
           CAST(({h}) % {FAKE_W_MOD} + {FAKE_MIN_DIM} AS INT) AS width,
           CAST((({h}) // {FAKE_W_MOD}) % {FAKE_W_MOD} + {FAKE_MIN_DIM} AS INT) AS height
    FROM docs)
SELECT doc_id, width, height,
       CAST(greatest(CASE WHEN greatest(width, height) > {max_side}
                          THEN (width * {max_side}) // greatest(width, height)
                          ELSE width END, 1) AS INT) AS new_width,
       CAST(greatest(CASE WHEN greatest(width, height) > {max_side}
                          THEN (height * {max_side}) // greatest(width, height)
                          ELSE height END, 1) AS INT) AS new_height,
       greatest(width, height) > {max_side} AS resized
FROM meta"""


def frame_sample_sql(docs_sql: str = DOCS_SQL) -> str:
    """Frames: fi = 0.. over chunks 0, FRAME_STEP, 2*FRAME_STEP < ceil(len/64);
    frame_h32 = h32 of the 64-char slice (ASCII ⇒ 64-byte slice)."""
    return f"""
WITH docs AS ({docs_sql}),
  chunks AS (
    SELECT doc_id, text,
           (octet_length(encode(text)) + 63) // 64 AS n_chunks
    FROM docs),
  frames AS (
    SELECT doc_id,
           CAST(unnest(generate_series(0, CAST(ceil(n_chunks * 1.0 / {FRAME_STEP}) AS BIGINT) - 1)) AS INT) AS fi,
           text
    FROM chunks WHERE n_chunks > 0)
SELECT doc_id,
       fi AS frame_idx,
       {h32_sql(f"substring(text, fi * {FRAME_STEP} * 64 + 1, 64)")} AS frame_h32
FROM frames"""


# ---------------------------------------------------------------------------
# Per-doc keyword extraction (operators/keywords.py)
# ---------------------------------------------------------------------------

def top_terms_sql(n: int, docs_sql: str = DOCS_SQL) -> str:
    """DuckDB mirror of ``keywords.top_terms``: same analyzer CTEs and idf
    expression as the BM25 oracle, tf·idf micro-rounded, ties on term ASC."""
    from .functions.bm25 import sql_idf
    from .oracle_sql import bm25_corpus_ctes

    idf = sql_idf("stats.n_docs", "dft.df")
    return f"""
WITH {bm25_corpus_ctes(docs_sql)},
  scored AS (
    SELECT tf.doc_id, tf.term,
           CAST(round(tf.tf * {idf} * 1e6) AS BIGINT) AS tfidf_micro
    FROM tf JOIN dft USING (term) CROSS JOIN stats),
  ranked AS (
    SELECT doc_id, term, tfidf_micro,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_micro DESC, term) AS INT) AS rank
    FROM scored)
SELECT doc_id, term, rank, tfidf_micro FROM ranked WHERE rank <= {n}"""

"""DuckDB oracle SQL for the text queries (:mod:`sdg_engine.queries.text`)."""

from __future__ import annotations

from ..queries.text import (
    _BM25_IDF,
    _BM25_PART,
    _BM25_TERMS,
    _BM25_TOPK,
    _FKG_MILS,
    _FRE_MILS,
    _LOG2,
    _PMI_LIFT,
    _PMI_TOPK,
)
from ._common import fixture_paths

ORACLES: dict[str, str] = {}


DEDUP_FINGERPRINT = """
SELECT md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS fp,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS keep_doc_id
FROM documents GROUP BY fp
"""

DOC_TOKEN_STATS = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq_tokens,
       ROUND(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_token_len
FROM documents
"""

LANG_STOPWORD_SCORE = """
SELECT doc_id, lang,
       CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'a', 'of', 'in', 'and'))) AS INT) AS n_stop,
       ROUND(CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'a', 'of', 'in', 'and'))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stop_ratio
FROM documents
"""

_SHINGLES = (
    "list_transform(generate_series(1, greatest(length(text) - 11, 1), 4), "
    "i -> substring(text, i, 12))"
)


def _mh(seed: str) -> str:
    return f"list_min(list_transform({_SHINGLES}, s -> md5(concat(s, '{seed}'))))"


MINHASH_SIGNATURES = f"""
SELECT doc_id, {_mh("s1")} AS mh1, {_mh("s2")} AS mh2,
       {_mh("s3")} AS mh3, {_mh("s4")} AS mh4
FROM documents
"""

MINHASH_LSH_PAIRS = f"""
WITH sig AS (
  SELECT doc_id, {_mh("s1")} AS mh1, {_mh("s2")} AS mh2,
         {_mh("s3")} AS mh3, {_mh("s4")} AS mh4
  FROM documents
),
bands AS (
  SELECT doc_id, 1 AS band, mh1 AS mh FROM sig UNION ALL
  SELECT doc_id, 2, mh2 FROM sig UNION ALL
  SELECT doc_id, 3, mh3 FROM sig UNION ALL
  SELECT doc_id, 4, mh4 FROM sig
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
FROM bands a JOIN bands b ON a.band = b.band AND a.mh = b.mh
WHERE a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
"""


DEDUP_CLUSTERS = f"""
WITH RECURSIVE sig AS (
  SELECT doc_id, {_mh("s1")} AS mh1, {_mh("s2")} AS mh2,
         {_mh("s3")} AS mh3, {_mh("s4")} AS mh4
  FROM documents
),
bands AS (
  SELECT doc_id, 1 AS band, mh1 AS mh FROM sig UNION ALL
  SELECT doc_id, 2, mh2 FROM sig UNION ALL
  SELECT doc_id, 3, mh3 FROM sig UNION ALL
  SELECT doc_id, 4, mh4 FROM sig
),
edges AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM bands a JOIN bands b ON a.band = b.band AND a.mh = b.mh
  WHERE a.doc_id <> b.doc_id AND a.doc_id < 300 AND b.doc_id < 300
),
reach(v, label) AS (
  SELECT doc_id, doc_id FROM documents WHERE doc_id < 300
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.v
)
SELECT label AS keep_doc_id, COUNT(*) AS n_docs
FROM (SELECT v, MIN(label) AS label FROM reach GROUP BY v) comp
GROUP BY label HAVING COUNT(*) > 1
"""


DEDUP_EXACT = """
SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
       COUNT(*) AS n_distinct,
       CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
FROM (SELECT md5(text) AS h, COUNT(*) AS n FROM documents GROUP BY 1) g
"""

SIMHASH60 = """
WITH toks AS (
  SELECT doc_id, md5(tok) AS h
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents) t
),
votes AS (
  SELECT doc_id, i,
         CAST(SUM(CASE WHEN (((strpos('0123456789abcdef',
                    substr(h, CAST(FLOOR(i / 4) AS INT) + 1, 1)) - 1)
                    >> (i % 4)) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s
  FROM toks, UNNEST(generate_series(0, 59)) AS u(i)
  GROUP BY doc_id, i
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i)
                ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""

NGRAM_JACCARD_PAIRS = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, GREATEST(len(string_split(text, ' ')) - 2, 1)),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[LEAST(i + 1, len(string_split(text, ' ')))] || ' ' ||
                string_split(text, ' ')[LEAST(i + 2, len(string_split(text, ' ')))]
         )) AS sh
  FROM documents WHERE doc_id < 60
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6) AS jaccard
FROM sh a CROSS JOIN sh b
WHERE a.doc_id < b.doc_id
  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) > 0
"""


SAMPLE_STRATIFIED = """
SELECT lang, doc_id, smp_rank FROM (
  SELECT lang, doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || lang) ASC)
              AS INT) AS smp_rank
  FROM documents
) r
WHERE smp_rank <= (CASE WHEN lang = 'en' THEN 20 ELSE 10 END)
"""


DOC_QUALITY_FILTER = """
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ('the', 'a', 'of', 'in', 'and'))) AS INT) AS n_stop
  FROM documents
),
sh AS (
  SELECT doc_id, UNNEST(list_transform(
           generate_series(1, GREATEST(len(string_split(text, ' ')) - 2, 1)),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[LEAST(i + 1, len(string_split(text, ' ')))] || ' ' ||
                string_split(text, ' ')[LEAST(i + 2, len(string_split(text, ' ')))]
         )) AS sh_raw
  FROM documents
),
freq AS (
  SELECT doc_id, CAST(MAX(f) AS INT) AS max_sh_freq, CAST(SUM(f) AS BIGINT) AS n_sh
  FROM (SELECT doc_id, sh_raw, COUNT(*) AS f FROM sh GROUP BY doc_id, sh_raw) g
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens, f.max_sh_freq, f.n_sh, b.n_stop,
       (b.n_tokens >= 20 AND b.n_tokens <= 10000
        AND (CAST(f.max_sh_freq AS DOUBLE) / CAST(f.n_sh AS DOUBLE)) < CAST(0.2 AS DOUBLE)
        AND (CAST(b.n_stop AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)) >= CAST(0.02 AS DOUBLE)) AS keep
FROM base b JOIN freq f USING (doc_id)
"""

TFIDF_TOP_TERMS = """
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
df_ AS (
  SELECT term, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, term FROM toks) d GROUP BY term
),
scored AS (
  SELECT t.doc_id, t.term,
         CAST(t.tf AS BIGINT)
           * CAST(FLOOR((SELECT COUNT(*) FROM documents) * 1000 / f.df) AS BIGINT)
           AS score
  FROM tf t JOIN df_ f USING (term)
)
SELECT doc_id, rnk, term, score FROM (
  SELECT doc_id, term, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term ASC) AS INT) AS rnk
  FROM scored
) r WHERE rnk <= 3
"""

PACK_SEQUENCES = """
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT CAST(FLOOR((cum - n_tokens) / 2048) AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       MIN(doc_id) AS first_doc
FROM c GROUP BY 1
"""

SUBSTRING_DUP_PAIRS = """
WITH w AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(
           generate_series(1, GREATEST(length(text) - 31, 1), 8),
           i -> substr(text, i, 32))) AS w
  FROM documents
),
freq AS (SELECT w, COUNT(*) AS nf FROM w GROUP BY w),
keep AS (SELECT w.doc_id, w.w FROM w JOIN freq USING (w)
         WHERE nf >= 2 AND nf <= 16)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       COUNT(*) AS n_shared_windows
FROM keep a JOIN keep b ON a.w = b.w AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""

DQ_DOCUMENTS = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_text,
       COUNT(DISTINCT doc_id) AS distinct_ids,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
       COUNT(DISTINCT lang) AS n_langs,
       COUNT(DISTINCT source) AS n_sources,
       CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
            AS BIGINT) AS chars_mismatch
FROM documents
"""

LANG_NGRAM_ID = """
WITH tri AS (
  SELECT doc_id, lang,
         UNNEST(list_transform(generate_series(1, GREATEST(length(text) - 2, 1)),
                i -> substr(text, i, 3))) AS tri
  FROM documents
),
pc AS (SELECT lang AS cand_lang, tri, COUNT(*) AS cnt FROM tri GROUP BY 1, 2),
prof AS (
  SELECT cand_lang, tri FROM (
    SELECT cand_lang, tri,
           ROW_NUMBER() OVER (PARTITION BY cand_lang
                              ORDER BY cnt DESC, tri ASC) AS rk
    FROM pc
  ) r WHERE rk <= 64
),
dt AS (SELECT DISTINCT doc_id, tri FROM tri),
sc AS (SELECT doc_id, cand_lang, COUNT(*) AS score
       FROM dt JOIN prof USING (tri) GROUP BY 1, 2),
best AS (
  SELECT doc_id, cand_lang AS pred_lang, score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, cand_lang ASC) AS rk
    FROM sc
  ) r WHERE rk = 1
)
SELECT b.doc_id, d.lang, b.pred_lang, CAST(b.score AS BIGINT) AS score,
       d.lang = b.pred_lang AS correct
FROM best b JOIN documents d USING (doc_id)
"""


DOC_LENGTH_QUANTILES = """
WITH r AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
       MAX(CASE WHEN rn = CAST(FLOOR((n * 50 + 99) / 100) AS BIGINT)
                THEN n_chars END) AS p50,
       MAX(CASE WHEN rn = CAST(FLOOR((n * 90 + 99) / 100) AS BIGINT)
                THEN n_chars END) AS p90,
       MAX(CASE WHEN rn = CAST(FLOOR((n * 99 + 99) / 100) AS BIGINT)
                THEN n_chars END) AS p99
FROM r GROUP BY lang
"""


DOC_ROLLING_FINGERPRINT = """
SELECT doc_id,
       CAST(list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, length(text)),
                          i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
         (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS fingerprint
FROM documents
"""

TOKEN_BPE_COUNTS = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpe_tokens
FROM documents
"""


_SH_DUCK = (
    "list_distinct(list_transform("
    "generate_series(1, GREATEST(len(string_split(text, ' ')) - 2, 1)), "
    "i -> string_split(text, ' ')[i] || ' ' || "
    "string_split(text, ' ')[LEAST(i + 1, len(string_split(text, ' ')))] || ' ' || "
    "string_split(text, ' ')[LEAST(i + 2, len(string_split(text, ' ')))]))"
)

NGRAM_JACCARD_INDEXED = f"""
WITH sets AS (SELECT doc_id, {_SH_DUCK} AS sh FROM documents),
inv AS (SELECT doc_id, UNNEST(sh) AS s FROM sets),
rare AS (SELECT s FROM (SELECT s, COUNT(*) AS nf FROM inv GROUP BY s) f
         WHERE nf >= 2 AND nf <= 10),
postings AS (SELECT i.doc_id, i.s FROM inv i JOIN rare r ON i.s = r.s),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM postings a JOIN postings b ON a.s = b.s AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE), 6) AS jaccard
FROM cand c
JOIN sets sa ON sa.doc_id = c.doc_a
JOIN sets sb ON sb.doc_id = c.doc_b
WHERE ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE), 6) >= 0.2
"""


_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)

BM25_TOP_DOCS = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
qt AS (SELECT * FROM toks WHERE tok IN ({_BM25_IN})),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM qt GROUP BY doc_id, tok),
dfq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM qt GROUP BY tok),
j AS (
  SELECT tf.doc_id AS doc_id, tf.tf AS tf, dl.dl AS dl, dfq.df AS df,
         corpus.n_docs AS n_docs, corpus.sum_dl AS sum_dl
  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (tok) CROSS JOIN corpus
),
ji AS (SELECT *, {_BM25_IDF} AS idf FROM j),
parts AS (SELECT doc_id, {_BM25_PART} AS part FROM ji),
scored AS (
  SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM parts GROUP BY doc_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
  FROM scored
)
SELECT CAST(rnk AS INT) AS rnk, doc_id, score, n_terms
FROM ranked WHERE rnk <= {_BM25_TOPK}
"""


PMI_BIGRAMS = f"""
WITH toks AS (
  SELECT w[i] AS x, w[i + 1] AS y
  FROM (SELECT string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, len(w) - 1)) AS u(i)
),
big AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS f_xy FROM toks GROUP BY x, y),
ux AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS f_x FROM toks GROUP BY x),
uy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS f_y FROM toks GROUP BY y),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_big FROM toks),
lifted AS (
  SELECT big.x, big.y, f_xy, {_PMI_LIFT} AS lift
  FROM big JOIN ux USING (x) JOIN uy USING (y) CROSS JOIN nb
  WHERE f_xy >= 5
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, x ASC, y ASC) AS rnk
  FROM lifted
)
SELECT CAST(rnk AS INT) AS rnk, x, y, f_xy, lift
FROM ranked WHERE rnk <= {_PMI_TOPK}
"""


FUZZY_NAME_PAIRS = """
WITH p AS (
  SELECT p_partkey AS k, p_name AS nm,
         string_split(p_name, ' ')[-1] AS blk
  FROM part
),
pairs AS (
  SELECT a.blk, levenshtein(a.nm, b.nm) AS d, a.k AS ka, b.k AS kb
  FROM p a JOIN p b ON a.blk = b.blk AND a.k < b.k
)
SELECT blk, CAST(d AS INT) AS d, COUNT(*) AS n_pairs,
       CAST(SUM(ka + kb) AS BIGINT) AS sum_keys
FROM pairs WHERE d BETWEEN 1 AND 3 GROUP BY blk, d
"""


def _phrase_search_sql() -> str:
    from ..queries.text import _PHRASES

    qa = " UNION ALL ".join(
        f"SELECT '{a} {b}' AS phrase, '{a}' AS ta, '{b}' AS tb"
        for a, b in _PHRASES
    )
    return f"""
WITH toks AS (
  SELECT doc_id, u.i - 1 AS pos, tk[u.i] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       UNNEST(generate_series(1, len(tk))) AS u(i)
  WHERE tk[u.i] <> ''
),
qa AS ({qa}),
hits AS (
  SELECT q.phrase, a.doc_id, a.pos
  FROM toks a JOIN qa q ON a.tok = q.ta
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
             AND b.tok = q.tb
)
SELECT phrase, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(SUM(doc_id * 2 + pos) AS BIGINT) AS checksum
FROM hits GROUP BY phrase
"""


BPE_MERGE_CANDIDATES = """
WITH words AS (
  SELECT w, COUNT(*) AS wf FROM (
    SELECT tk[u.i] AS w
    FROM (SELECT string_split(text, ' ') AS tk FROM documents),
         UNNEST(generate_series(1, len(tk))) AS u(i)
  ) WHERE w <> '' GROUP BY w
),
pairs AS (
  SELECT substring(w, CAST(g.i AS INT), 2) AS pair,
         CAST(SUM(wf) AS BIGINT) AS cnt
  FROM (SELECT w, wf FROM words WHERE length(w) >= 2),
       UNNEST(generate_series(1, length(w) - 1)) AS g(i)
  GROUP BY 1
),
rk AS (SELECT pair, cnt,
              ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rnk FROM pairs)
SELECT CAST(rnk AS INT) AS rnk, pair, cnt FROM rk WHERE rnk <= 20
"""


CONTAMINATION_CHECK = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh0 AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(tk, CAST(g.i AS INT), CAST(g.i + 3 AS INT)), ' ') AS sh
  FROM (SELECT doc_id, tk FROM tk WHERE len(tk) >= 4),
       UNNEST(generate_series(1, len(tk) - 3)) AS g(i)
),
rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= 256),
shr AS (SELECT sh0.doc_id, sh0.sh FROM sh0 JOIN rare USING (sh)),
ev AS (SELECT doc_id AS eval_doc, sh FROM shr WHERE doc_id % 97 = 0),
tr AS (SELECT doc_id AS train_doc, sh FROM shr WHERE doc_id % 97 <> 0)
SELECT train_doc, eval_doc, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM tr JOIN ev USING (sh) GROUP BY 1, 2
"""


DATASET_MIX_WEIGHTS = """
WITH src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)) * 1000000) AS BIGINT) AS w_m
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(w_m) AS sw, SUM(n_docs) AS nd FROM src)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
       CAST(FLOOR(1000000 * n_docs / nd) AS BIGINT) AS natural_ppm,
       CAST(FLOOR(1000000 * w_m / sw) AS BIGINT) AS temperature_ppm
FROM src, tot
"""


VOCAB_OOV_RATE = """
WITH toks AS (
  SELECT source, tk[u.i] AS w
  FROM (SELECT source, string_split(text, ' ') AS tk FROM documents),
       UNNEST(generate_series(1, len(tk))) AS u(i)
  WHERE tk[u.i] <> ''
),
tw AS (SELECT source, w, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
wc AS (SELECT w, SUM(cnt) AS tot FROM tw GROUP BY w),
vocab AS (
  SELECT w FROM (
    SELECT w, ROW_NUMBER() OVER (ORDER BY tot DESC, w) AS rnk FROM wc
  ) WHERE rnk <= 1000
)
SELECT source, CAST(SUM(cnt) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN vocab.w IS NULL THEN cnt ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       CAST(FLOOR(1000000 * SUM(CASE WHEN vocab.w IS NULL THEN cnt ELSE 0 END)
            / SUM(cnt)) AS BIGINT) AS oov_ppm
FROM tw LEFT JOIN vocab ON vocab.w = tw.w
GROUP BY source
"""


# UDTF word runs: INDEPENDENT gaps-and-islands twin — run starts via
# lag(), island ids via a running sum, runs >= 2 kept; checks the
# UDTF's sequential RLE against pure relational semantics.
UDTF_WORD_RUNS = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
pos AS (
  SELECT doc_id, ws[i] AS word, i
  FROM w, UNNEST(generate_series(1, len(ws))) AS u(i)
),
brk AS (
  SELECT doc_id, word, i,
         CASE WHEN lag(word) OVER (PARTITION BY doc_id ORDER BY i) = word
              THEN 0 ELSE 1 END AS is_start
  FROM pos
),
isl AS (
  SELECT doc_id, word, i,
         SUM(is_start) OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM brk
),
runs AS (
  SELECT doc_id, word, grp, COUNT(*) AS run_len
  FROM isl GROUP BY doc_id, word, grp HAVING COUNT(*) >= 2
)
SELECT word, CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(run_len) AS INT) AS max_run,
       CAST(SUM(run_len) AS BIGINT) AS sum_len
FROM runs GROUP BY word
"""


def _rake_sql() -> str:
    from ..queries.text import _RAKE_STOPS, _RAKE_TOPK

    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
toks AS (
  SELECT doc_id, i AS pos, ws[i] AS w,
         CAST(ws[i] IN {_RAKE_STOPS} AS INT) AS is_stop
  FROM d, UNNEST(generate_series(1, len(ws))) AS u(i)
),
phrased AS (
  SELECT doc_id, pos, w, is_stop,
         SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
  FROM toks
),
plen AS (
  SELECT doc_id, w,
         COUNT(*) OVER (PARTITION BY doc_id, pid) AS plen
  FROM phrased WHERE is_stop = 0
),
words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(plen) AS BIGINT) AS deg
  FROM plen GROUP BY 1
),
scored AS (
  SELECT w, freq, deg,
         CAST(FLOOR(deg * 1000 / freq) AS BIGINT) AS score_mils
  FROM words
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_mils DESC, w) AS INT) AS rnk,
       w, freq, deg, score_mils
FROM scored
QUALIFY rnk <= {_RAKE_TOPK}
"""


DOC_WORD_DIVERSITY = """
WITH wc AS (
  SELECT doc_id, u.w AS w, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents, UNNEST(string_split(text, ' ')) AS u(w)
  GROUP BY 1, 2
)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(FLOOR((SUM(c) * SUM(c) - SUM(c * c)) * 1000
            / (SUM(c) * SUM(c))) AS BIGINT) AS simpson_mils
FROM wc GROUP BY 1
"""


# identical bigram pipeline: ordinal word positions, LEAD, frequency
# rank with the same (cnt DESC, bg) total order, per-doc mean rank
DOC_BIGRAM_RARITY = """
WITH bg AS (
  SELECT doc_id, parts[i] || ' ' || parts[i + 1] AS bg
  FROM (SELECT doc_id, string_split(text, ' ') AS parts
        FROM documents) t,
       UNNEST(range(1, len(parts))) AS r(i)
),
cnt AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY 1
),
rk AS (
  SELECT bg, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, bg) AS BIGINT)
           AS rnk
  FROM cnt
)
SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(r.rnk) AS BIGINT) AS sum_rank,
       CAST((1000 * SUM(r.rnk)) // COUNT(*) AS BIGINT) AS rarity_mils
FROM bg b JOIN rk r USING (bg)
GROUP BY 1
"""


DOC_NORMALIZED_DEDUP = """
WITH docs AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS nkey
  FROM documents
),
grp AS (
  SELECT nkey, CAST(COUNT(*) AS BIGINT) AS sz,
         MIN(doc_id) AS keeper
  FROM docs GROUP BY nkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CAST(sz > 1 AS BIGINT)) AS BIGINT) AS n_dup_groups,
       CAST(SUM(sz - 1) AS BIGINT) AS n_redundant,
       MAX(sz) AS max_group,
       CAST(SUM(keeper % 1000003) AS BIGINT) AS keeper_checksum
FROM grp
"""


ORACLES["rake_keywords"] = _rake_sql()


def _containment_sql() -> str:
    from ..queries.text import _CONT_MILS_MIN

    return f"""
WITH sets AS (SELECT doc_id, {_SH_DUCK} AS sh FROM documents),
inv AS (SELECT doc_id, UNNEST(sh) AS s FROM sets),
rare AS (SELECT s FROM (SELECT s, COUNT(*) AS nf FROM inv GROUP BY s) f
         WHERE nf >= 2 AND nf <= 10),
postings AS (SELECT i.doc_id, i.s FROM inv i JOIN rare r ON i.s = r.s),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM postings a JOIN postings b ON a.s = b.s AND a.doc_id <> b.doc_id
),
scored AS (
  SELECT c.doc_a, c.doc_b,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_int,
         CAST(len(sa.sh) AS BIGINT) AS n_a
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.doc_a
  JOIN sets sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, n_int, n_a,
       CAST(FLOOR(n_int * 1000 / n_a) AS BIGINT) AS cont_mils
FROM scored WHERE FLOOR(n_int * 1000 / n_a) >= {_CONT_MILS_MIN}
"""


ORACLES["dedup_containment"] = _containment_sql()


def _dedup_lsh_recall_sql() -> str:
    """dedup_lsh_recall: composed from the SAME two certified dedup
    twins (exact shingle Jaccard baseline + MinHash-LSH band pairs),
    so the banding recall/precision the engine reports is pinned."""
    return f"""
WITH truth AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           ROW_NUMBER() OVER (ORDER BY jaccard DESC, doc_a, doc_b) AS rk
    FROM ({NGRAM_JACCARD_PAIRS})
  ) WHERE rk <= 10
),
cand AS (
  SELECT doc_a, doc_b FROM ({MINHASH_LSH_PAIRS})
  WHERE doc_a < 60 AND doc_b < 60
),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
h AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM truth JOIN cand USING (doc_a, doc_b)
)
SELECT n_truth, n_cand, n_hit,
       CASE WHEN n_truth = 0 THEN -1
         ELSE CAST(FLOOR(n_hit * 1000 / n_truth) AS BIGINT) END AS recall_mils,
       CASE WHEN n_cand = 0 THEN -1
         ELSE CAST(FLOOR(n_hit * 1000 / n_cand) AS BIGINT) END AS precision_mils
FROM t, c, h
"""


ORACLES["dedup_lsh_recall"] = _dedup_lsh_recall_sql()


ORACLES["zipf_word_slope"] = f"""
WITH toks AS (
  SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
),
wc AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM toks WHERE w <> '' GROUP BY w
),
rk AS (
  SELECT freq,
         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, w ASC) AS BIGINT) AS rnk
  FROM wc
),
pts AS (
  SELECT {_LOG2.format(n='rnk')} AS x, {_LOG2.format(n='freq')} AS y
  FROM rk WHERE rnk <= 256
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts
)
SELECT n_words, sx, sy, sxy, sxx,
       CAST(FLOOR(1000000.0 * (n_words * sxy - sx * sy)
                  / (n_words * sxx - sx * sx)) AS BIGINT) AS slope_micros
FROM s
"""


# the corpus is ASCII, where UTF8_LCASE equivalence is lower()-equality
ORACLES["collation_token_dedup"] = """
WITH toks AS (
  SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
),
t AS (SELECT w FROM toks WHERE w <> '')
SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS n_cs,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT lower(w)) AS BIGINT) AS n_ci
FROM t
"""


ORACLES["doc_readability"] = f"""
WITH d AS (
  SELECT lang,
         CAST(len(regexp_extract_all(text, '([A-Za-z]+)', 1)) AS BIGINT)
           AS n_words,
         CAST(len(regexp_extract_all(lower(text), '([aeiouy]+)', 1))
              AS BIGINT) AS n_syl,
         GREATEST(CAST(1 AS BIGINT),
                  CAST(len(regexp_extract_all(text, '([.!?]+)', 1))
                       AS BIGINT)) AS n_sents
  FROM documents
),
f AS (
  SELECT lang, {_FRE_MILS} AS fre_mils, {_FKG_MILS} AS fkg_mils
  FROM d WHERE n_words > 0
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(fre_mils) AS BIGINT) AS sum_fre_mils,
       CAST(MIN(fre_mils) AS BIGINT) AS min_fre_mils,
       CAST(MAX(fre_mils) AS BIGINT) AS max_fre_mils,
       CAST(SUM(fkg_mils) AS BIGINT) AS sum_fkg_mils
FROM f GROUP BY 1
"""

ORACLES["doc_repetition"] = """
WITH bg AS (
  SELECT doc_id, lang, parts[i] || ' ' || parts[i + 1] AS bg
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS parts
        FROM documents) t,
       UNNEST(range(1, len(parts))) AS r(i)
),
per_bg AS (
  SELECT doc_id, lang, bg, CAST(COUNT(*) AS BIGINT) AS c
  FROM bg GROUP BY 1, 2, 3
),
per_doc AS (
  SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n_bg,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(MAX(c) AS BIGINT) AS max_c
  FROM per_bg GROUP BY 1, 2
),
sc AS (
  SELECT doc_id, lang, n_bg,
         (1000 * max_c) // n_bg AS top_share_mils,
         (1000 * (n_bg - n_distinct)) // n_bg AS dup_mils
  FROM per_doc
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN top_share_mils >= 100 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_repetitive,
       CAST(SUM(top_share_mils) AS BIGINT) AS sum_top_mils,
       CAST(SUM(dup_mils) AS BIGINT) AS sum_dup_mils,
       CAST(SUM(n_bg) AS BIGINT) AS sum_bigrams
FROM sc GROUP BY 1
"""


def _simhash_pairs_sql() -> str:
    """Reuses the certified SIMHASH60 signature CTE verbatim, then the
    band explode + dedup-before-verify pair join."""
    body = SIMHASH60.strip()
    assert body.startswith("WITH")
    inner = body[len("WITH"):].rsplit("SELECT", 1)
    # re-wrap: the final SELECT of SIMHASH60 becomes a CTE `sigs`
    return f"""
WITH{inner[0]},
sigs AS (SELECT{inner[1]}),
bands AS (
  SELECT doc_id, simhash, k, (simhash >> (12 * k)) & 4095 AS bv
  FROM sigs, UNNEST(generate_series(0, 4)) AS u(k)
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, x.simhash AS sa,
         y.doc_id AS b, y.simhash AS sb
  FROM bands x JOIN bands y ON x.k = y.k AND x.bv = y.bv
  WHERE x.doc_id < y.doc_id
)
SELECT a AS doc_a, b AS doc_b,
       CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 6
"""


ORACLES["simhash_neardup_pairs"] = _simhash_pairs_sql()


def _tfidf_topk_sql() -> str:
    from ..queries.text import _TFIDF_QUERY_DOC, _TFIDF_TOPK, _TFIDF_W

    w = _TFIDF_W.replace(" DIV ", " // ")
    return f"""
WITH tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
        FROM documents)
  WHERE length(tok) > 0
  GROUP BY doc_id, tok
),
dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       FROM documents),
w AS (
  SELECT doc_id, tf.tok, CAST({w} AS BIGINT) AS w
  FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN nd
),
norms AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS nrm2 FROM w
          GROUP BY doc_id),
qv AS (SELECT tok, w AS wq FROM w WHERE doc_id = {_TFIDF_QUERY_DOC}),
dots AS (
  SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared,
         CAST(SUM(w.w * qv.wq) AS BIGINT) AS dot
  FROM w JOIN qv ON w.tok = qv.tok
  WHERE w.doc_id <> {_TFIDF_QUERY_DOC}
  GROUP BY w.doc_id
),
qn AS (SELECT nrm2 AS nq FROM norms WHERE doc_id = {_TFIDF_QUERY_DOC}),
scored AS (
  SELECT dots.doc_id, n_shared,
         CAST(FLOOR(1000000.0 * CAST(dot AS DOUBLE)
              / (sqrt(CAST(norms.nrm2 AS DOUBLE))
                 * sqrt(CAST(qn.nq AS DOUBLE)))) AS BIGINT) AS cos_micros
  FROM dots JOIN norms ON norms.doc_id = dots.doc_id CROSS JOIN qn
)
SELECT doc_id, n_shared, cos_micros, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cos_micros DESC, doc_id ASC)
    AS rnk
  FROM scored
) WHERE rnk <= {_TFIDF_TOPK}
"""


ORACLES["tfidf_cosine_topk"] = _tfidf_topk_sql()


ORACLES["doc_collocation_tscore"] = """
WITH toks AS (
  SELECT w[i] AS x, w[i + 1] AS y
  FROM (SELECT string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, len(w) - 1)) AS u(i)
),
big AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS f_xy
        FROM toks GROUP BY x, y),
ux AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS f_x FROM toks GROUP BY x),
uy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS f_y FROM toks GROUP BY y),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_big FROM toks),
scored AS (
  SELECT b.x, b.y, b.f_xy,
         CAST(FLOOR(1000000.0 * (CAST(b.f_xy AS DOUBLE)
              - CAST(ux.f_x AS DOUBLE) * CAST(uy.f_y AS DOUBLE)
              / CAST(nb.n_big AS DOUBLE))
              / sqrt(CAST(b.f_xy AS DOUBLE))) AS BIGINT) AS t_micros
  FROM big b JOIN ux USING (x) JOIN uy USING (y) CROSS JOIN nb
  WHERE b.f_xy >= 5
)
SELECT CAST(rnk AS INT) AS rnk, x, y, f_xy, t_micros
FROM (
  SELECT x, y, f_xy, t_micros,
         ROW_NUMBER() OVER (ORDER BY t_micros DESC, x, y) AS rnk
  FROM scored
)
WHERE rnk <= 10
"""


ORACLES["doc_char_lm_score"] = """
WITH bi AS (
  SELECT doc_id, lang,
         substring(text, i, 1) AS x,
         substring(text, i, 2) AS xy
  FROM documents,
       UNNEST(generate_series(1, length(text) - 1)) AS u(i)
),
c_xy AS (SELECT xy, CAST(COUNT(*) AS BIGINT) AS n_xy FROM bi GROUP BY xy),
c_x AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS n_x FROM bi GROUP BY x),
per_doc AS (
  SELECT doc_id, lang,
         CAST(COUNT(*) AS BIGINT) AS n_trans,
         CAST(SUM(CAST(n_xy * 1000000 // n_x AS BIGINT)) AS BIGINT)
           AS sum_ppm
  FROM bi JOIN c_xy USING (xy) JOIN c_x USING (x)
  GROUP BY doc_id, lang
),
scored AS (
  SELECT doc_id, lang, n_trans,
         CAST(sum_ppm // n_trans AS BIGINT) AS score_ppm
  FROM per_doc
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
       CAST(MIN(score_ppm) AS BIGINT) AS min_score_ppm,
       CAST(MIN(doc_id) FILTER (WHERE score_ppm = mn) AS BIGINT)
         AS worst_doc
FROM (SELECT *, MIN(score_ppm) OVER (PARTITION BY lang) AS mn
      FROM scored)
GROUP BY lang
ORDER BY lang
"""

ORACLES["vocab_coverage_curve"] = """
WITH toks AS (
  SELECT t.w
  FROM documents,
       LATERAL (SELECT UNNEST(string_split(text, ' ')) AS w) AS t
  WHERE t.w != ''
),
vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY w),
ranked AS (
  SELECT n,
         ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rnk
  FROM vocab
),
cum AS (
  SELECT rnk,
         CAST(SUM(n) OVER (ORDER BY rnk
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM ranked
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM toks),
levels AS (
  SELECT CAST(i AS INT) AS i,
         CAST(POW(2, i) AS BIGINT) AS k
  FROM UNNEST(generate_series(1, 10)) AS u(i)
)
SELECT l.i, l.k,
       CAST(MAX(c.cum) AS BIGINT) AS covered,
       t.total,
       CAST(MAX(c.cum) * 1000000 // t.total AS BIGINT) AS coverage_ppm
FROM cum c JOIN levels l ON c.rnk <= l.k
CROSS JOIN total t
GROUP BY l.i, l.k, t.total
ORDER BY l.i
"""

ORACLES["doc_ngram_novelty"] = """
WITH sh AS (
  SELECT doc_id, lang,
         array_to_string(w[i + 1:i + 5], ' ') AS shingle
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w
        FROM documents),
       UNNEST(generate_series(0, len(w) - 5)) AS u(i)
),
per_sh AS (
  SELECT doc_id, lang, shingle, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM sh GROUP BY 1, 2, 3
),
owners AS (
  SELECT shingle, CAST(MIN(doc_id) AS BIGINT) AS owner
  FROM per_sh GROUP BY shingle
),
per_doc AS (
  SELECT p.doc_id, p.lang,
         CAST(SUM(p.cnt) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN o.owner = p.doc_id THEN p.cnt ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM per_sh p JOIN owners o USING (shingle)
  GROUP BY 1, 2
),
scored AS (
  SELECT doc_id, lang, n_shingles, n_novel,
         CAST(n_novel * 1000000 // n_shingles AS BIGINT) AS novelty_ppm
  FROM per_doc
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_shingles) AS BIGINT) AS total_shingles,
       CAST(SUM(n_novel) AS BIGINT) AS total_novel,
       CAST(SUM(novelty_ppm) // COUNT(*) AS BIGINT) AS mean_novelty_ppm,
       CAST(MIN(doc_id) FILTER (WHERE novelty_ppm = mn) AS BIGINT)
         AS least_novel_doc
FROM (SELECT *, MIN(novelty_ppm) OVER (PARTITION BY lang) AS mn
      FROM scored)
GROUP BY lang
ORDER BY lang
"""

ORACLES["dedup_impact_report"] = """
WITH d AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         md5(text) AS h_exact,
         md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS h_norm
  FROM documents
),
base AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM d GROUP BY lang
),
ex AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS exact_docs,
         CAST(SUM(tok1) AS BIGINT) AS exact_tokens
  FROM (SELECT lang, h_exact, MAX(n_tokens) AS tok1
        FROM d GROUP BY lang, h_exact)
  GROUP BY lang
),
nm AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS norm_docs,
         CAST(SUM(tok1) AS BIGINT) AS norm_tokens
  FROM (SELECT lang, h_norm, MAX(n_tokens) AS tok1
        FROM d GROUP BY lang, h_norm)
  GROUP BY lang
)
SELECT b.lang, b.n_docs, b.n_tokens,
       ex.exact_docs, ex.exact_tokens, nm.norm_docs, nm.norm_tokens,
       CAST(ex.exact_tokens * 1000000 // b.n_tokens AS BIGINT)
         AS exact_keep_ppm,
       CAST(nm.norm_tokens * 1000000 // b.n_tokens AS BIGINT)
         AS norm_keep_ppm
FROM base b JOIN ex USING (lang) JOIN nm USING (lang)
ORDER BY b.lang
"""

ORACLES["doc_lang_classifier"] = """
WITH terms AS (
  SELECT DISTINCT doc_id, lang, t.term
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text),
                '[^a-z]+')) AS term) AS t
  WHERE t.term != ''
),
df_lang AS (
  SELECT term, lang AS wl, CAST(COUNT(*) AS BIGINT) AS a
  FROM terms GROUP BY 1, 2
),
df_all AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM terms GROUP BY term
),
n_lang AS (
  SELECT lang AS wl, CAST(COUNT(*) AS BIGINT) AS nl
  FROM documents GROUP BY 1
),
n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
weights AS (
  SELECT dl.term, dl.wl,
         CAST(dl.a * nt.n * 1000000 // (da.df * nl.nl) AS BIGINT) AS w
  FROM df_lang dl
  JOIN df_all da USING (term)
  JOIN n_lang nl USING (wl)
  CROSS JOIN n_tot nt
),
scores AS (
  SELECT t.doc_id, t.lang, w.wl, CAST(SUM(w.w) AS BIGINT) AS score
  FROM terms t JOIN weights w USING (term)
  GROUP BY 1, 2, 3
),
pred AS (
  SELECT doc_id, lang AS true_lang, wl AS pred_lang, score AS best_score
  FROM scores
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY score DESC, wl) = 1
)
SELECT true_lang, pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(best_score) AS BIGINT) AS sum_score
FROM pred
GROUP BY 1, 2
ORDER BY true_lang, pred_lang
"""

ORACLES["doc_term_chisq"] = """
WITH terms AS (
  SELECT DISTINCT doc_id, lang, t.term
  FROM documents,
       LATERAL (SELECT UNNEST(string_split_regex(lower(text),
                '[^a-z]+')) AS term) AS t
  WHERE t.term != ''
),
df_lang AS (
  SELECT term, lang, CAST(COUNT(*) AS BIGINT) AS a
  FROM terms GROUP BY term, lang
),
df_all AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM terms GROUP BY term
),
n_lang AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS nl
  FROM documents GROUP BY lang
),
n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
cont AS (
  SELECT dl.lang, dl.term, dl.a,
         da.df - dl.a AS b, nl.nl - dl.a AS c,
         nt.n - da.df - (nl.nl - dl.a) AS d, nt.n
  FROM df_lang dl
  JOIN df_all da USING (term)
  JOIN n_lang nl USING (lang)
  CROSS JOIN n_tot nt
),
chi AS (
  SELECT lang, term, a,
         CAST(FLOOR(1000000.0 * CAST(n AS DOUBLE)
              * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                 - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
              * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                 - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
              / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                 * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)))
              AS BIGINT) AS chi2_micros
  FROM cont
)
SELECT lang, term, a, chi2_micros,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT lang, term, a, chi2_micros,
         ROW_NUMBER() OVER (PARTITION BY lang
           ORDER BY chi2_micros DESC, term) AS rnk
  FROM chi
)
WHERE rnk <= 3
ORDER BY lang, rnk
"""


ORACLES["arrow_doc_stats"] = r"""
WITH per AS (
  SELECT doc_id, lang,
         octet_length(CAST(text AS BLOB)) AS n_bytes,
         len(regexp_extract_all(text, '\S+')) AS n_tokens,
         len(regexp_extract_all(text, '[aeiou]')) AS n_vowels
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_vowels) AS BIGINT) AS total_vowels,
       CAST(MAX(n_bytes) AS BIGINT) AS max_bytes
FROM per
GROUP BY lang
ORDER BY lang
"""


ORACLES.update({
    "dedup_fingerprint": DEDUP_FINGERPRINT,
    "doc_token_stats": DOC_TOKEN_STATS,
    "lang_stopword_score": LANG_STOPWORD_SCORE,
    "minhash_signatures": MINHASH_SIGNATURES,
    "minhash_lsh_pairs": MINHASH_LSH_PAIRS,
    "dedup_clusters": DEDUP_CLUSTERS,
    "ngram_jaccard_indexed": NGRAM_JACCARD_INDEXED,
    "sample_stratified": SAMPLE_STRATIFIED,
    "doc_length_quantiles": DOC_LENGTH_QUANTILES,
    "lang_ngram_id": LANG_NGRAM_ID,
    "dq_documents": DQ_DOCUMENTS,
    "substring_dup_pairs": SUBSTRING_DUP_PAIRS,
    "doc_quality_filter": DOC_QUALITY_FILTER,
    "tfidf_top_terms": TFIDF_TOP_TERMS,
    "pack_sequences": PACK_SEQUENCES,
    "doc_rolling_fingerprint": DOC_ROLLING_FINGERPRINT,
    "token_bpe_counts": TOKEN_BPE_COUNTS,
    "dedup_exact": DEDUP_EXACT,
    "simhash60": SIMHASH60,
    "ngram_jaccard_pairs": NGRAM_JACCARD_PAIRS,
    "doc_normalized_dedup": DOC_NORMALIZED_DEDUP,
    "doc_bigram_rarity": DOC_BIGRAM_RARITY,
    "doc_word_diversity": DOC_WORD_DIVERSITY,
    "udtf_word_runs": UDTF_WORD_RUNS,
    "contamination_check": CONTAMINATION_CHECK,
    "dataset_mix_weights": DATASET_MIX_WEIGHTS,
    "vocab_oov_rate": VOCAB_OOV_RATE,
    "bpe_merge_candidates": BPE_MERGE_CANDIDATES,
    "phrase_search": _phrase_search_sql(),
    "bm25_top_docs": BM25_TOP_DOCS,
    "pmi_bigrams": PMI_BIGRAMS,
    "fuzzy_name_pairs": FUZZY_NAME_PAIRS,
})


def fixture_oracles() -> dict[str, str]:
    """Oracles that embed the absolute sf0.01 fixture and goldens paths.
    Built on call: building them at import would generate the fixture
    on every import."""
    fdir, roads, img, gdir = fixture_paths()
    return {
        "bpe_train_merges": f"""
SELECT rank, lhs, rhs, cnt
FROM read_parquet('{gdir}/bpe_merges_sf0.01.parquet')
""",
        "bpe_encode_docs": f"""
SELECT lang, n_docs, sum_words, sum_tokens, sum_chars
FROM read_parquet('{gdir}/bpe_encode_sf0.01.parquet')
""",
        "doc_zlib_ratio": f"""
SELECT lang, n_docs, sum_raw, sum_comp,
       sum_comp * 1000 // sum_raw AS ratio_mils
FROM read_parquet('{gdir}/zlib_sf0.01.parquet')
""",
    }

"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()[name]`` runs the engine's Spark formulation at sf=0.01 and
is compared against ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

The query battery mirrors SURVEY.md §2's operator inventory over the
driver-provided ``documents`` / ``embeddings`` tables, using a
SQL-expressible tokenizer (lower + split on non-alphanumeric) so both
engines compute identical values.  The full code-aware analysis chain
(camelCase splitting, catenation, folding, per-lang stopping) is exercised
by the pytest suite against the numpy oracle on the synthetic code corpus;
entries here whose semantics SQL cannot express (pandas-UDF kernels,
encoded segments, WAND) have no oracle entry -> driver does rows-only.

Float determinism: scores are rounded (ROUND(x, 4)) and ordering uses
rounded keys + doc_id tiebreaks, so cross-engine last-ulp differences
cannot flip membership or hashes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF_DEFAULT = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

# simple SQL tokenizer over documents.text (both dialects)
SPARK_TOK = (
    "SELECT doc_id, term FROM documents "
    "LATERAL VIEW explode(filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')) t AS term"
)
DUCK_TOK = (
    "SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), "
    "'[^a-z0-9]+'), x -> x <> '')) AS term FROM documents"
)

BM25_K1 = 1.2
BM25_B = 0.75

ENGLISH_STOP_SQL = "('the','a','an','and','or','of','to','in','is','are','was','for','with')"

# portable 60-bit hash: same value in Spark and DuckDB
SPARK_H60 = "CAST(conv(substr(md5({x}), 1, 15), 16, 10) AS BIGINT)"
DUCK_H60 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


def _bm25_sql(tok_cte: str, query_terms: list[str], conjunctive: bool,
              k: int | None,
              exclude_terms: "list[str] | None" = None,
              min_match: int | None = None,
              terms_like: str | None = None,
              terms_fuzzy: "tuple[str, int] | None" = None,
              fuzzy_blend: bool = False,
              fq_where: str | None = None) -> str:
    """One BM25 formulation, instantiated per dialect. Shapes (doc_id, score,
    n_matched); rank by rounded score desc, doc_id asc.

    ``exclude_terms`` (Lucene MUST_NOT / Solr ``-term``): docs containing
    ANY excluded term are dropped BEFORE the LIMIT; surviving docs score
    exactly as without the clause (a prohibited clause filters, never
    rescores)."""
    terms_in = ", ".join(f"'{t}'" for t in query_terms)
    nq = len(set(query_terms))
    if conjunctive:
        cond = f"HAVING count(*) = {nq}"
    elif min_match:
        cond = f"HAVING count(*) >= {min_match}"
    else:
        cond = ""
    boost_expr = "1.0"
    if terms_like:
        term_pred = f"tf.term LIKE '{terms_like}'"
    elif terms_fuzzy:
        ft, fn = terms_fuzzy
        term_pred = f"levenshtein(tf.term, '{ft}') <= {fn}"
        if fuzzy_blend:
            # Lucene FuzzyTermsEnum boost: 1 - edit/min(|q|, |t|)
            # (api.fuzzy_blend_boost) — the blend is itself a
            # levenshtein expression, so the blended rewrite stays
            # SQL-expressible and hash-gated
            boost_expr = (
                f"(1.0 - CAST(levenshtein(tf.term, '{ft}') AS DOUBLE)"
                f" / CAST(least(length(tf.term), {len(ft)}) AS DOUBLE))"
            )
    else:
        term_pred = f"tf.term IN ({terms_in})"
    limit = f"LIMIT {k}" if k else ""
    conds = []
    if exclude_terms:
        ex_in = ", ".join(f"'{t}'" for t in exclude_terms)
        conds.append(
            "doc_id NOT IN (SELECT DISTINCT doc_id FROM tok "
            f"WHERE term IN ({ex_in}))"
        )
    if fq_where:
        conds.append(fq_where)
    where_ex = ("WHERE " + " AND ".join(conds)) if conds else ""
    return f"""
WITH tok AS ({tok_cte}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(doc_len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM (SELECT d.doc_id, COALESCE(dl.doc_len, 0) AS doc_len
        FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id) x),
df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ({boost_expr} * ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)))
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.doc_len / s.avgdl))
           AS term_score
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  WHERE {term_pred})
SELECT doc_id, ROUND(score, 4) AS score, n_matched FROM (
  SELECT doc_id, sum(term_score) AS score,
         CAST(count(*) AS INT) AS n_matched
  FROM scored GROUP BY doc_id {cond}) r
{where_ex}
ORDER BY ROUND(score, 6) DESC, doc_id ASC {limit}
"""


def _load(spark: SparkSession, sf_dir: str) -> None:
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").createOrReplaceTempView(
        "embeddings"
    )


def _sql_query(spark_sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _load(spark, sf_dir)
        return spark.sql(spark_sql)

    return run


# ---------------------------------------------------------------------------
# per-query Spark SQL + DuckDB oracle SQL, built as (spark_sql, duck_sql)
# ---------------------------------------------------------------------------

_PAIRS: dict[str, tuple[str, str]] = {}


def _pair(name: str, spark_sql: str, duck_sql: str) -> None:
    _PAIRS[name] = (spark_sql, duck_sql)


# -- A2/doc stats: per-doc token count (doc_len) ----------------------------
_pair(
    "q01_doc_stats",
    f"WITH tok AS ({SPARK_TOK}) "
    "SELECT d.doc_id, CAST(COALESCE(t.doc_len, 0) AS BIGINT) AS doc_len "
    "FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS doc_len FROM tok "
    "GROUP BY doc_id) t ON d.doc_id = t.doc_id",
    f"WITH tok AS ({DUCK_TOK}) "
    "SELECT d.doc_id, CAST(COALESCE(t.doc_len, 0) AS BIGINT) AS doc_len "
    "FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS doc_len FROM tok "
    "GROUP BY doc_id) t ON d.doc_id = t.doc_id",
)

# -- A1: term-frequency postings for a fixed term set -----------------------
_TERMS = "('spark', 'join', 'merge', 'window', 'hash')"
_pair(
    "q02_term_postings",
    f"WITH tok AS ({SPARK_TOK}) SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf "
    f"FROM tok WHERE term IN {_TERMS} GROUP BY doc_id, term",
    f"WITH tok AS ({DUCK_TOK}) SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf "
    f"FROM tok WHERE term IN {_TERMS} GROUP BY doc_id, term",
)

# -- A2: dictionary (df, cf) ------------------------------------------------
_pair(
    "q03_dictionary",
    f"WITH tok AS ({SPARK_TOK}), tf AS (SELECT doc_id, term, count(*) AS tf "
    "FROM tok GROUP BY doc_id, term) "
    "SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf "
    "FROM tf GROUP BY term",
    f"WITH tok AS ({DUCK_TOK}), tf AS (SELECT doc_id, term, count(*) AS tf "
    "FROM tok GROUP BY doc_id, term) "
    "SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf "
    "FROM tf GROUP BY term",
)

# -- A2: corpus stats singleton --------------------------------------------
_CORPUS_STATS = (
    "WITH tok AS ({tok}), dl AS (SELECT doc_id, count(*) AS doc_len FROM tok "
    "GROUP BY doc_id) "
    "SELECT CAST(count(*) AS BIGINT) AS n_docs, "
    "ROUND(CAST(sum(COALESCE(dl.doc_len,0)) AS DOUBLE) / count(*), 6) AS avgdl, "
    "CAST(sum(COALESCE(dl.doc_len,0)) AS BIGINT) AS total_tokens "
    "FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id"
)
_pair(
    "q04_corpus_stats",
    _CORPUS_STATS.format(tok=SPARK_TOK),
    _CORPUS_STATS.format(tok=DUCK_TOK),
)

# -- Q1-Q4: BM25 top-k, conjunctive (default AND, schema.xml:166) -----------
_pair(
    "q05_bm25_topk",
    _bm25_sql(SPARK_TOK, ["spark", "join"], True, 10),
    _bm25_sql(DUCK_TOK, ["spark", "join"], True, 10),
)

# -- disjunctive (OR) variant ----------------------------------------------
_pair(
    "q06_bm25_disjunctive",
    _bm25_sql(SPARK_TOK, ["vector", "stream", "batch"], False, 10),
    _bm25_sql(DUCK_TOK, ["vector", "stream", "batch"], False, 10),
)

# -- Q2: boolean AND match count -------------------------------------------
_MATCH_AND = (
    "WITH tok AS ({tok}), m AS (SELECT doc_id FROM (SELECT DISTINCT doc_id, term "
    "FROM tok WHERE term IN ('merge','sort','window')) x "
    "GROUP BY doc_id HAVING count(*) = 3) "
    "SELECT CAST(count(*) AS BIGINT) AS n_matching FROM m"
)
_pair(
    "q07_search_count_and",
    _MATCH_AND.format(tok=SPARK_TOK),
    _MATCH_AND.format(tok=DUCK_TOK),
)

# -- F1: lang scan pruning (glob 'e*' ~ indexed_formats, config.py:94-112) --
_LANG_SCAN = (
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS total_chars "
    "FROM documents WHERE lang LIKE 'e%' GROUP BY lang"
)
_pair("q08_lang_scan_pruning", _LANG_SCAN, _LANG_SCAN)

# -- F4/B4: change-detection status machine (action.py:114-150) -------------
# simulated manifest: docs with doc_id % 10 == 0 were indexed before; of
# those, doc_id % 20 == 0 have a stale stored hash -> 'update'; others
# 'unchanged'; docs never indexed -> 'new'.
_STATUS = (
    "WITH manifest AS (SELECT doc_id, CASE WHEN doc_id % 20 = 0 "
    "THEN 'stale' ELSE md5(text) END AS stored_sha FROM documents "
    "WHERE doc_id % 10 = 0) "
    "SELECT CASE WHEN m.doc_id IS NULL THEN 'new' "
    "WHEN m.stored_sha = md5(d.text) THEN 'unchanged' ELSE 'update' END AS status, "
    "CAST(count(*) AS BIGINT) AS n_docs "
    "FROM documents d LEFT JOIN manifest m ON d.doc_id = m.doc_id GROUP BY 1"
)
_pair("q09_status_machine", _STATUS, _STATUS)

# -- dedup: exact (hash groupBy) -------------------------------------------
_DEDUP = (
    "SELECT md5(text) AS content_hash, CAST(count(*) AS BIGINT) AS group_size, "
    "CAST(min(doc_id) AS BIGINT) AS keeper_doc_id FROM documents GROUP BY 1"
)
_pair("q10_dedup_exact", _DEDUP, _DEDUP)

# -- dedup: minhash signatures (4 portable hash fns via md5(seed||term)) ----
_MINHASH = (
    "WITH tok AS ({tok}), t AS (SELECT DISTINCT doc_id, term FROM tok) "
    "SELECT doc_id, "
    "min({h0}) AS mh0, min({h1}) AS mh1, min({h2}) AS mh2, min({h3}) AS mh3 "
    "FROM t WHERE doc_id % 50 = 0 GROUP BY doc_id"
)


def _mh(h60: str) -> dict[str, str]:
    return {f"h{i}": h60.format(x=f"concat('s{i}#', term)") for i in range(4)}


_pair(
    "q11_minhash_signatures",
    _MINHASH.format(tok=SPARK_TOK, **_mh(SPARK_H60)),
    _MINHASH.format(tok=DUCK_TOK, **_mh(DUCK_H60)),
)

# -- dedup: minhash LSH band candidate pairs -------------------------------
_LSH = (
    "WITH tok AS ({tok}), t AS (SELECT DISTINCT doc_id, term FROM tok), "
    "sig AS (SELECT doc_id, min({h0}) AS b0, min({h1}) AS b1 "
    "FROM t WHERE doc_id % 50 = 0 GROUP BY doc_id) "
    "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "FROM sig a JOIN sig b ON a.b0 = b.b0 AND a.b1 = b.b1 AND a.doc_id < b.doc_id"
)
_pair(
    "q12_minhash_lsh_pairs",
    _LSH.format(tok=SPARK_TOK, **_mh(SPARK_H60)),
    _LSH.format(tok=DUCK_TOK, **_mh(DUCK_H60)),
)

# -- dedup: token-set jaccard near-dup over sampled pairs ------------------
_JACCARD = (
    "WITH tok AS ({tok}), t AS (SELECT DISTINCT doc_id, term FROM tok "
    "WHERE doc_id % 50 = 0), "
    "card AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id), "
    "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i "
    "FROM t a JOIN t b ON a.term = b.term AND a.doc_id < b.doc_id "
    "GROUP BY a.doc_id, b.doc_id) "
    "SELECT doc_a, doc_b, "
    "ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) AS jaccard "
    "FROM inter JOIN card ca ON inter.doc_a = ca.doc_id "
    "JOIN card cb ON inter.doc_b = cb.doc_id "
    "WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5"
)
_pair(
    "q13_jaccard_neardup",
    _JACCARD.format(tok=SPARK_TOK),
    _JACCARD.format(tok=DUCK_TOK),
)

# -- dedup: simhash (16-bit, tf-weighted, portable hash) -------------------
_SIMHASH = (
    "WITH tok AS ({tok}), tf AS (SELECT doc_id, term, count(*) AS tf FROM tok "
    "GROUP BY doc_id, term), "
    "bits AS (SELECT doc_id, term, tf, {h60} AS h FROM tf), "
    "contrib AS (SELECT doc_id, b.bit, "
    "sum(CASE WHEN ((h >> b.bit) & 1) = 1 THEN tf ELSE -tf END) AS w "
    "FROM bits CROSS JOIN ({bit_tbl}) b GROUP BY doc_id, b.bit) "
    "SELECT doc_id, CAST(sum(CASE WHEN w > 0 THEN CAST(pow(2, bit) AS BIGINT) "
    "ELSE 0 END) AS BIGINT) AS simhash16 FROM contrib GROUP BY doc_id"
)
_SPARK_BITS = "SELECT explode(sequence(0, 15)) AS bit"
_DUCK_BITS = "SELECT unnest(range(0, 16)) AS bit"
_pair(
    "q14_simhash",
    _SIMHASH.format(tok=SPARK_TOK, h60=SPARK_H60.format(x="term"), bit_tbl=_SPARK_BITS),
    _SIMHASH.format(tok=DUCK_TOK, h60=DUCK_H60.format(x="term"), bit_tbl=_DUCK_BITS),
)

# -- similarity search: brute-force cosine top-k ---------------------------
_pair(
    "q15_ann_cosine_topk",
    # Spark: aggregate/zip_with dot products in double precision
    "WITH q AS (SELECT transform(embedding, x -> CAST(x AS DOUBLE)) AS qv "
    "FROM embeddings WHERE vec_id = 0), "
    "e AS (SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
    "FROM embeddings WHERE vec_id != 0), "
    "s AS (SELECT vec_id, "
    "aggregate(zip_with(v, qv, (a, b) -> a * b), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) "
    "/ (sqrt(aggregate(transform(v, x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)) "
    " * sqrt(aggregate(transform(qv, x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))) "
    "AS cos FROM e CROSS JOIN q) "
    "SELECT vec_id, ROUND(cos, 4) AS cosine FROM s "
    "ORDER BY ROUND(cos, 6) DESC, vec_id ASC LIMIT 10",
    # DuckDB: same math via list_dot_product
    "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0), "
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id != 0), "
    "s AS (SELECT vec_id, list_dot_product(v, qv) / "
    "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS cos "
    "FROM e CROSS JOIN q) "
    "SELECT vec_id, ROUND(cos, 4) AS cosine FROM s "
    "ORDER BY ROUND(cos, 6) DESC, vec_id ASC LIMIT 10",
)

# -- text quality scoring ---------------------------------------------------
_QUALITY = (
    "WITH tok AS ({tok}), m AS (SELECT doc_id, count(*) AS n_tokens, "
    "ROUND(avg(length(term)), 4) AS avg_token_len, "
    f"ROUND(CAST(sum(CASE WHEN term IN {ENGLISH_STOP_SQL} THEN 1 ELSE 0 END) AS DOUBLE)"
    " / count(*), 4) AS stopword_ratio FROM tok GROUP BY doc_id) "
    "SELECT d.doc_id, CAST(COALESCE(m.n_tokens, 0) AS BIGINT) AS n_tokens, "
    "m.avg_token_len, m.stopword_ratio "
    "FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id"
)
_pair(
    "q16_quality_score",
    _QUALITY.format(tok=SPARK_TOK),
    _QUALITY.format(tok=DUCK_TOK),
)

# -- document fingerprint (min/max portable token hash — winnowing-lite) ----
_FPRINT = (
    "WITH tok AS ({tok}) "
    "SELECT doc_id, min({h}) AS fp_min, max({h}) AS fp_max, "
    "CAST(count(DISTINCT term) AS BIGINT) AS n_distinct_terms "
    "FROM tok GROUP BY doc_id"
)
_pair(
    "q17_doc_fingerprint",
    _FPRINT.format(tok=SPARK_TOK, h=SPARK_H60.format(x="term")),
    _FPRINT.format(tok=DUCK_TOK, h=DUCK_H60.format(x="term")),
)

# -- skew detection: hot terms + salt factor (B1 planning input) ------------
_SKEW = (
    "WITH tok AS ({tok}), tf AS (SELECT doc_id, term, count(*) AS tf FROM tok "
    "GROUP BY doc_id, term), "
    "d AS (SELECT term, count(*) AS df FROM tf GROUP BY term), "
    "n AS (SELECT count(*) AS n_docs FROM documents) "
    "SELECT term, CAST(df AS BIGINT) AS df, "
    "CAST(ceil(CAST(df AS DOUBLE) / 1000.0) AS BIGINT) AS salt_factor "
    "FROM d CROSS JOIN n WHERE df > 0.5 * n_docs"
)
_pair("q18_skew_hot_terms", _SKEW.format(tok=SPARK_TOK), _SKEW.format(tok=DUCK_TOK))


# ---------------------------------------------------------------------------
# functions/-library entries: the DataFrame operator implementations checked
# against independently-written DuckDB SQL
# ---------------------------------------------------------------------------


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ckanext_extractor_spark.functions.textstats import token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_stats(docs, text_col="text").select(
        "doc_id", "n_tokens", "n_distinct_tokens", "total_token_chars"
    )


_TOKEN_STATS_DUCK = f"""
WITH t AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents)
SELECT doc_id,
  CAST(len(toks) AS INT) AS n_tokens,
  CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
  CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT)
    AS total_token_chars
FROM t
"""


def _q_simhash_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ckanext_extractor_spark.functions.dedup import simhash64

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumnRenamed(
        "text", "content"
    )
    return simhash64(docs, n_bits=16).select("doc_id", "simhash")


_SIMHASH_FN_DUCK = _SIMHASH.format(
    tok=DUCK_TOK, h60=DUCK_H60.format(x="term"), bit_tbl=_DUCK_BITS
).replace("AS simhash16", "AS simhash")


def _q_minhash_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.functions.dedup import minhash_signatures

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where("doc_id % 50 = 0")
        .withColumnRenamed("text", "content")
    )
    sig = minhash_signatures(docs, n_hashes=4)
    return sig.select(
        "doc_id",
        *[F.element_at("minhash", i + 1).alias(f"mh{i}") for i in range(4)],
    )


def _q_cosine_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.functions.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.where("vec_id = 0").collect()[0]["embedding"]
    out = cosine_topk(
        emb.where("vec_id != 0"), [float(x) for x in qvec], k=10
    )
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


_PAIRS["q19_token_stats_fn"] = ("", _TOKEN_STATS_DUCK)
_PAIRS["q20_simhash_fn"] = ("", _SIMHASH_FN_DUCK)
_PAIRS["q21_minhash_fn"] = ("", _MINHASH.format(tok=DUCK_TOK, **_mh(DUCK_H60)))
_PAIRS["q22_cosine_fn"] = (
    "",
    "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0), "
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id != 0), "
    "s AS (SELECT vec_id, list_dot_product(v, qv) / "
    "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS cos "
    "FROM e CROSS JOIN q) "
    "SELECT vec_id, ROUND(cos, 4) AS cosine FROM s "
    "ORDER BY ROUND(cos, 6) DESC, vec_id ASC LIMIT 10",
)

_FN_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q19_token_stats_fn": _q_token_stats,
    "q20_simhash_fn": _q_simhash_fn,
    "q21_minhash_fn": _q_minhash_fn,
    "q22_cosine_fn": _q_cosine_fn,
}


# ---------------------------------------------------------------------------
# engine-pipeline entries under the FULL oracle gate (mode="simple"):
# the real kernel -> salted shuffle -> segment codec -> decode -> top-k,
# hash-checked against ANSI-SQL. The code-aware analyzer stays rows-only
# below (SQL cannot express camelCase catenation), but every other engine
# component is now driver-gated, not just pytest-gated.
# ---------------------------------------------------------------------------


def _docs_corpus_ids(spark: SparkSession, sf_dir: str):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text").alias("content"),
        F.col("lang"),
    )


def _q_engine_postings_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full postings table through the real mapInPandas kernel (simple
    analyzer) — hash-gates the tokenize kernel + per-batch aggregation
    against the SQL tokenizer."""
    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.operators.build import tokenize_postings

    corpus = _docs_corpus_ids(spark, sf_dir)
    return tokenize_postings(corpus, SIMPLE_CONFIG).select(
        "doc_id", "term", "tf", "doc_len"
    )


_ENGINE_POSTINGS_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
       GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS doc_len FROM tok
       GROUP BY doc_id)
SELECT tf.doc_id, tf.term, tf.tf, dl.doc_len
FROM tf JOIN dl ON tf.doc_id = dl.doc_id
"""


def _postings_gen_docs(postings: DataFrame):
    """The one-generation doc set (ids + lengths) segments of ``postings``
    store ordinals into."""
    from ckanext_extractor_spark.operators.codec import GenDocs

    lens = postings.select("doc_id", "doc_len").distinct().collect()
    return GenDocs.of(
        [r["doc_id"] for r in lens], [r["doc_len"] for r in lens]
    )


def _engine_segment_topk(
    spark: SparkSession,
    sf_dir: str,
    query_terms: list[str],
    conjunctive: bool,
    mode: str = "exact",
    k: int = 10,
    exclude_terms: "list[str] | None" = None,
    min_match: "int | None" = None,
    prefix: "str | None" = None,
    pattern: "str | None" = None,
    fuzzy: "tuple[str, int] | None" = None,
    fuzzy_blend: bool = False,
    expr: "str | None" = None,
) -> DataFrame:
    """kernel -> dictionary -> salted repartition -> segment encode ->
    decode -> top-k, all through the engine's own operators.

    ``prefix``: PrefixQuery form — ``query_terms`` is ignored and the
    expansion set is every encoded term starting with ``prefix``
    (scoring-boolean rewrite, disjunctive). ``min_match``: Solr mm on
    the disjunctive exact path."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.operators.build import (
        build_dictionary,
        tokenize_postings,
    )
    from ckanext_extractor_spark.operators.segments import encode_segments, salted_postings
    from ckanext_extractor_spark.operators.wand import (
        LazyTermPostings,
        exact_topk,
        maxscore_topk,
        maxscore_topk_lazy,
        term_postings_from_rows,
        wand_topk,
    )

    corpus = _docs_corpus_ids(spark, sf_dir)
    n_docs = corpus.count()
    postings = tokenize_postings(corpus, SIMPLE_CONFIG)
    # stage postings once (kernel runs a single time; segments + stats read it)
    postings.persist()
    try:
        dictionary = build_dictionary(postings)
        tot = postings.groupBy("doc_id").agg(
            F.first("doc_len").alias("doc_len")
        ).agg(F.sum("doc_len").alias("t")).collect()[0]["t"]
        avgdl = float(tot or 0) / float(n_docs)
        salted = salted_postings(postings, dictionary, n_buckets=8,
                                 salt_threshold=500)
        docs = _postings_gen_docs(postings)
        segments = encode_segments(salted, docs, n_buckets=8)
        if prefix is not None:
            rows = segments.where(
                F.col("term").startswith(prefix)
            ).collect()
            query_terms = sorted({r["term"] for r in rows})
        elif pattern is not None:
            # WildcardQuery: glob -> SQL LIKE over the encoded terms
            like = pattern.replace("*", "%").replace("?", "_")
            rows = segments.where(F.col("term").like(like)).collect()
            query_terms = sorted({r["term"] for r in rows})
        elif fuzzy is not None:
            # FuzzyQuery: length-window prune + thresholded levenshtein
            ft, fn = fuzzy
            rows = (
                segments.where(
                    F.length("term").between(len(ft) - fn, len(ft) + fn)
                )
                .where(F.levenshtein(F.col("term"), F.lit(ft), fn) >= 0)
                .collect()
            )
            query_terms = sorted({r["term"] for r in rows})
        elif expr is not None:
            # boolean query language: fetch every token the AST mentions
            # (positive AND negated leaves)
            from ckanext_extractor_spark.operators.boolquery import (
                all_tokens,
                parse_query,
            )

            _ast = parse_query(expr, lambda t: t.lower().split())
            wanted = all_tokens(_ast)
            rows = segments.where(F.col("term").isin(wanted)).collect()
        else:
            wanted = list(query_terms) + list(exclude_terms or [])
            rows = segments.where(F.col("term").isin(wanted)).collect()
    finally:
        postings.unpersist()
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(dict(r.asDict(), docs=docs))
    ex_ids = None
    if exclude_terms:
        import numpy as _np

        ex_tls = [
            term_postings_from_rows(t, by_term.pop(t), n_docs, avgdl)
            for t in exclude_terms
            if t in by_term
        ]
        ex_ids = (
            _np.unique(_np.concatenate([tp.doc_ids for tp in ex_tls]))
            if ex_tls
            else _np.array([], dtype=_np.int64)
        )
    if expr is not None:
        import numpy as _np

        from ckanext_extractor_spark.operators.boolquery import (
            eval_topk,
            parse_query,
        )
        from ckanext_extractor_spark.operators.phrase import (
            phrase_filter_docs,
        )

        ast = parse_query(expr, lambda t: t.lower().split())
        pmap = {
            t: term_postings_from_rows(t, rs, n_docs, avgdl)
            for t, rs in by_term.items()
        }

        def _phrase_cb(tokens, slop):
            uniq = list(dict.fromkeys(tokens))
            if any(t not in pmap for t in uniq):
                return _np.empty(0, dtype=_np.int64)
            cand = pmap[uniq[0]].doc_ids
            for t in uniq[1:]:
                cand = _np.intersect1d(
                    cand, pmap[t].doc_ids, assume_unique=True
                )
            keep = phrase_filter_docs(
                [int(d) for d in cand],
                {t: by_term.get(t, []) for t in uniq}, tokens, slop=slop,
            )
            return _np.array(sorted(keep), dtype=_np.int64)

        hits = eval_topk(ast, pmap, k, avgdl, phrase_cb=_phrase_cb)
    elif mode == "maxscore_lazy":
        # block-offset lazy decode: non-essential lists decode only the
        # blocks their candidates touch (operators/wand.py
        # LazyTermPostings) — rank/score identity vs the same disjunctive
        # BM25 SQL oracle is the claim under test
        ltls = [
            LazyTermPostings(t, rs, n_docs, avgdl)
            for t, rs in by_term.items()
        ]
        hits = maxscore_topk_lazy(ltls, k, avgdl, conjunctive=conjunctive)
    else:
        tls = [
            term_postings_from_rows(t, rs, n_docs, avgdl)
            for t, rs in by_term.items()
        ]
        if fuzzy is not None and fuzzy_blend:
            # Lucene blended rewrite: each expansion weighted by the
            # FuzzyTermsEnum distance boost (api.fuzzy_blend_boost) —
            # the same factor the DuckDB oracle multiplies in SQL
            from ckanext_extractor_spark.api import fuzzy_blend_boost
            from ckanext_extractor_spark.operators.wand import (
                boost_postings,
            )

            ft, fn = fuzzy
            tls = [
                boost_postings(tp, fuzzy_blend_boost(ft, tp.term, fn))
                for tp in tls
            ]
        if ex_ids is not None and ex_ids.size:
            from ckanext_extractor_spark.operators.wand import exclude_docs

            tls = [exclude_docs(tp, ex_ids) for tp in tls]
            tls = [tp for tp in tls if len(tp.doc_ids)]
        if conjunctive and len(tls) < len(set(query_terms)):
            hits = []
        else:
            fn = {"wand": wand_topk, "maxscore": maxscore_topk}.get(
                mode, exact_topk
            )
            if fn is exact_topk:
                hits = fn(tls, k, avgdl, conjunctive=conjunctive,
                          min_match=min_match)
            else:
                hits = fn(tls, k, avgdl, conjunctive=conjunctive)
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in hits],
        "doc_id long, score double",
    )


def _q_bm25_segments_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine_segment_topk(
        spark, sf_dir, ["spark", "join"], conjunctive=True
    )


def _q_bm25_segments_wand_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine_segment_topk(
        spark, sf_dir, ["vector", "stream", "batch"], conjunctive=False,
        mode="wand",
    )


def _q_bm25_segments_maxscore_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MaxScore (vectorized essential-list skipping,
    operators/wand.py) through the REAL pipeline: kernel -> salted
    repartition -> segment codec -> decode -> maxscore_topk; oracle =
    the same disjunctive BM25 ANSI SQL as the exact/WAND entries
    (rank-identity of the skipping path is the claim under test)."""
    return _engine_segment_topk(
        spark, sf_dir, ["vector", "stream", "batch"], conjunctive=False,
        mode="maxscore",
    )


def _q_bm25_segments_maxscore_lazy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lazy-block MaxScore (per-block byte offsets -> decode only visited
    blocks) through the real pipeline; same oracle as q34 — the lazy
    decode must be invisible in ranks AND scores."""
    return _engine_segment_topk(
        spark, sf_dir, ["vector", "stream", "batch"], conjunctive=False,
        mode="maxscore_lazy",
    )


def _strip_n_matched(bm25_sql: str) -> str:
    return f"SELECT doc_id, score FROM ({bm25_sql}) stripped"


def _q_phrase_segments_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positions end-to-end under the oracle: kernel positions ->
    varbyte payload -> segment blob -> decode -> consecutive-position
    verify; ranked by the conjunctive BM25 of the phrase terms."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.operators.build import (
        build_dictionary,
        tokenize_postings,
    )
    from ckanext_extractor_spark.operators.phrase import phrase_filter_docs
    from ckanext_extractor_spark.operators.segments import encode_segments, salted_postings
    from ckanext_extractor_spark.operators.wand import (
        exact_topk,
        term_postings_from_rows,
    )

    terms = ["the", "fast"]
    corpus = _docs_corpus_ids(spark, sf_dir)
    n_docs = corpus.count()
    postings = tokenize_postings(corpus, SIMPLE_CONFIG)
    postings.persist()
    try:
        dictionary = build_dictionary(postings)
        tot = postings.groupBy("doc_id").agg(
            F.first("doc_len").alias("doc_len")
        ).agg(F.sum("doc_len").alias("t")).collect()[0]["t"]
        avgdl = float(tot or 0) / float(n_docs)
        salted = salted_postings(postings, dictionary, n_buckets=8,
                                 salt_threshold=500)
        docs = _postings_gen_docs(postings)
        segments = encode_segments(salted, docs, n_buckets=8)
        rows = segments.where(F.col("term").isin(terms)).collect()
    finally:
        postings.unpersist()
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(dict(r.asDict(), docs=docs))
    tls = [
        term_postings_from_rows(t, rs, n_docs, avgdl)
        for t, rs in by_term.items()
    ]
    if len(tls) < len(terms):
        hits = []
    else:
        scored = exact_topk(tls, 10**9, avgdl, conjunctive=True)
        keep = set(
            phrase_filter_docs([d for d, _ in scored], by_term, terms)
        )
        hits = [(d, s) for d, s in scored if d in keep][:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in hits],
        "doc_id long, score double",
    )


_PHRASE_DUCK = f"""
WITH t AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
        FROM t),
ph AS (SELECT DISTINCT a.doc_id FROM tok a JOIN tok b
       ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       WHERE a.term = 'the' AND b.term = 'fast'),
ranked AS ({_bm25_sql(DUCK_TOK, ["the", "fast"], True, None)})
SELECT r.doc_id, r.score FROM ranked r JOIN ph ON r.doc_id = ph.doc_id
ORDER BY r.score DESC, r.doc_id ASC LIMIT 10
"""

def _q_metadata_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EAV metadata normalization through the REAL Column functions
    (clean_metadata_keys / collapse_multivalues / filter_metadata_fields,
    reference lib.py:55-65 + tasks.py:82-95 + config.py:101-105) over a
    synthesized dirty map<string,array<string>> column; result exploded to
    (doc_id, key, value) rows for robust cross-engine hashing."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.operators.normalize import (
        clean_metadata_keys,
        collapse_multivalues,
        filter_metadata_fields,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dirty = F.create_map(
        F.lit("Content_Type"), F.array(F.col("lang")),
        F.lit("Source_Name"), F.array(F.col("source"), F.col("lang")),
        F.lit("X_Dropped_Key"), F.array(F.lit("never-seen")),
    )
    meta = filter_metadata_fields(
        clean_metadata_keys(collapse_multivalues(dirty)),
        ("content-*", "source-*"),
    )
    return docs.select(
        F.col("doc_id"), F.explode(meta).alias("key", "value")
    )


_METADATA_DUCK = """
SELECT doc_id, 'content-type' AS key, lang AS value FROM documents
UNION ALL
SELECT doc_id, 'source-name' AS key, source || ', ' || lang AS value
FROM documents
"""

def _q_field_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 per-field search through the REAL operators: metadata sidecar
    normalization -> build_field_postings -> search_field (boolean AND
    within one key, reference dynamic-field fq, plugin.py:40,140)."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.operators.fields import (
        build_field_postings,
        search_field,
    )
    from ckanext_extractor_spark.operators.normalize import (
        clean_metadata_keys,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prepared = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        clean_metadata_keys(
            F.create_map(
                F.lit("Source_Name"),
                F.concat(F.col("source"), F.lit(" "), F.col("lang")),
            )
        ).alias("metadata"),
    )
    fp = build_field_postings(prepared)
    return search_field(fp, "source-name", "src13 en")


_FIELD_SEARCH_DUCK = """
SELECT doc_id FROM documents WHERE source = 'src13' AND lang = 'en'
"""

_PAIRS["q23_engine_postings_simple"] = ("", _ENGINE_POSTINGS_DUCK)
_PAIRS["q27_metadata_normalize"] = ("", _METADATA_DUCK)
_PAIRS["q28_field_search"] = ("", _FIELD_SEARCH_DUCK)
_PAIRS["q24_bm25_segments_exact"] = (
    "",
    _strip_n_matched(_bm25_sql(DUCK_TOK, ["spark", "join"], True, 10)),
)
_PAIRS["q25_bm25_segments_wand_or"] = (
    "",
    _strip_n_matched(_bm25_sql(DUCK_TOK, ["vector", "stream", "batch"], False, 10)),
)
_PAIRS["q26_phrase_segments_simple"] = ("", _PHRASE_DUCK)
def _q_phrase_distributed_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-scale phrase plan through the REAL engine: build an index
    (simple SQL-parity analyzer), then phrase_search(distributed=True) —
    bucket-pruned segment scan -> decode kernel -> one doc_id exchange ->
    vectorized consecutive-position verify -> global top-k. Engine doc_ids
    (xxhash64 of identity) are mapped back to the documents ids via the
    stored path so the DuckDB oracle can compare. Selection uses true
    scores with original-id tiebreaks (matching the oracle's ORDER BY),
    rounding only for the emitted values."""
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine
    from ckanext_extractor_spark.sources.corpus_source import (
        documents_as_corpus,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_dphrase_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG,
    )
    eng.extract(corpus, build_id="entry-dphrase")
    hits = eng.phrase_search("the fast", k=10**9, distributed=True)
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in hits), key=lambda x: (-x[1], x[0])
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_PAIRS["q35_phrase_distributed_engine"] = ("", _PHRASE_DUCK)
_PAIRS["q34_bm25_segments_maxscore_or"] = (
    "",
    _strip_n_matched(_bm25_sql(DUCK_TOK, ["vector", "stream", "batch"], False, 10)),
)
_PAIRS["q36_bm25_segments_maxscore_lazy"] = (
    "",
    _strip_n_matched(_bm25_sql(DUCK_TOK, ["vector", "stream", "batch"], False, 10)),
)


def _q_bm25_segments_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-terms clause (Lucene MUST_NOT / Solr ``-term``) through
    the real pipeline: kernel -> salted repartition -> segment codec ->
    decode -> exclude_docs (one searchsorted per list) -> exact top-k.
    Oracle = the same conjunctive BM25 SQL with a NOT IN anti-filter
    applied before the LIMIT; the filter-not-rescore contract is the
    claim under test (reference analog: Solr ``-term`` in the default
    q, plugin.py:140)."""
    return _engine_segment_topk(
        spark, sf_dir, ["spark", "join"], conjunctive=True,
        exclude_terms=["stream"],
    )


def _q_phrase_slop_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered proximity (phrase slop, NEAR/n-ordered) through the REAL
    engine's cluster-scale plan: build an index (simple SQL-parity
    analyzer), then phrase_search(distributed=True, slop=1) — a 3-term
    chain so the per-gap window PROPAGATES (term i+1 within slop+1 of a
    feasible match of term i). Oracle = positions triple-join with the
    same per-gap window (Solr analog: ``"scan fast table"~n``,
    schema.xml's position tracking; semantics pinned per-gap, see
    operators/phrase.py)."""
    import tempfile

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine
    from ckanext_extractor_spark.sources.corpus_source import (
        documents_as_corpus,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_slop_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG,
    )
    eng.extract(corpus, build_id="entry-slop")
    hits = eng.phrase_search("scan fast table", k=10**9, distributed=True,
                             slop=1)
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in hits), key=lambda x: (-x[1], x[0])
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_PHRASE_SLOP_DUCK = f"""
WITH t AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
        FROM t),
ph AS (SELECT DISTINCT a.doc_id FROM tok a
       JOIN tok b ON a.doc_id = b.doc_id
        AND b.pos > a.pos AND b.pos <= a.pos + 2
       JOIN tok c ON c.doc_id = b.doc_id
        AND c.pos > b.pos AND c.pos <= b.pos + 2
       WHERE a.term = 'scan' AND b.term = 'fast' AND c.term = 'table'),
ranked AS ({_bm25_sql(DUCK_TOK, ["scan", "fast", "table"], True, None)})
SELECT r.doc_id, r.score FROM ranked r JOIN ph ON r.doc_id = ph.doc_id
ORDER BY r.score DESC, r.doc_id ASC LIMIT 10
"""

def _q_phrase_lucene_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene TOTAL-MOVE sloppy phrase (VERDICT r3 #3) through the real
    engine's cluster-scale plan: phrase_search('fast scan', slop=2,
    slop_mode='lucene', distributed=True). The total budget permits
    REORDERING — the corpus' 'scan fast' bigrams match the reversed
    query (a reversal costs 2 moves), which the pinned per-gap default
    (q38) never does. Oracle: exists positions with offset-adjusted
    span <= slop (greatest(p_fast - 0, p_scan - 1) - least(...) <= 2),
    ranked by the same conjunctive BM25."""
    import tempfile

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine
    from ckanext_extractor_spark.sources.corpus_source import (
        documents_as_corpus,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_lslop_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG,
    )
    eng.extract(corpus, build_id="entry-lslop")
    hits = eng.phrase_search("fast scan", k=10**9, distributed=True,
                             slop=2, slop_mode="lucene")
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in hits), key=lambda x: (-x[1], x[0])
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_PHRASE_LUCENE_SLOP_DUCK = f"""
WITH t AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
        FROM t),
ph AS (SELECT DISTINCT a.doc_id FROM tok a
       JOIN tok b ON a.doc_id = b.doc_id
       WHERE a.term = 'fast' AND b.term = 'scan'
         AND greatest(a.pos - 0, b.pos - 1) - least(a.pos - 0, b.pos - 1) <= 2),
ranked AS ({_bm25_sql(DUCK_TOK, ["fast", "scan"], True, None)})
SELECT r.doc_id, r.score FROM ranked r JOIN ph ON r.doc_id = ph.doc_id
ORDER BY r.score DESC, r.doc_id ASC LIMIT 10
"""

_PAIRS["q60_phrase_lucene_slop"] = ("", _PHRASE_LUCENE_SLOP_DUCK)

_PAIRS["q37_bm25_segments_exclude"] = (
    "",
    _strip_n_matched(
        _bm25_sql(DUCK_TOK, ["spark", "join"], True, 10,
                  exclude_terms=["stream"])
    ),
)
_PAIRS["q38_phrase_slop_engine"] = ("", _PHRASE_SLOP_DUCK)


def _q_bm25_min_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minimum_should_match (Solr mm / Lucene minimumNumberShouldMatch)
    through the real pipeline: disjunctive exact merge keeps only docs
    matching >= 2 of the 3 query terms — a pure filter on the distinct
    matched-term count, scores unchanged (oracle: HAVING count >= m in
    the same BM25 SQL)."""
    return _engine_segment_topk(
        spark, sf_dir, ["vector", "stream", "batch"], conjunctive=False,
        min_match=2,
    )


def _q_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PrefixQuery 's*' through the real pipeline: term expansion is a
    startswith scan of the encoded dictionary (Lucene terms-dict seek),
    then a scoring-boolean disjunctive BM25 over the expansions — each
    expanded term keeps its own idf (SCORING_BOOLEAN_REWRITE; oracle:
    the same BM25 SQL with term LIKE 's%')."""
    return _engine_segment_topk(
        spark, sf_dir, [], conjunctive=False, prefix="s",
    )


def _q_facets_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr-style facet counts through the REAL engine: build an index
    whose corpus carries a metadata map (Source_Name/Lang from the
    documents table -> the EAV sidecar, reference ResourceMetadatum),
    then facets('spark join', ...) — distributed match kernel ->
    metadata explode -> (field, value) counts -> per-field top by
    (count desc, value asc). Doc ids never leave the cluster; the
    result is the facet table itself."""
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Source_Name"), F.array(F.col("source")),
            F.lit("Lang"), F.array(F.col("lang")),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_facets_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("source-*", "lang"),
    )
    eng.extract(corpus, build_id="entry-facets")
    out = eng.facets("spark join", ["source-name", "lang"], k_facet=5)
    rows = [
        (f, v, int(c)) for f in sorted(out) for v, c in out[f]
    ]
    return spark.createDataFrame(rows, "field string, value string, cnt long")


_FACETS_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
m AS (SELECT doc_id FROM tok WHERE term IN ('spark', 'join')
      GROUP BY doc_id HAVING count(DISTINCT term) = 2),
eav AS (
  SELECT doc_id, 'source-name' AS field, source AS value FROM documents
  UNION ALL
  SELECT doc_id, 'lang' AS field, lang AS value FROM documents),
c AS (SELECT field, value, CAST(count(*) AS BIGINT) AS cnt
      FROM eav JOIN m USING (doc_id) GROUP BY field, value),
r AS (SELECT field, value, cnt,
             row_number() OVER (PARTITION BY field
                                ORDER BY cnt DESC, value ASC) AS rn
      FROM c)
SELECT field, value, cnt FROM r WHERE rn <= 5 ORDER BY field, rn
"""

_PAIRS["q39_bm25_min_match"] = (
    "",
    _strip_n_matched(
        _bm25_sql(DUCK_TOK, ["vector", "stream", "batch"], False, 10,
                  min_match=2)
    ),
)
_PAIRS["q40_prefix_search"] = (
    "",
    _strip_n_matched(_bm25_sql(DUCK_TOK, [], False, 10, terms_like="s%")),
)
_PAIRS["q41_facets_engine"] = ("", _FACETS_DUCK)


_DOCS_ENGINE_CACHE: dict = {}


def _docs_engine(spark: SparkSession, sf_dir: str):
    """One SIMPLE_CONFIG engine over the documents table with a
    Source_Name/Lang/N_Chars metadata sidecar, cached per sf_dir —
    the r4 component entries (terms / range facets / query facets)
    share a single extract instead of re-building per entry."""
    if sf_dir in _DOCS_ENGINE_CACHE:
        return _DOCS_ENGINE_CACHE[sf_dir]
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Source_Name"), F.array(F.col("source")),
            F.lit("Lang"), F.array(F.col("lang")),
            F.lit("N_Chars"), F.array(F.col("n_chars").cast("string")),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_docs_eng_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG,
        indexed_fields=("source-*", "lang", "n-chars"),
    )
    eng.extract(corpus, build_id="entry-docs-eng")
    _DOCS_ENGINE_CACHE[sf_dir] = eng
    return eng


def _q_terms_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr TermsComponent through the REAL engine: terms(prefix='s',
    limit=15) lists dictionary terms by (df desc, term asc) with df from
    segment n_postings metadata — a fresh index has no tombstones, so
    pre-merge docFreq == live distinct-doc count and the DuckDB oracle
    (count distinct doc_id per token) is exact."""
    eng = _docs_engine(spark, sf_dir)
    rows = eng.terms(prefix="s", limit=15)
    return spark.createDataFrame(
        [(t, int(d)) for t, d in rows], "term string, df long"
    )


_TERMS_DUCK = f"""
WITH tok AS ({{tok}}),
d AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok WHERE term LIKE 's%' GROUP BY term)
SELECT term, df FROM d ORDER BY df DESC, term ASC LIMIT 15
"""


def _q_range_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr facet.range through the REAL engine: bucket counts of
    matching docs' numeric n-chars metadata over [0, 400) gap 100,
    zero-count buckets included (facet.mincount=0); the 'after' count
    rides as bucket lo=400 so the whole response is one hash-gated
    relation (start 0 makes 'before' structurally empty)."""
    eng = _docs_engine(spark, sf_dir)
    out = eng.range_facets("spark", "n-chars", 0, 400, 100)
    rows = [(float(lo), int(c)) for lo, c in out["buckets"]]
    rows.append((400.0, int(out["after"])))
    return spark.createDataFrame(rows, "lo double, cnt long")


_RANGE_FACETS_DUCK = f"""
WITH tok AS ({{tok}}),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
v AS (SELECT d.doc_id, CAST(d.n_chars AS DOUBLE) AS v
      FROM documents d JOIN m USING (doc_id)),
b AS (SELECT CAST(lo AS DOUBLE) AS lo
      FROM range(0, 400, 100) t(lo)
      UNION ALL SELECT 400.0),
c AS (SELECT CASE WHEN v >= 400 THEN 400.0
                  ELSE 100.0 * floor(v / 100.0) END AS lo,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS cnt
      FROM v WHERE v >= 0 GROUP BY 1)
SELECT b.lo, COALESCE(c.cnt, 0) AS cnt
FROM b LEFT JOIN c USING (lo) ORDER BY lo
"""


def _q_query_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr facet.query through the REAL engine: counts of docs matching
    the main query AND each labelled sub-query — all labels in ONE
    distributed plan (labelled union -> semi-join -> per-label count)."""
    eng = _docs_engine(spark, sf_dir)
    out = eng.query_facets(
        "spark", {"has_join": "join", "vs": "vector stream"}
    )
    return spark.createDataFrame(
        sorted((lbl, int(c)) for lbl, c in out.items()),
        "label string, cnt long",
    )


_QUERY_FACETS_DUCK = f"""
WITH tok AS ({{tok}}),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
hj AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'join'),
vs AS (SELECT doc_id FROM tok WHERE term IN ('vector', 'stream')
       GROUP BY doc_id HAVING count(DISTINCT term) = 2)
SELECT 'has_join' AS label,
       CAST((SELECT count(*) FROM m JOIN hj USING (doc_id)) AS BIGINT) AS cnt
UNION ALL
SELECT 'vs' AS label,
       CAST((SELECT count(*) FROM m JOIN vs USING (doc_id)) AS BIGINT) AS cnt
ORDER BY label
"""

_PAIRS["q62_terms_component"] = ("", _TERMS_DUCK.format(tok=DUCK_TOK))
_PAIRS["q63_range_facets"] = ("", _RANGE_FACETS_DUCK.format(tok=DUCK_TOK))
_PAIRS["q64_query_facets"] = ("", _QUERY_FACETS_DUCK.format(tok=DUCK_TOK))


def _q_wildcard_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WildcardQuery 's*m' through the real pipeline: the expansion is a
    LIKE scan of the encoded dictionary (glob -> 's%m'), then the same
    scoring-boolean disjunctive BM25 as prefix search (q40 IS the
    trailing-star special case; oracle: term LIKE 's%m')."""
    return _engine_segment_topk(
        spark, sf_dir, [], conjunctive=False, pattern="s*m",
    )


def _q_fuzzy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FuzzyQuery 'vektor'~1 through the real pipeline: expansion =
    encoded terms within Levenshtein distance 1 (length-window prune
    pushed to the scan, thresholded F.levenshtein), then scoring-boolean
    disjunctive BM25 with each expansion's own idf (pinned divergence
    from Lucene's similarity-blended boost; oracle: the same BM25 SQL
    with levenshtein(term, 'vektor') <= 1)."""
    return _engine_segment_topk(
        spark, sf_dir, [], conjunctive=False, fuzzy=("vektor", 1),
    )


def _q_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr fq through the REAL engine: build an index whose corpus
    carries a metadata map (the EAV sidecar), then
    search('spark join', fq={'source-name': 'src3'}) — the filter
    restricts results to docs whose metadata field matches, scores stay
    the full-corpus BM25 values (a filter clause never rescores;
    reference analog: package_search fq on the dynamic
    ckanext-extractor_{id}_{key} fields, plugin.py:40,140). Engine doc
    ids map back to documents.doc_id via the corpus path."""
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Source_Name"), F.array(F.col("source")),
            F.lit("Lang"), F.array(F.col("lang")),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_fq_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("source-*", "lang"),
    )
    eng.extract(corpus, build_id="entry-fq")
    hits = eng.search("spark join", k=10**9, conjunctive=True,
                      fq={"source-name": "src3"})
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in hits), key=lambda x: (-x[1], x[0])
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_PAIRS["q42_wildcard_search"] = (
    "",
    _strip_n_matched(_bm25_sql(DUCK_TOK, [], False, 10, terms_like="s%m")),
)
_PAIRS["q43_fuzzy_search"] = (
    "",
    _strip_n_matched(
        _bm25_sql(DUCK_TOK, [], False, 10, terms_fuzzy=("vektor", 1))
    ),
)


def _q_fuzzy_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FuzzyQuery 'vector'~1 with Lucene's distance-blended boost
    (VERDICT r3 #5): the exact dictionary hit scores with boost 1.0,
    every 1-edit neighbour with 1 - 1/min(|q|, |t|) — closing the
    pinned per-term-idf divergence behind blend='lucene'. Oracle: the
    same BM25 SQL with the boost as a levenshtein expression."""
    return _engine_segment_topk(
        spark, sf_dir, [], conjunctive=False, fuzzy=("vector", 1),
        fuzzy_blend=True,
    )


_PAIRS["q61_fuzzy_blend"] = (
    "",
    _strip_n_matched(
        _bm25_sql(DUCK_TOK, [], False, 10, terms_fuzzy=("vector", 1),
                  fuzzy_blend=True)
    ),
)
def _q_bool_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene classic-QueryParser boolean query through the real
    pipeline: '(vector OR stream) AND batch -join' parses to an AST and
    evaluates in ONE vectorized pass over the decoded lists (mask
    algebra over the candidate universe; a matching doc's score sums
    ONLY the scoring clauses it matches — an OR adds only the matching
    side; NOT filters, never scores)."""
    return _engine_segment_topk(
        spark, sf_dir, [], conjunctive=False,
        expr="(vector OR stream) AND batch -join",
    )


def _q_bool_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term boosts (Lucene 'term^2'): the boosted term's BM25
    contribution is multiplied before summation, disjunctive merge
    otherwise unchanged."""
    return _engine_segment_topk(
        spark, sf_dir, [], conjunctive=False, expr="vector^2 OR stream",
    )


def _bool_scored_cte() -> str:
    """Shared CTE prefix: per-(doc, term) BM25 contributions with the
    term carried through (the boolean oracles need per-clause flags)."""
    return f"""
WITH tok AS ({DUCK_TOK}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(doc_len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM (SELECT d.doc_id, COALESCE(dl.doc_len, 0) AS doc_len
        FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id) x),
df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.doc_len / s.avgdl))
           AS term_score
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s)
"""


_BOOL_EXPR_DUCK = f"""
{_bool_scored_cte()},
agg AS (
  SELECT doc_id, sum(term_score) AS score,
         max(CASE WHEN term IN ('vector', 'stream') THEN 1 ELSE 0 END) AS m_vs,
         max(CASE WHEN term = 'batch' THEN 1 ELSE 0 END) AS m_b
  FROM scored WHERE term IN ('vector', 'stream', 'batch')
  GROUP BY doc_id)
SELECT doc_id, ROUND(score, 4) AS score FROM agg
WHERE m_vs = 1 AND m_b = 1
  AND doc_id NOT IN (SELECT DISTINCT doc_id FROM tok WHERE term = 'join')
ORDER BY ROUND(score, 6) DESC, doc_id ASC LIMIT 10
"""

_BOOL_BOOST_DUCK = f"""
{_bool_scored_cte()},
agg AS (
  SELECT doc_id,
         sum(CASE WHEN term = 'vector' THEN 2.0 * term_score
                  ELSE term_score END) AS score
  FROM scored WHERE term IN ('vector', 'stream')
  GROUP BY doc_id)
SELECT doc_id, ROUND(score, 4) AS score FROM agg
ORDER BY ROUND(score, 6) DESC, doc_id ASC LIMIT 10
"""

def _q_bool_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-phrase clause inside the boolean language:
    '\"scan fast\" OR vector' — the phrase leaf resolves via the per-gap
    positions verify (same kernel as phrase search) and scores the
    conjunctive BM25 sum of its distinct terms on phrase-matching docs;
    the OR adds only the matching side's contribution."""
    return _engine_segment_topk(
        spark, sf_dir, [], conjunctive=False,
        expr='"scan fast" OR vector',
    )


_BOOL_PHRASE_DUCK = f"""
{_bool_scored_cte()},
t2 AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
ptok AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
         FROM t2),
ph AS (SELECT DISTINCT a.doc_id FROM ptok a
       JOIN ptok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       WHERE a.term = 'scan' AND b.term = 'fast'),
agg AS (
  SELECT doc_id,
         COALESCE(sum(CASE WHEN term IN ('scan', 'fast')
                           THEN term_score END), 0) AS s_ph,
         COALESCE(sum(CASE WHEN term = 'vector'
                           THEN term_score END), 0) AS s_v,
         max(CASE WHEN term = 'vector' THEN 1 ELSE 0 END) AS m_v
  FROM scored WHERE term IN ('scan', 'fast', 'vector')
  GROUP BY doc_id),
j AS (
  SELECT a.doc_id,
         (CASE WHEN ph.doc_id IS NOT NULL THEN s_ph ELSE 0 END)
           + (CASE WHEN m_v = 1 THEN s_v ELSE 0 END) AS score,
         (CASE WHEN ph.doc_id IS NOT NULL THEN 1 ELSE 0 END) + m_v AS m
  FROM agg a LEFT JOIN ph ON a.doc_id = ph.doc_id)
SELECT doc_id, ROUND(score, 4) AS score FROM j WHERE m >= 1
ORDER BY ROUND(score, 6) DESC, doc_id ASC LIMIT 10
"""

def _q_sorted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr sort=field through the REAL engine: build a metadata-carrying
    index, then search_sorted('spark join', 'source-name') — the k=None
    match kernel semi-joins the exploded metadata rows and a global
    TakeOrdered materializes only the k-window (docs ordered by field
    value, not score). Engine doc ids map back via the corpus path; the
    driver-side re-sort uses original ids so value-ties break
    deterministically for the oracle."""
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Source_Name"), F.array(F.col("source")),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_sort_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("source-*",),
    )
    eng.extract(corpus, build_id="entry-sort")
    hits = eng.search_sorted("spark join", "source-name", k=10**9)
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], v) for d, v in hits), key=lambda x: (x[1], x[0])
    )[:10]
    return spark.createDataFrame(
        [(int(d), str(v)) for d, v in ranked], "doc_id long, value string"
    )


_SORTED_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
m AS (SELECT doc_id FROM tok WHERE term IN ('spark', 'join')
      GROUP BY doc_id HAVING count(DISTINCT term) = 2)
SELECT d.doc_id, d.source AS value FROM documents d JOIN m USING (doc_id)
ORDER BY value ASC, d.doc_id ASC LIMIT 10
"""

def _q_dismax_qf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr (e)dismax qf through the REAL operators: metadata sidecar ->
    build_field_postings -> dismax_search_fields with per-field boosts
    and tie=0.3 (Lucene DisjunctionMaxQuery: per term, max boosted
    per-field BM25 + tie * rest, summed over terms; per-field df/N/avgdl
    like Lucene's per-field norms). 'en' lives in BOTH fields so the max
    and the tie fraction are exercised, not just a relabeled BM25."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.operators.fields import (
        build_field_norms,
        build_field_postings,
        dismax_search_fields,
    )
    from ckanext_extractor_spark.operators.normalize import (
        clean_metadata_keys,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prepared = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        clean_metadata_keys(
            F.create_map(
                F.lit("Field_A"),
                F.concat(F.col("source"), F.lit(" "), F.col("lang")),
                F.lit("Field_B"),
                F.col("lang"),
            )
        ).alias("metadata"),
    )
    fp = build_field_postings(prepared)
    # PRECOMPUTED-NORMS path (r4): q49 goes through build-time
    # (doc, field, dl) norms like the engine's field_norms table;
    # q57 stays on the query-time aggregate so both branches are
    # hash-gated against the same oracle formulation
    out = dismax_search_fields(
        fp, "src13 en", {"field-a": 2.0, "field-b": 1.0}, k=10, tie=0.3,
        norms=build_field_norms(fp),
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


_DISMAX_DUCK = """
WITH fp0 AS (
  SELECT doc_id, 'field-a' AS field,
         unnest(list_filter(string_split_regex(lower(source || ' ' || lang),
             '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents
  UNION ALL
  SELECT doc_id, 'field-b' AS field,
         unnest(list_filter(string_split_regex(lower(lang),
             '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents
),
fp AS (SELECT doc_id, field, term, count(*) AS tf FROM fp0 GROUP BY 1, 2, 3),
dl AS (SELECT doc_id, field, sum(tf) AS dl FROM fp GROUP BY 1, 2),
st AS (SELECT field, CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
       FROM dl GROUP BY 1),
dft AS (SELECT field, term, CAST(count(*) AS DOUBLE) AS df FROM fp
        WHERE term IN ('src13', 'en') GROUP BY 1, 2),
sc AS (
  SELECT fp.doc_id, fp.term,
         (CASE WHEN fp.field = 'field-a' THEN 2.0 ELSE 1.0 END)
         * ln(1 + (st.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         * (fp.tf * 2.2)
           / (fp.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
  FROM fp
  JOIN dl ON fp.doc_id = dl.doc_id AND fp.field = dl.field
  JOIN st ON fp.field = st.field
  JOIN dft ON fp.field = dft.field AND fp.term = dft.term
),
dm AS (SELECT doc_id, term, max(s) + 0.3 * (sum(s) - max(s)) AS ds
       FROM sc GROUP BY 1, 2)
SELECT doc_id, ROUND(SUM(ds), 4) AS score FROM dm GROUP BY doc_id
ORDER BY ROUND(SUM(ds), 6) DESC, doc_id ASC LIMIT 10
"""


def _q_dismax_pf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edismax pf through the REAL operators: q49's dismax qf plus a
    phrase-field boost on field-a — docs whose field-a value contains
    'src13 en' as an adjacent phrase add a phrase-BM25 term (tf = count
    of phrase starts, idf = sum of the terms' field idfs — Lucene
    PhraseWeight; same per-field norms), DisjunctionMax over pf fields
    with the same tie, added to the main dismax score (SHOULD clause:
    non-matching docs keep their q49 scores exactly)."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.operators.fields import (
        build_field_norms,
        build_field_postings,
        dismax_search_fields,
    )
    from ckanext_extractor_spark.operators.normalize import (
        clean_metadata_keys,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prepared = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        clean_metadata_keys(
            F.create_map(
                F.lit("Field_A"),
                F.concat(F.col("source"), F.lit(" "), F.col("lang")),
                F.lit("Field_B"),
                F.col("lang"),
            )
        ).alias("metadata"),
    )
    fp = build_field_postings(prepared)
    values = prepared.select(
        "doc_id", F.explode(F.col("metadata")).alias("field", "value")
    )
    out = dismax_search_fields(
        fp, "src13 en", {"field-a": 2.0, "field-b": 1.0}, k=10, tie=0.3,
        norms=build_field_norms(fp), pf={"field-a": 1.5}, values=values,
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


_DISMAX_PF_DUCK = """
WITH fp0 AS (
  SELECT doc_id, 'field-a' AS field,
         unnest(list_filter(string_split_regex(lower(source || ' ' || lang),
             '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents
  UNION ALL
  SELECT doc_id, 'field-b' AS field,
         unnest(list_filter(string_split_regex(lower(lang),
             '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents
),
fp AS (SELECT doc_id, field, term, count(*) AS tf FROM fp0 GROUP BY 1, 2, 3),
dl AS (SELECT doc_id, field, sum(tf) AS dl FROM fp GROUP BY 1, 2),
st AS (SELECT field, CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
       FROM dl GROUP BY 1),
dft AS (SELECT field, term, CAST(count(*) AS DOUBLE) AS df FROM fp
        WHERE term IN ('src13', 'en') GROUP BY 1, 2),
sc AS (
  SELECT fp.doc_id, fp.term,
         (CASE WHEN fp.field = 'field-a' THEN 2.0 ELSE 1.0 END)
         * ln(1 + (st.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         * (fp.tf * 2.2)
           / (fp.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
  FROM fp
  JOIN dl ON fp.doc_id = dl.doc_id AND fp.field = dl.field
  JOIN st ON fp.field = st.field
  JOIN dft ON fp.field = dft.field AND fp.term = dft.term
),
dm AS (SELECT doc_id, term, max(s) + 0.3 * (sum(s) - max(s)) AS ds
       FROM sc GROUP BY 1, 2),
qagg AS (SELECT doc_id, SUM(ds) AS qscore FROM dm GROUP BY doc_id),
pv AS (SELECT doc_id, 'field-a' AS field,
         list_filter(string_split_regex(lower(source || ' ' || lang),
             '[^a-z0-9]+'), x -> x <> '') AS ta
       FROM documents),
ptf AS (SELECT doc_id, field,
          CASE WHEN len(ta) >= 2 THEN len(list_filter(
                 generate_series(1, len(ta) - 1),
                 i -> ta[i:i+1] = ['src13', 'en']))
               ELSE 0 END AS ptf
        FROM pv),
pidf AS (SELECT dft.field,
                SUM(ln(1 + (st.n_docs - dft.df + 0.5) / (dft.df + 0.5)))
                  AS pidf
         FROM dft JOIN st ON dft.field = st.field
         WHERE dft.field = 'field-a' GROUP BY dft.field),
psc AS (SELECT p.doc_id,
          1.5 * pidf.pidf * (p.ptf * 2.2)
            / (p.ptf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS ps
        FROM ptf p
        JOIN dl ON p.doc_id = dl.doc_id AND p.field = dl.field
        JOIN st ON p.field = st.field
        JOIN pidf ON p.field = pidf.field
        WHERE p.ptf > 0),
pagg AS (SELECT doc_id, max(ps) + 0.3 * (sum(ps) - max(ps)) AS pscore
         FROM psc GROUP BY doc_id)
SELECT q.doc_id, ROUND(q.qscore + COALESCE(pa.pscore, 0), 4) AS score
FROM qagg q LEFT JOIN pagg pa ON q.doc_id = pa.doc_id
ORDER BY ROUND(q.qscore + COALESCE(pa.pscore, 0), 6) DESC, q.doc_id ASC
LIMIT 10
"""

_PAIRS["q66_dismax_pf"] = ("", _DISMAX_PF_DUCK)


def _q_expr_field_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene classic-QueryParser FIELDED clause through the full
    engine: 'vector AND lang:de^2' — the field leaf matches docs whose
    extracted-metadata field contains the field-analyzed value
    (search_field semantics) and scores per-field BM25 (the dismax
    statistics) times its boost, summed with the body term's BM25 in
    one vectorized mask-algebra pass (operators/boolquery.py
    FieldTerm). Oracle: body BM25 + 2 x per-field BM25 over the
    lang-derived field postings."""
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Source_Name"), F.array(F.col("source")),
            F.lit("Lang"), F.array(F.col("lang")),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_exprfield_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("source-*", "lang"),
    )
    eng.extract(corpus, build_id="entry-exprfield")
    hits = eng.search_expr("vector AND lang:de^2", k=10**9)
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in hits), key=lambda x: (-x[1], x[0])
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_EXPR_FIELD_DUCK = f"""
{_bool_scored_cte()},
fl0 AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(lang),
      '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents),
flp AS (SELECT doc_id, term, count(*) AS tf FROM fl0 GROUP BY 1, 2),
fdl AS (SELECT doc_id, sum(tf) AS dl FROM flp GROUP BY 1),
fst AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
        FROM fdl),
fdf AS (SELECT CAST(count(*) AS DOUBLE) AS df FROM flp WHERE term = 'de'),
fsc AS (
  SELECT flp.doc_id,
         ln(1.0 + (fst.n_docs - fdf.df + 0.5) / (fdf.df + 0.5))
           * (flp.tf * ({BM25_K1} + 1.0))
           / (flp.tf + {BM25_K1}
              * (1.0 - {BM25_B} + {BM25_B} * fdl.dl / fst.avgdl)) AS fs
  FROM flp
  JOIN fdl ON flp.doc_id = fdl.doc_id
  CROSS JOIN fst CROSS JOIN fdf
  WHERE flp.term = 'de')
SELECT s.doc_id, ROUND(s.term_score + 2.0 * f.fs, 4) AS score
FROM scored s JOIN fsc f ON s.doc_id = f.doc_id
WHERE s.term = 'vector'
ORDER BY ROUND(s.term_score + 2.0 * f.fs, 6) DESC, s.doc_id ASC
LIMIT 10
"""

_PAIRS["q67_expr_field_clause"] = ("", _EXPR_FIELD_DUCK)


def _q_expr_multiterm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene MultiTermQuery + range clauses through the full engine:
    's* AND part~ AND lang:[de TO es]^2' — the wildcard and fuzzy
    leaves rewrite against the terms dictionary into scoring-boolean
    Expanded leaves (per-expansion idf; 'part~' = default maxEdits 2 ->
    {sort, part, spark, fast}), the range leaf compares the RAW
    metadata value lexicographically and scores constant 1.0 x boost
    (Lucene constant-score rewrite). A term matching BOTH expansions
    (sort/spark/fast) contributes to each leaf — BooleanQuery sums
    per-clause. Oracle: LIKE / thresholded-levenshtein CASE sums over
    the same BM25 CTE + a lang BETWEEN filter + the constant 2.0."""
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Lang"), F.array(F.col("lang")),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_exprmulti_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("lang",),
    )
    eng.extract(corpus, build_id="entry-exprmulti")
    hits = eng.search_expr("s* AND part~ AND lang:[de TO es]^2", k=10**9)
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in hits), key=lambda x: (-x[1], x[0])
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_EXPR_MULTITERM_DUCK = f"""
{_bool_scored_cte()},
agg AS (
  SELECT doc_id,
         sum(CASE WHEN term LIKE 's%' THEN term_score ELSE 0 END) AS s_wc,
         sum(CASE WHEN levenshtein(term, 'part') <= 2
                  THEN term_score ELSE 0 END) AS s_fz,
         max(CASE WHEN term LIKE 's%' THEN 1 ELSE 0 END) AS m_wc,
         max(CASE WHEN levenshtein(term, 'part') <= 2 THEN 1 ELSE 0 END)
           AS m_fz
  FROM scored GROUP BY doc_id)
SELECT a.doc_id, ROUND(a.s_wc + a.s_fz + 2.0, 4) AS score
FROM agg a JOIN documents d ON a.doc_id = d.doc_id
WHERE m_wc = 1 AND m_fz = 1 AND d.lang >= 'de' AND d.lang <= 'es'
ORDER BY ROUND(a.s_wc + a.s_fz + 2.0, 6) DESC, a.doc_id ASC LIMIT 10
"""

_PAIRS["q68_expr_multiterm"] = ("", _EXPR_MULTITERM_DUCK)


def _q_expr_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-scale boolean-expression evaluation through the full
    engine: search_expr_distributed('"vector stream"^2 OR (batch AND
    lang:[de TO es])') — ONE segments scan + decode kernel emits
    per-(doc, term) BM25 rows, ONE pivot aggregate makes per-token
    columns, the phrase leaf joins the distributed phrase pipeline's
    match DataFrame, the range leaf the fq-range EAV scan, and the AST
    compiles to a single Catalyst (match, score) expression — doc ids
    never reach the driver before the k-limit. Oracle: phrase adjacency
    join + CASE-gated clause sums + lang BETWEEN + the constant-score
    range boost."""
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Lang"), F.array(F.col("lang")),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_exprdist_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("lang",),
    )
    eng.extract(corpus, build_id="entry-exprdist")
    hits = eng.search_expr_distributed(
        '"vector stream"^2 OR (batch AND lang:[de TO es])', k=10**9
    )
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in hits), key=lambda x: (-x[1], x[0])
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_EXPR_DIST_DUCK = f"""
{_bool_scored_cte()},
t2 AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
ptok AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
         FROM t2),
ph AS (SELECT DISTINCT a.doc_id FROM ptok a
       JOIN ptok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       WHERE a.term = 'vector' AND b.term = 'stream'),
agg AS (
  SELECT doc_id,
         COALESCE(sum(CASE WHEN term IN ('vector', 'stream')
                           THEN term_score END), 0) AS s_ph,
         COALESCE(sum(CASE WHEN term = 'batch'
                           THEN term_score END), 0) AS s_b,
         max(CASE WHEN term = 'batch' THEN 1 ELSE 0 END) AS m_b
  FROM scored WHERE term IN ('vector', 'stream', 'batch')
  GROUP BY doc_id),
j AS (
  SELECT a.doc_id,
         (CASE WHEN ph.doc_id IS NOT NULL THEN 2.0 * s_ph ELSE 0 END)
           + (CASE WHEN m_b = 1 AND d.lang >= 'de' AND d.lang <= 'es'
                   THEN s_b + 1.0 ELSE 0 END) AS score,
         (CASE WHEN ph.doc_id IS NOT NULL THEN 1 ELSE 0 END)
           + (CASE WHEN m_b = 1 AND d.lang >= 'de' AND d.lang <= 'es'
                   THEN 1 ELSE 0 END) AS m
  FROM agg a LEFT JOIN ph ON a.doc_id = ph.doc_id
  JOIN documents d ON a.doc_id = d.doc_id)
SELECT doc_id, ROUND(score, 4) AS score FROM j WHERE m >= 1
ORDER BY ROUND(score, 6) DESC, doc_id ASC LIMIT 10
"""

_PAIRS["q69_expr_distributed"] = ("", _EXPR_DIST_DUCK)


def _eng_pmap(eng) -> dict[int, int]:
    """engine doc_id -> original documents.doc_id (via the stored path,
    the q35 pattern)."""
    return {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in eng.spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }


# one raw-score (unrounded) BM25 CTE chain over the simple tokenizer,
# matching the scored distributed head's conventions (pre-merge docFreq
# idf; avgdl over ALL docs incl. empty) — composable by the bq /
# collapse / elevation / join oracles below
_RAW_BM25_CTES = f"""
WITH tok AS ({DUCK_TOK}),
tfx AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(doc_len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM (SELECT d.doc_id, COALESCE(dl.doc_len, 0) AS doc_len
        FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id) x),
dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfx GROUP BY term),
sc AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
           * (tf.tf * {BM25_K1 + 1.0})
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
              + {BM25_B} * dl.doc_len / s.avgdl)) AS term_score
  FROM tfx tf
  JOIN dfx ON tf.term = dfx.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s)
"""


def _q_boost_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edismax bq (additive boost QUERY) through the REAL engine:
    score' = BM25('spark join') + 0.5 * BM25_or('stream') over the
    conjunctive main matches — the boost re-ranks but never admits a
    doc outside the main match set (Lucene SHOULD clause)."""
    eng = _docs_engine(spark, sf_dir)
    hits = eng.boost_query_search("spark join", "stream", k=10**9,
                                  weight=0.5)
    pmap = _eng_pmap(eng)
    ranked = sorted(
        ((pmap[d], s) for d, s in hits),
        key=lambda x: (-round(x[1], 6), x[0]),
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_BOOST_QUERY_DUCK = f"""
{_RAW_BM25_CTES},
main AS (SELECT doc_id, sum(term_score) AS s FROM sc
         WHERE term IN ('spark', 'join')
         GROUP BY doc_id HAVING count(*) = 2),
bq AS (SELECT doc_id, sum(term_score) AS s FROM sc
       WHERE term = 'stream' GROUP BY doc_id)
SELECT m.doc_id, ROUND(m.s + 0.5 * COALESCE(b.s, 0.0), 4) AS score
FROM main m LEFT JOIN bq b ON m.doc_id = b.doc_id
ORDER BY ROUND(m.s + 0.5 * COALESCE(b.s, 0.0), 6) DESC, m.doc_id ASC
LIMIT 10
"""

_PAIRS["q70_boost_query"] = ("", _BOOST_QUERY_DUCK)


def _q_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr {!collapse field=source-name} + expand through the REAL
    engine: one head per source (the group's best 'spark' match) ranked
    like a normal search, each head carrying its expansion. The entry
    requests the FULL groups (k, expand unbounded) and canonicalizes
    ranks on original doc ids, so engine-id tie order can't flip the
    hash; the within-group and across-group orderings themselves are
    pinned by tests/test_qparsers_r4.py."""
    eng = _docs_engine(spark, sf_dir)
    heads = eng.collapse_search("spark", "source-name", k=10**9,
                                expand=10**6)
    pmap = _eng_pmap(eng)
    groups = []
    for d, s, v, exp in heads:
        members = sorted(
            [(pmap[d], s)] + [(pmap[e], es) for e, es in exp],
            key=lambda x: (-round(x[1], 6), x[0]),
        )
        groups.append((v, members))
    groups.sort(key=lambda g: (-round(g[1][0][1], 6), g[1][0][0]))
    rows = []
    for v, members in groups[:10]:
        for rn, (d, s) in enumerate(members[:3], 1):
            rows.append((v, int(d), float(round(s, 4)), rn))
    return spark.createDataFrame(
        rows, "src string, doc_id long, score double, rn long"
    )


_COLLAPSE_DUCK = f"""
{_RAW_BM25_CTES},
m AS (SELECT doc_id, sum(term_score) AS score FROM sc
      WHERE term = 'spark' GROUP BY doc_id),
j AS (SELECT m.doc_id, m.score, d.source AS src
      FROM m JOIN documents d ON m.doc_id = d.doc_id),
r AS (SELECT src, doc_id, score,
             row_number() OVER (PARTITION BY src
               ORDER BY ROUND(score, 6) DESC, doc_id ASC) AS rn
      FROM j),
topg AS (SELECT src FROM r WHERE rn = 1
         ORDER BY ROUND(score, 6) DESC, doc_id ASC LIMIT 10)
SELECT r.src, r.doc_id, ROUND(r.score, 4) AS score,
       CAST(r.rn AS BIGINT) AS rn
FROM r JOIN topg ON r.src = topg.src
WHERE r.rn <= 3
"""

_PAIRS["q71_collapse"] = ("", _COLLAPSE_DUCK)


def _q_elevation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr QueryElevationComponent through the REAL engine: docs 7 and
    3 pinned (in that order) onto 'spark join', doc 5 excluded from the
    organic ranking; organic ranks canonicalized on original ids
    (boundary-safe: the engine returns ALL matches, the entry
    truncates)."""
    eng = _docs_engine(spark, sf_dir)
    pmap = _eng_pmap(eng)
    inv = {orig: e for e, orig in pmap.items()}
    hits = eng.search_elevated(
        "spark join", [inv[7], inv[3]], k=10**9, exclude_ids=[inv[5]],
    )
    pinned = [(r + 1, pmap[d], float(round(s, 4)))
              for r, (d, s) in enumerate(hits[:2])]
    tail = sorted(
        ((pmap[d], s) for d, s in hits[2:]),
        key=lambda x: (-round(x[1], 6), x[0]),
    )
    rows = pinned + [
        (i + 3, int(d), float(round(s, 4))) for i, (d, s) in enumerate(tail)
    ]
    return spark.createDataFrame(
        rows[:10], "rank long, doc_id long, score double"
    )


_ELEVATION_DUCK = f"""
{_RAW_BM25_CTES},
m AS (SELECT doc_id, sum(term_score) AS score FROM sc
      WHERE term IN ('spark', 'join')
      GROUP BY doc_id HAVING count(*) = 2),
pin AS (SELECT * FROM (VALUES (1, 7), (2, 3)) p(rank, doc_id)),
pinscore AS (SELECT p.rank, p.doc_id,
                    ROUND(COALESCE(m.score, 0.0), 4) AS score
             FROM pin p LEFT JOIN m ON p.doc_id = m.doc_id),
org AS (SELECT doc_id, score FROM m WHERE doc_id NOT IN (7, 3, 5)),
orgr AS (SELECT 2 + row_number() OVER (
           ORDER BY ROUND(score, 6) DESC, doc_id ASC) AS rank,
         doc_id, ROUND(score, 4) AS score FROM org)
SELECT CAST(rank AS BIGINT) AS rank, CAST(doc_id AS BIGINT) AS doc_id,
       score
FROM (SELECT * FROM pinscore UNION ALL SELECT * FROM orgr) u
ORDER BY rank ASC LIMIT 10
"""

_PAIRS["q72_elevation"] = ("", _ELEVATION_DUCK)


def _q_join_parser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr {!join from=source-name to=source-name} through the REAL
    engine: docs sharing a source with ANY 'dup' match (the one
    selective term in the corpus: df 25, 17 of 20 sources) — a
    constant-scoring cross-doc semi-join; first 30 ids ascending, which
    straddles excluded sources at both scales (first excluded id 6 /
    4)."""
    eng = _docs_engine(spark, sf_dir)
    hits = eng.join_search("dup", "source-name", "source-name", k=10**9)
    pmap = _eng_pmap(eng)
    ids = sorted(pmap[d] for d in hits)[:30]
    return spark.createDataFrame([(int(d),) for d in ids], "doc_id long")


_JOIN_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'dup'),
keys AS (SELECT DISTINCT d.source FROM m
         JOIN documents d ON m.doc_id = d.doc_id)
SELECT DISTINCT d2.doc_id FROM documents d2
JOIN keys k ON d2.source = k.source
ORDER BY d2.doc_id ASC LIMIT 30
"""

_PAIRS["q73_join_parser"] = ("", _JOIN_DUCK)


def _q_term_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr TermVectorComponent / Lucene Terms.termVectors through the
    REAL engine: doc 11's full term vector — term, tf, and every decoded
    index position (gap+varbyte payload round-trip), exploded to one row
    per position for robust cross-engine hashing."""
    eng = _docs_engine(spark, sf_dir)
    pmap = _eng_pmap(eng)
    inv = {orig: e for e, orig in pmap.items()}
    tv = eng.term_vectors(inv[11])
    rows = [
        (term, int(tf), int(p)) for term, tf, pos in tv for p in pos
    ]
    return spark.createDataFrame(rows, "term string, tf long, pos long")


_TERM_VECTORS_DUCK = """
WITH t AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
              x -> x <> '') AS toks
  FROM documents WHERE doc_id = 11),
tok AS (SELECT unnest(toks) AS term,
               generate_subscripts(toks, 1) - 1 AS pos FROM t)
SELECT term, CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS tf,
       CAST(pos AS BIGINT) AS pos
FROM tok
"""

_PAIRS["q74_term_vectors"] = ("", _TERM_VECTORS_DUCK)


def _q_update_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic metadata updates (Solr atomic update set / null=remove)
    through the REAL engine: docs 0-4 get lang rewritten ('zz-' prefix),
    docs 3-7 lose n-chars — sidecar-only rewrites, no re-extract — then
    the first 10 docs' metadata EAV rows are read back. Fresh engine
    (never the cached one: the update mutates state)."""
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Lang"), F.array(F.col("lang")),
            F.lit("N_Chars"), F.array(F.col("n_chars").cast("string")),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_upd_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("lang", "n-chars"),
    )
    eng.extract(corpus, build_id="entry-upd")
    pmap = _eng_pmap(eng)
    inv = {orig: e for e, orig in pmap.items()}
    langs = {
        int(r["doc_id"]): r["lang"]
        for r in docs.where(F.col("doc_id") <= 4)
        .select("doc_id", "lang").collect()
    }
    changes: dict[int, dict] = {}
    for orig in range(8):
        c: dict = {}
        if orig <= 4:
            c["Lang"] = "zz-" + langs[orig]
        if 3 <= orig <= 7:
            c["N_Chars"] = None
        changes[inv[orig]] = c
    eng.update_metadata(changes)
    ds = spark.read.parquet(eng._p("doc_stats"))
    rows = []
    for r in ds.select(
        "doc_id", F.explode(F.col("metadata")).alias("field", "value")
    ).collect():
        orig = pmap[int(r["doc_id"])]
        if orig < 10:
            rows.append((orig, r["field"], r["value"]))
    rows.sort()
    return spark.createDataFrame(
        rows, "doc_id long, field string, value string"
    )


_UPDATE_META_DUCK = """
WITH base AS (SELECT doc_id, lang, CAST(n_chars AS VARCHAR) AS nc
              FROM documents WHERE doc_id < 10),
eav AS (
  SELECT doc_id, 'lang' AS field,
         CASE WHEN doc_id <= 4 THEN 'zz-' || lang ELSE lang END AS value
  FROM base
  UNION ALL
  SELECT doc_id, 'n-chars' AS field, nc AS value FROM base
  WHERE doc_id NOT BETWEEN 3 AND 7
)
SELECT doc_id, field, value FROM eav ORDER BY doc_id, field
"""

_PAIRS["q75_update_metadata"] = ("", _UPDATE_META_DUCK)


def _q_interval_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr facet.interval through the REAL engine: per-interval doc
    counts of 'spark' matchers' numeric n-chars metadata, overlapping
    intervals and mixed bracket bounds included (the capability range
    facets can't express)."""
    eng = _docs_engine(spark, sf_dir)
    out = eng.interval_facets(
        "spark", "n-chars",
        ["[0,100)", "[100,300]", "(300,*]", "[*,*]", "(50,150]"],
    )
    return spark.createDataFrame(
        [(s, int(c)) for s, c in out], "iv string, cnt long"
    )


_INTERVAL_FACETS_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
v AS (SELECT m.doc_id, CAST(d.n_chars AS DOUBLE) AS x
      FROM m JOIN documents d ON m.doc_id = d.doc_id)
SELECT iv, cnt FROM (
  SELECT '[0,100)' AS iv,
         CAST(count(DISTINCT doc_id) FILTER (x >= 0 AND x < 100)
              AS BIGINT) AS cnt, 1 AS ord FROM v
  UNION ALL
  SELECT '[100,300]',
         CAST(count(DISTINCT doc_id) FILTER (x >= 100 AND x <= 300)
              AS BIGINT), 2 FROM v
  UNION ALL
  SELECT '(300,*]',
         CAST(count(DISTINCT doc_id) FILTER (x > 300) AS BIGINT), 3
  FROM v
  UNION ALL
  SELECT '[*,*]', CAST(count(DISTINCT doc_id) AS BIGINT), 4 FROM v
  UNION ALL
  SELECT '(50,150]',
         CAST(count(DISTINCT doc_id) FILTER (x > 50 AND x <= 150)
              AS BIGINT), 5 FROM v
) u ORDER BY ord
"""

_PAIRS["q76_interval_facets"] = ("", _INTERVAL_FACETS_DUCK)


def _q_dismax_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edismax qf INCLUDING the main content index (q77): qf =
    {_text_: 1, tag: 2, lang: 3}, tie 0.3, over 'spark en' — 'spark'
    lives in the body AND the tag field (first body word), so the
    DisjunctionMax + tie actually bites; 'en' matches only the lang
    field. Fresh engine with a Tag sidecar derived from the text."""
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Tag"), F.array(F.split(F.col("text"), " ").getItem(0)),
            F.lit("Lang"), F.array(F.col("lang")),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_dmb_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("tag", "lang"),
    )
    eng.extract(corpus, build_id="entry-dmb")
    hits = eng.dismax_search(
        "spark en", {"_text_": 1.0, "tag": 2.0, "lang": 3.0},
        k=10**9, tie=0.3,
    )
    pmap = _eng_pmap(eng)
    ranked = sorted(
        ((pmap[d], s) for d, s in hits),
        key=lambda x: (-round(x[1], 6), x[0]),
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_DISMAX_BODY_DUCK = f"""
{_RAW_BM25_CTES},
body AS (SELECT doc_id, term AS clause, term_score AS s FROM sc
         WHERE term IN ('spark', 'en')),
n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
tagv AS (SELECT doc_id, split_part(text, ' ', 1) AS v FROM documents),
tagdf AS (SELECT v, CAST(count(*) AS DOUBLE) AS df FROM tagv GROUP BY v),
tag AS (SELECT t.doc_id, t.v AS clause,
               2.0 * ln(1.0 + (n.nd - d.df + 0.5) / (d.df + 0.5)) AS s
        FROM tagv t JOIN tagdf d ON t.v = d.v CROSS JOIN n
        WHERE t.v IN ('spark', 'en')),
langdf AS (SELECT lang, CAST(count(*) AS DOUBLE) AS df FROM documents
           GROUP BY lang),
lg AS (SELECT d2.doc_id, d2.lang AS clause,
              3.0 * ln(1.0 + (n.nd - ld.df + 0.5) / (ld.df + 0.5)) AS s
       FROM documents d2 JOIN langdf ld ON d2.lang = ld.lang CROSS JOIN n
       WHERE d2.lang IN ('spark', 'en')),
u AS (SELECT * FROM body UNION ALL SELECT * FROM tag
      UNION ALL SELECT * FROM lg),
pc AS (SELECT doc_id, clause,
              max(s) + 0.3 * (sum(s) - max(s)) AS ds
       FROM u GROUP BY doc_id, clause),
agg AS (SELECT doc_id, sum(ds) AS score FROM pc GROUP BY doc_id)
SELECT doc_id, ROUND(score, 4) AS score FROM agg
ORDER BY ROUND(score, 6) DESC, doc_id ASC LIMIT 10
"""

_PAIRS["q77_dismax_body"] = ("", _DISMAX_BODY_DUCK)


def _q_field_stats_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr stats.facet through the REAL engine: n-chars stats per lang
    bucket over the 'spark' matches — count/missing, lexicographic
    min/max (dynamic fields are strings), numeric sum/mean."""
    eng = _docs_engine(spark, sf_dir)
    out = eng.field_stats_by("spark", "n-chars", "lang", k=10)
    rows = [
        (v, int(st["count"]), int(st["missing"]), st["min"], st["max"],
         float(round(st["sum"], 4)), float(round(st["mean"], 4)))
        for v, st in out
    ]
    return spark.createDataFrame(
        rows,
        "val string, cnt long, miss long, mn string, mx string, "
        "sm double, mean double",
    )


_FIELD_STATS_BY_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
j AS (SELECT d.lang AS val, CAST(d.n_chars AS VARCHAR) AS sv,
             CAST(d.n_chars AS DOUBLE) AS nv, d.doc_id
      FROM m JOIN documents d ON m.doc_id = d.doc_id)
SELECT val, CAST(count(sv) AS BIGINT) AS cnt, CAST(0 AS BIGINT) AS miss,
       min(sv) AS mn, max(sv) AS mx,
       ROUND(sum(nv), 4) AS sm,
       ROUND(avg(nv), 4) AS mean
FROM j GROUP BY val
ORDER BY count(DISTINCT doc_id) DESC, val ASC LIMIT 10
"""

_PAIRS["q78_field_stats_by"] = ("", _FIELD_STATS_BY_DUCK)


def _q_match_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The /export-analog match DataFrame (pipeline composition surface):
    the FULL 'spark join' conjunctive match set with scores, cluster-side
    until this entry's collect — must equal the unlimited BM25 oracle."""
    eng = _docs_engine(spark, sf_dir)
    df = eng.match_frame("spark join")
    pmap = _eng_pmap(eng)
    rows = sorted(
        (pmap[int(r["doc_id"])], float(round(r["score"], 4)))
        for r in df.collect()
    )
    return spark.createDataFrame(rows, "doc_id long, score double")


_MATCH_FRAME_DUCK = f"""
{_RAW_BM25_CTES}
SELECT doc_id, ROUND(sum(term_score), 4) AS score FROM sc
WHERE term IN ('spark', 'join')
GROUP BY doc_id HAVING count(*) = 2
ORDER BY doc_id ASC
"""

_PAIRS["q79_match_frame"] = ("", _MATCH_FRAME_DUCK)


def _q_facet_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr facet options through the REAL engine: facet.prefix 'src1'
    + facet.mincount 2 + facet.sort=index over the 'spark' matches'
    source-name field, facet.missing on both that field (0 — every doc
    carries a source) and a nonexistent field (= the whole match set).
    None (the missing bucket) rides as the '_MISSING_' sentinel so the
    response stays one hash-gated relation."""
    eng = _docs_engine(spark, sf_dir)
    out = eng.facets(
        "spark", ["source-name", "no-such-field"], k_facet=6,
        prefix="src1", mincount=2, missing=True, sort="index",
    )
    rows = []
    for fld in ("source-name", "no-such-field"):
        for v, c in out[fld]:
            rows.append((fld, "_MISSING_" if v is None else v, int(c)))
    return spark.createDataFrame(
        rows, "field string, value string, cnt long"
    )


_FACET_OPTIONS_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
c AS (SELECT 'source-name' AS field, d.source AS value,
             CAST(count(*) AS BIGINT) AS cnt
      FROM documents d JOIN m USING (doc_id)
      WHERE d.source LIKE 'src1%'
      GROUP BY 2 HAVING count(*) >= 2
      ORDER BY value ASC LIMIT 6)
SELECT field, value, cnt FROM c
UNION ALL
SELECT 'source-name', '_MISSING_', CAST(0 AS BIGINT)
UNION ALL
SELECT 'no-such-field', '_MISSING_',
       (SELECT CAST(count(*) AS BIGINT) FROM m)
"""

_PAIRS["q80_facet_options"] = ("", _FACET_OPTIONS_DUCK)


def _q_stats_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StatsComponent percentiles + stddev through the REAL engine:
    exact linearly-interpolated quantiles (Spark `percentile` ==
    DuckDB `quantile_cont`, both R-7) and the sample stddev of the
    numeric n-chars field over the conjunctive 'spark join' matches."""
    eng = _docs_engine(spark, sf_dir)
    st = eng.field_stats(
        "spark join", "n-chars", percentiles=[0.25, 0.5, 0.9]
    )
    pc = st["percentiles"]
    return spark.createDataFrame(
        [(
            int(st["count"]), int(st["missing"]),
            float(round(st["mean"], 4)), float(round(st["stddev"], 4)),
            float(round(pc[0.25], 4)), float(round(pc[0.5], 4)),
            float(round(pc[0.9], 4)),
        )],
        "cnt long, miss long, mean double, sd double, "
        "p25 double, p50 double, p90 double",
    )


_STATS_PCT_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
m AS (SELECT doc_id FROM tok WHERE term IN ('spark', 'join')
      GROUP BY doc_id HAVING count(DISTINCT term) = 2),
v AS (SELECT CAST(d.n_chars AS DOUBLE) AS nv
      FROM documents d JOIN m USING (doc_id))
SELECT CAST(count(*) AS BIGINT) AS cnt, CAST(0 AS BIGINT) AS miss,
       ROUND(avg(nv), 4) AS mean, ROUND(stddev_samp(nv), 4) AS sd,
       ROUND(quantile_cont(nv, 0.25), 4) AS p25,
       ROUND(quantile_cont(nv, 0.5), 4) AS p50,
       ROUND(quantile_cont(nv, 0.9), 4) AS p90
FROM v
"""

_PAIRS["q81_stats_percentiles"] = ("", _STATS_PCT_DUCK)


def _q_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES significant_terms (JLH) through the REAL engine: terms
    overrepresented in the 'spark' match set vs the corpus — fg df is a
    tombstone-filtered distinct-doc count, bg df segment n_postings
    (fresh index: == live df, so the DuckDB oracle is exact), score
    (fgPct - bgPct) * (fgPct / bgPct), positive-only, min_fg 2."""
    eng = _docs_engine(spark, sf_dir)
    rows = eng.significant_terms("spark", k=12, min_fg=2)
    return spark.createDataFrame(
        [(t, int(fg), int(bg), float(round(s, 6))) for t, fg, bg, s in rows],
        "term string, fg long, bg long, score double",
    )


_SIGTERMS_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
tdoc AS (SELECT DISTINCT doc_id, term FROM tok),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
nm AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM m),
nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
fg AS (SELECT term, CAST(count(*) AS BIGINT) AS fg
       FROM tdoc JOIN m USING (doc_id) GROUP BY term
       HAVING count(*) >= 2),
bg AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tdoc GROUP BY term),
s AS (SELECT fg.term, fg.fg, bg.df AS bg,
             ((CAST(fg.fg AS DOUBLE) / nm.n)
              - (CAST(bg.df AS DOUBLE) / nd.n))
             * ((CAST(fg.fg AS DOUBLE) / nm.n)
                / (CAST(bg.df AS DOUBLE) / nd.n)) AS score
      FROM fg JOIN bg USING (term), nm, nd)
SELECT term, fg, bg, ROUND(score, 6) AS score FROM s
WHERE score > 0
ORDER BY score DESC, term ASC LIMIT 12
"""

_PAIRS["q82_significant_terms"] = ("", _SIGTERMS_DUCK)


_PAIRS["q45_bool_expr"] = ("", _BOOL_EXPR_DUCK)
_PAIRS["q46_bool_boost"] = ("", _BOOL_BOOST_DUCK)
_PAIRS["q47_bool_phrase"] = ("", _BOOL_PHRASE_DUCK)
_PAIRS["q48_sorted_search"] = ("", _SORTED_DUCK)
_PAIRS["q49_dismax_qf"] = ("", _DISMAX_DUCK)


def _q_mlt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene MoreLikeThis through the REAL engine: store_content index,
    seed = original doc 7, term selection tf * (1 + ln(N/(df+1)))
    (ClassicSimilarity idf, df from segment n_postings metadata, ties
    term-asc, top 25 with df >= 2), disjunctive BM25 over the selected
    terms, seed dropped. Engine doc ids map back via the stored path;
    ties re-broken on original ids for the oracle (q35 pattern)."""
    import tempfile

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine
    from ckanext_extractor_spark.sources.corpus_source import (
        documents_as_corpus,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_mlt_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, store_content=True,
    )
    eng.extract(corpus, build_id="entry-mlt")
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    seed = next(e for e, o in pmap.items() if o == 7)
    hits = eng.more_like_this(seed, k=10**9)
    ranked = sorted(
        ((pmap[d], s) for d, s in hits), key=lambda x: (-x[1], x[0])
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_MLT_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
tfx AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(doc_len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM (SELECT d.doc_id, COALESCE(dl.doc_len, 0) AS doc_len
        FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id) x),
dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfx GROUP BY term),
sel AS (
  SELECT t.term
  FROM tfx t JOIN dfx ON t.term = dfx.term CROSS JOIN stats s
  WHERE t.doc_id = 7 AND t.tf >= 1 AND dfx.df >= 2
  ORDER BY t.tf * (1.0 + ln(s.n_docs / (dfx.df + 1.0))) DESC, t.term ASC
  LIMIT 25),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.doc_len / s.avgdl))
           AS term_score
  FROM tfx tf
  JOIN dfx ON tf.term = dfx.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  WHERE tf.term IN (SELECT term FROM sel) AND tf.doc_id <> 7)
SELECT doc_id, ROUND(sum(term_score), 4) AS score FROM scored
GROUP BY doc_id
ORDER BY ROUND(sum(term_score), 6) DESC, doc_id ASC LIMIT 10
"""


_PAIRS["q50_more_like_this"] = ("", _MLT_DUCK)


def _q_grouped_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr result grouping (group.field) through the REAL engine:
    metadata-carrying index, grouped_search('spark join', 'source-name')
    — k=None match kernel (scores) ⋈ metadata EAV, group ranking by best
    doc score with value-asc ties. Output is group-level (value, best,
    n) — no engine-doc-id dependence, so ties are exact both sides."""
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Source_Name"), F.array(F.col("source")),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_group_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("source-*",),
    )
    eng.extract(corpus, build_id="entry-group")
    groups = eng.grouped_search("spark join", "source-name", k=10)
    return spark.createDataFrame(
        [(v, float(round(best, 4)), int(n)) for v, best, n, _ in groups],
        "value string, best double, n long",
    )


_GROUPED_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
tfx AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(doc_len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM (SELECT d.doc_id, COALESCE(dl.doc_len, 0) AS doc_len
        FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id) x),
dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfx GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.doc_len / s.avgdl))
           AS term_score
  FROM tfx tf
  JOIN dfx ON tf.term = dfx.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  WHERE tf.term IN ('spark', 'join')),
m AS (SELECT doc_id, sum(term_score) AS score FROM scored
      GROUP BY doc_id HAVING count(*) = 2)
SELECT d.source AS value, ROUND(max(m.score), 4) AS best,
       count(*) AS n
FROM m JOIN documents d ON m.doc_id = d.doc_id
GROUP BY d.source
ORDER BY ROUND(max(m.score), 6) DESC, value ASC LIMIT 10
"""


_PAIRS["q51_grouped_search"] = ("", _GROUPED_DUCK)


def _q_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr spellcheck through the REAL engine: suggest('datt') — fuzzy
    dictionary expansion (edit <= 2) ranked (distance asc, df desc,
    term asc), df from segment n_postings metadata. 'datt' is absent
    from the corpus and has both a distance-1 and distance-2 candidates,
    so the two-level ranking is exercised."""
    import tempfile

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine
    from ckanext_extractor_spark.sources.corpus_source import (
        documents_as_corpus,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_suggest_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG,
    )
    eng.extract(corpus, build_id="entry-suggest")
    sugg = eng.suggest("datt", max_suggestions=5)["datt"]
    return spark.createDataFrame(
        [(t, int(df)) for t, df in sugg], "term string, df long"
    )


_SUGGEST_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
d AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term)
SELECT term, CAST(df AS BIGINT) AS df FROM d
WHERE levenshtein(term, 'datt') <= 2
ORDER BY levenshtein(term, 'datt') ASC, df DESC, term ASC LIMIT 5
"""


_PAIRS["q52_spellcheck_suggest"] = ("", _SUGGEST_DUCK)


def _q_fq_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr range filter query through the REAL engine (q44's corpus,
    fq value in range syntax): search('spark join',
    fq={'source-name': '[src10 TO src19]'}) — lexicographic comparison
    on the RAW collapsed metadata value (the reference's dynamic fields
    are Solr strings, schema.xml:161); restrict-never-rescore like any
    filter clause."""
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Source_Name"), F.array(F.col("source")),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_fqrange_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("source-*",),
    )
    eng.extract(corpus, build_id="entry-fqrange")
    hits = eng.search("spark join", k=10**9, conjunctive=True,
                      fq={"source-name": "[src10 TO src19]"})
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in hits), key=lambda x: (-x[1], x[0])
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


def _q_field_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr StatsComponent through the REAL engine: a numeric-valued
    string metadata field (size-bytes = length(text)), stats over the
    conjunctive 'spark join' matches — count/missing, lexicographic
    min/max on the raw string values (Solr string field), numeric
    sum/mean via try_cast."""
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Size_Bytes"),
            F.array(F.length("text").cast("string")),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_stats_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("size-*",),
    )
    eng.extract(corpus, build_id="entry-stats")
    st = eng.field_stats("spark join", "size-bytes")
    return spark.createDataFrame(
        [(int(st["count"]), int(st["missing"]), st["min"], st["max"],
          float(round(st["sum"], 4)), float(round(st["mean"], 4)))],
        "cnt long, missing long, min_v string, max_v string, "
        "sum_v double, mean_v double",
    )


_FIELD_STATS_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
m AS (SELECT doc_id FROM tok WHERE term IN ('spark', 'join')
      GROUP BY doc_id HAVING count(DISTINCT term) = 2),
v AS (SELECT m.doc_id, CAST(length(d.text) AS VARCHAR) AS val
      FROM m JOIN documents d ON m.doc_id = d.doc_id)
SELECT CAST(count(*) AS BIGINT) AS cnt,
       CAST((SELECT count(*) FROM m) - count(*) AS BIGINT) AS missing,
       min(val) AS min_v, max(val) AS max_v,
       ROUND(SUM(CAST(val AS DOUBLE)), 4) AS sum_v,
       ROUND(AVG(CAST(val AS DOUBLE)), 4) AS mean_v
FROM v
"""


_PAIRS["q54_field_stats"] = ("", _FIELD_STATS_DUCK)


def _q_pivot_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr facet.pivot through the REAL engine: nested
    source-name x lang counts over the conjunctive 'spark join' matches,
    each level ranked count desc / value asc and pruned to 5; the tree
    is flattened to (v0, n0, v1, n1) rows for the oracle."""
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Source_Name"), F.array(F.col("source")),
            F.lit("Lang"), F.array(F.col("lang")),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_pivot_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("source-*", "lang"),
    )
    eng.extract(corpus, build_id="entry-pivot")
    tree = eng.pivot_facets("spark join", ["source-name", "lang"],
                            k_per_level=5)
    rows = [
        (v0, int(n0), v1, int(n1))
        for v0, n0, kids in tree
        for v1, n1, _ in kids
    ]
    return spark.createDataFrame(
        rows, "v0 string, n0 long, v1 string, n1 long"
    )


_PIVOT_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
m AS (SELECT doc_id FROM tok WHERE term IN ('spark', 'join')
      GROUP BY doc_id HAVING count(DISTINCT term) = 2),
j AS (SELECT m.doc_id, d.source AS v0, d.lang AS v1
      FROM m JOIN documents d ON m.doc_id = d.doc_id),
c1 AS (SELECT v0, count(*) AS n0 FROM j GROUP BY v0),
p1 AS (SELECT v0, n0 FROM c1
       QUALIFY row_number() OVER (ORDER BY n0 DESC, v0 ASC) <= 5),
c2 AS (SELECT v0, v1, count(*) AS n1 FROM j GROUP BY v0, v1)
SELECT p1.v0, CAST(p1.n0 AS BIGINT) AS n0, c2.v1,
       CAST(c2.n1 AS BIGINT) AS n1
FROM c2 JOIN p1 ON c2.v0 = p1.v0
QUALIFY row_number() OVER (PARTITION BY c2.v0
                           ORDER BY c2.n1 DESC, c2.v1 ASC) <= 5
"""


_PAIRS["q55_pivot_facets"] = ("", _PIVOT_DUCK)


def _q_boosted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edismax bf (additive function-query boost) through the REAL
    engine: score' = BM25 + 0.01 * numeric(size-bytes metadata) over the
    conjunctive 'spark join' matches — the weight keeps BM25 and the
    boost the same order of magnitude so the re-ranking is exercised.
    Engine ids map back via the stored path (q35 pattern)."""
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Size_Bytes"),
            F.array(F.length("text").cast("string")),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_bf_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("size-*",),
    )
    eng.extract(corpus, build_id="entry-bf")
    hits = eng.boosted_search("spark join", "size-bytes", k=10**9,
                              weight=0.01)
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in hits), key=lambda x: (-x[1], x[0])
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_BOOSTED_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
tfx AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(doc_len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM (SELECT d.doc_id, COALESCE(dl.doc_len, 0) AS doc_len
        FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id) x),
dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfx GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.doc_len / s.avgdl))
           AS term_score
  FROM tfx tf
  JOIN dfx ON tf.term = dfx.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  WHERE tf.term IN ('spark', 'join')),
m AS (SELECT doc_id, sum(term_score) AS score FROM scored
      GROUP BY doc_id HAVING count(*) = 2)
SELECT m.doc_id,
       ROUND(m.score + 0.01 * length(d.text), 4) AS score
FROM m JOIN documents d ON m.doc_id = d.doc_id
ORDER BY ROUND(m.score + 0.01 * length(d.text), 6) DESC, m.doc_id ASC
LIMIT 10
"""


_PAIRS["q56_boosted_search"] = ("", _BOOSTED_DUCK)


def _q_dismax_mm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q49's dismax with min_match=2 (edismax mm over dismax clauses):
    docs matching only one of the two query terms drop out; survivors
    keep their exact dismax scores (filter, never a rescore)."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.operators.fields import (
        build_field_postings,
        dismax_search_fields,
    )
    from ckanext_extractor_spark.operators.normalize import (
        clean_metadata_keys,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prepared = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        clean_metadata_keys(
            F.create_map(
                F.lit("Field_A"),
                F.concat(F.col("source"), F.lit(" "), F.col("lang")),
                F.lit("Field_B"),
                F.col("lang"),
            )
        ).alias("metadata"),
    )
    fp = build_field_postings(prepared)
    out = dismax_search_fields(
        fp, "src13 en", {"field-a": 2.0, "field-b": 1.0}, k=10, tie=0.3,
        min_match=2,
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


_DISMAX_MM_DUCK = _DISMAX_DUCK.replace(
    "SELECT doc_id, ROUND(SUM(ds), 4) AS score FROM dm GROUP BY doc_id",
    "SELECT doc_id, ROUND(SUM(ds), 4) AS score FROM dm GROUP BY doc_id "
    "HAVING count(*) >= 2",
)

_PAIRS["q57_dismax_mm"] = ("", _DISMAX_MM_DUCK)

_PAIRS["q53_fq_range"] = (
    "",
    _strip_n_matched(
        _bm25_sql(
            DUCK_TOK, ["spark", "join"], True, 10,
            fq_where=(
                "doc_id IN (SELECT doc_id FROM documents "
                "WHERE source >= 'src10' AND source <= 'src19')"
            ),
        )
    ),
)

_PAIRS["q44_filter_query"] = (
    "",
    _strip_n_matched(
        _bm25_sql(
            DUCK_TOK, ["spark", "join"], True, 10,
            fq_where=(
                "doc_id IN (SELECT doc_id FROM documents "
                "WHERE source = 'src3')"
            ),
        )
    ),
)

def _q_distributed_exclude_fq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full query-surface parity for the CLUSTER-SCALE path (VERDICT r3
    #2): exclude (Lucene MUST_NOT) and fq (FILTER) through
    engine.search_distributed — bucket-pruned segment scan -> decode +
    score kernel (mapInPandas) -> per-doc aggregate -> anti-join of the
    excluded terms' match set + semi-join of the metadata filter set ->
    global TakeOrdered. Doc ids never reach the driver before the
    limit. Oracle: the q44 fq SQL with q37's NOT-IN exclusion added."""
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Source_Name"), F.array(F.col("source")),
            F.lit("Lang"), F.array(F.col("lang")),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_dxfq_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("source-*", "lang"),
    )
    eng.extract(corpus, build_id="entry-dxfq")
    hits = eng.search_distributed(
        "spark join", k=10**9, conjunctive=True,
        exclude="stream", fq={"source-name": "src3"},
    )
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in hits), key=lambda x: (-x[1], x[0])
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_PAIRS["q58_distributed_exclude_fq"] = (
    "",
    _strip_n_matched(
        _bm25_sql(
            DUCK_TOK, ["spark", "join"], True, 10,
            exclude_terms=["stream"],
            fq_where=(
                "doc_id IN (SELECT doc_id FROM documents "
                "WHERE source = 'src3')"
            ),
        )
    ),
)


def _q_distributed_min_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr mm on the cluster-scale path: disjunctive
    search_distributed keeps only docs matching >= 2 of 3 query terms —
    the n_matched gate runs inside the per-doc aggregate, before the
    global TakeOrdered (same oracle shape as q39, which pins the warm
    exact kernel)."""
    import tempfile

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine
    from ckanext_extractor_spark.sources.corpus_source import (
        documents_as_corpus,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_dmm_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG,
    )
    eng.extract(corpus, build_id="entry-dmm")
    hits = eng.search_distributed(
        "vector stream batch", k=10**9, conjunctive=False, min_match=2,
    )
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in hits), key=lambda x: (-x[1], x[0])
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_PAIRS["q59_distributed_min_match"] = (
    "",
    _strip_n_matched(
        _bm25_sql(DUCK_TOK, ["vector", "stream", "batch"], False, 10,
                  min_match=2)
    ),
)


def _q_search_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cursor deep paging (Lucene searchAfter / Solr cursorMark) on the
    cluster-scale path: page 1 (k=5) hands its last (doc_id, score) hit to
    page 2, whose filter runs BELOW the TakeOrdered — page depth never
    grows the materialized window (vs search(start=n)'s start+k). The
    oracle is the same BM25 ranking with OFFSET 5: cursor paging must
    produce exactly the offset window, without the offset cost."""
    import tempfile

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine
    from ckanext_extractor_spark.sources.corpus_source import (
        documents_as_corpus,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_cursor_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG,
    )
    eng.extract(corpus, build_id="entry-cursor")
    page1 = eng.search_after("spark join", k=5, distributed=True)
    page2 = eng.search_after(
        "spark join", k=5, after=page1[-1], distributed=True,
    )
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in page2), key=lambda x: (-x[1], x[0])
    )
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_SEARCH_AFTER_DUCK = _strip_n_matched(
    _bm25_sql(DUCK_TOK, ["spark", "join"], True, 5)
).replace("LIMIT 5", "LIMIT 5 OFFSET 5")

_PAIRS["q65_search_after"] = ("", _SEARCH_AFTER_DUCK)


def _q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr multi-field sort (sort=f1 asc, f2 desc) through the REAL
    engine: search_sorted_multi over the 'spark' matches orders by
    (lang asc, n-chars desc) — one conditional-aggregate pivot turns the
    EAV rows into a wide row, one TakeOrdered materializes the window.
    Values are Solr-string fields, so n-chars DESC is lexicographic
    (pinned, same as search_sorted). k=all + driver re-sort with
    ORIGINAL ids makes value-ties deterministic for the oracle (q48
    pattern)."""
    eng = _docs_engine(spark, sf_dir)
    hits = eng.search_sorted_multi(
        "spark", [("lang", True), ("n-chars", False)], k=10**9
    )
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    rows = [(pmap[d], vs[0], vs[1]) for d, vs in hits]
    rows.sort(key=lambda x: x[0])
    rows.sort(key=lambda x: x[2], reverse=True)
    rows.sort(key=lambda x: x[1])
    return spark.createDataFrame(
        [(int(d), str(a), str(b)) for d, a, b in rows[:10]],
        "doc_id long, lang string, nchars string",
    )


_SORT_MULTI_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark')
SELECT d.doc_id, d.lang AS lang, CAST(d.n_chars AS VARCHAR) AS nchars
FROM documents d JOIN m USING (doc_id)
ORDER BY lang ASC, nchars DESC, d.doc_id ASC LIMIT 10
"""

_PAIRS["q83_sort_multi"] = ("", _SORT_MULTI_DUCK)


def _q_sort_score_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr sort=score desc, f asc through the REAL engine: the 'score'
    pseudo-field in search_sorted_multi ships the scored distributed
    head's real BM25 sum (idf from segment n_postings metadata — fresh
    index, so == live df and the plain BM25 SQL oracle), tie-broken by
    the lang metadata value. k=all + driver re-sort with ORIGINAL ids
    and rounded score keys (q83/q48 pattern)."""
    eng = _docs_engine(spark, sf_dir)
    hits = eng.search_sorted_multi(
        "spark", [("score", False), ("lang", True)], k=10**9
    )
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    rows = sorted(
        ((pmap[d], float(vs[0]), str(vs[1])) for d, vs in hits),
        key=lambda x: (-round(x[1], 6), x[2], x[0]),
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4)), lg) for d, s, lg in rows],
        "doc_id long, score double, lang string",
    )


_SORT_SCORE_FIELD_DUCK = f"""
WITH b AS (
  SELECT doc_id, score
  FROM ({_bm25_sql(DUCK_TOK, ["spark"], True, None).replace(
      "ROUND(score, 4) AS score", "score AS score")}) f
)
SELECT b.doc_id, ROUND(b.score, 4) AS score, d.lang AS lang
FROM b JOIN documents d USING (doc_id)
ORDER BY ROUND(b.score, 6) DESC, lang ASC, b.doc_id ASC LIMIT 10
"""

_PAIRS["q87_sort_score_field"] = ("", _SORT_SCORE_FIELD_DUCK)


def _q_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ReRankQParser through the REAL engine: rerank_search rescores
    only the first-pass top-25 window of the 'spark' matches with
    + 2.0 * BM25('join'); ranks 26..40 keep their first-pass order and
    scores (reranking never admits, drops, or touches the tail). The
    window rows and the tail rows are each re-sorted driver-side with
    ORIGINAL ids (q56 pattern), so the only engine-internal ordering the
    oracle depends on is the rank-25/26 boundary — a distinct-score cut
    at both verify scales."""
    eng = _docs_engine(spark, sf_dir)
    hits = eng.rerank_search(
        "spark", "join", k=40, rerank_docs=28, weight=2.0,
        conjunctive=False,
    )
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    win = sorted(
        ((pmap[d], s) for d, s in hits[:28]),
        key=lambda x: (-round(x[1], 6), x[0]),
    )
    tail = sorted(
        ((pmap[d], s) for d, s in hits[28:]),
        key=lambda x: (-round(x[1], 6), x[0]),
    )
    return spark.createDataFrame(
        [
            (i + 1, int(d), float(round(s, 4)))
            for i, (d, s) in enumerate(win + tail)
        ],
        "rank long, doc_id long, score double",
    )


# unrounded BM25 CTEs: the windowing/rescoring must run on full
# precision (the shared _bm25_sql rounds its SELECT for hashing);
# ordering keys round to 6 with a doc_id tie-break, the convention
# every scored oracle here uses. rerank_docs=28 sits on a >2e-3
# first-pass score gap at sf0.001 AND sf0.01, so the window boundary
# never depends on the engine's internal-id tie-break.
_RERANK_DUCK = f"""
WITH first AS (
  SELECT doc_id, score
  FROM ({_bm25_sql(DUCK_TOK, ["spark"], False, None).replace(
      "ROUND(score, 4) AS score", "score AS score")}) f
),
w AS (SELECT doc_id, score,
             row_number()
               OVER (ORDER BY ROUND(score, 6) DESC, doc_id ASC) AS rn
      FROM first),
rr AS (
  SELECT doc_id, score
  FROM ({_bm25_sql(DUCK_TOK, ["join"], False, None).replace(
      "ROUND(score, 4) AS score", "score AS score")}) r
),
resc AS (SELECT w.doc_id,
                w.score + 2.0 * COALESCE(rr.score, 0.0) AS score
         FROM w LEFT JOIN rr USING (doc_id) WHERE w.rn <= 28),
wr AS (SELECT CAST(row_number()
               OVER (ORDER BY ROUND(score, 6) DESC, doc_id ASC)
               AS BIGINT) AS rank,
              doc_id, ROUND(score, 4) AS score
       FROM resc),
tl AS (SELECT CAST(28 + row_number()
                   OVER (ORDER BY ROUND(score, 6) DESC, doc_id ASC)
                   AS BIGINT) AS rank,
              doc_id, ROUND(score, 4) AS score
       FROM w WHERE rn > 28 AND rn <= 40)
SELECT rank, doc_id, score FROM wr
UNION ALL
SELECT rank, doc_id, score FROM tl
"""

_PAIRS["q84_rerank"] = ("", _RERANK_DUCK)


def _q_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene IndexSearcher.explain / Solr debugQuery through the REAL
    engine: the per-term BM25 decomposition (tf, df, doc_len, idf,
    contribution) of the top-ranked 'spark join' doc. The target doc is
    selected by (round(score,6) desc, ORIGINAL doc_id asc) over the FULL
    match set (match_frame), so the choice never depends on the engine's
    internal id assignment; the decomposition rows are the claim under
    test — explain() must reproduce the kernel's scoring stats exactly."""
    eng = _docs_engine(spark, sf_dir)
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    hits = [
        (pmap[int(r["doc_id"])], int(r["doc_id"]), float(r["score"]))
        for r in eng.match_frame("spark join").collect()
    ]
    orig, eng_id, _ = min(hits, key=lambda x: (-round(x[2], 6), x[0]))
    ex = eng.explain("spark join", eng_id)
    assert ex["match"]
    return spark.createDataFrame(
        [
            (
                orig,
                t["term"],
                int(t["tf"]),
                int(t["df"]),
                int(t["doc_len"]),
                float(round(t["idf"], 4)),
                float(round(t["score"], 4)),
            )
            for t in ex["terms"]
        ],
        "doc_id long, term string, tf long, df long, doc_len long, "
        "idf double, contrib double",
    )


_EXPLAIN_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(doc_len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM (SELECT d.doc_id, COALESCE(dl.doc_len, 0) AS doc_len
        FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id) x),
df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dl.doc_len, df.df,
         ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)) AS idf,
         (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.doc_len / s.avgdl))
           AS tfn
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  WHERE tf.term IN ('spark', 'join')),
top1 AS (
  SELECT doc_id FROM (
    SELECT doc_id, sum(idf * tfn) AS score
    FROM scored GROUP BY doc_id HAVING count(*) = 2) r
  ORDER BY ROUND(score, 6) DESC, doc_id ASC LIMIT 1)
SELECT s.doc_id, s.term, CAST(s.tf AS BIGINT) AS tf,
       CAST(s.df AS BIGINT) AS df, CAST(s.doc_len AS BIGINT) AS doc_len,
       ROUND(s.idf, 4) AS idf, ROUND(s.idf * s.tfn, 4) AS contrib
FROM scored s JOIN top1 USING (doc_id)
ORDER BY s.term
"""

_PAIRS["q85_explain"] = ("", _EXPLAIN_DUCK)


def _q_interesting_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr mlt.interestingTerms=details through the REAL engine: the
    MLT term selection for seed doc 7 — tf * (1 + ln(N/(df+1)))
    (ClassicSimilarity idf, df from segment n_postings metadata,
    df >= 2, ties term-asc, top 25) with the selection score as the
    boost. Rank is part of the claim (it IS the interestingness
    ordering), rounded-key ordering both sides (q50 pattern)."""
    import tempfile

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine
    from ckanext_extractor_spark.sources.corpus_source import (
        documents_as_corpus,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_iterms_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, store_content=True,
    )
    eng.extract(corpus, build_id="entry-iterms")
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    seed = next(e for e, o in pmap.items() if o == 7)
    got = eng.interesting_terms(seed, max_query_terms=25)
    ranked = sorted(got, key=lambda x: (-round(x[1], 6), x[0]))
    return spark.createDataFrame(
        [
            (i + 1, t, float(round(b, 4)))
            for i, (t, b) in enumerate(ranked)
        ],
        "rank long, term string, boost double",
    )


_ITERMS_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
seed AS (SELECT term, CAST(count(*) AS DOUBLE) AS tf
         FROM tok WHERE doc_id = 7 GROUP BY term),
dfx AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
        FROM tok GROUP BY term),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
sc AS (SELECT s.term,
              s.tf * (1.0 + ln(n.n_docs / (dfx.df + 1.0))) AS boost
       FROM seed s JOIN dfx USING (term) CROSS JOIN n
       WHERE dfx.df >= 2)
SELECT CAST(row_number()
         OVER (ORDER BY ROUND(boost, 6) DESC, term ASC) AS BIGINT) AS rank,
       term, ROUND(boost, 4) AS boost
FROM sc
ORDER BY rank LIMIT 25
"""

_PAIRS["q86_interesting_terms"] = ("", _ITERMS_DUCK)


def _q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr Luke handler through the REAL engine: index_stats() — n_docs,
    n_terms (distinct encoded terms), n_postings (segment-metadata sum,
    fresh index == live (doc, term) pairs), total_tokens (doc_len sum).
    One column-pruned aggregate over segment rows, no blob decode."""
    eng = _docs_engine(spark, sf_dir)
    st = eng.index_stats()
    return spark.createDataFrame(
        [(
            int(st["n_docs"]),
            int(st["n_terms"]),
            int(st["n_postings"]),
            int(st["total_tokens"]),
        )],
        "n_docs long, n_terms long, n_postings long, total_tokens long",
    )


_INDEX_STATS_DUCK = f"""
WITH tok AS ({DUCK_TOK})
SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
       CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
       CAST(count(DISTINCT (doc_id, term)) AS BIGINT) AS n_postings,
       CAST(count(*) AS BIGINT) AS total_tokens
FROM tok
"""

_PAIRS["q88_index_stats"] = ("", _INDEX_STATS_DUCK)


def _q_phonetic_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr PhoneticFilter (classic Soundex) through the REAL engine:
    expand_phonetic('spark') — the dictionary terms whose soundex equals
    S162 (StringStartsWith-pruned scan + cluster-side soundex filter) —
    each with its pre-merge docFreq. The DuckDB oracle reimplements
    classic soundex as portable SQL (strip non-alpha -> drop H/W ->
    translate to codes/dots -> collapse digit runs -> drop dots -> drop
    the first letter's own run for consonant initials)."""
    eng = _docs_engine(spark, sf_dir)
    terms = eng.expand_phonetic("spark")
    dfm = eng._df_for_terms(terms)
    return spark.createDataFrame(
        [(t, int(dfm.get(t, 0))) for t in sorted(terms)],
        "term string, df long",
    )


# classic soundex in SQL; DuckDB's RE2 has no backreferences, so digit
# runs collapse with one '{2,}' pattern per code
_SOUNDEX_COLLAPSE = "translate(replace(replace(alpha, 'H', ''), 'W', ''), " \
    "'AEIOUYBFPVCGJKQSXZDTLMNR', '......111122222222334556')"
for _d in "123456":
    _SOUNDEX_COLLAPSE = (
        f"regexp_replace({_SOUNDEX_COLLAPSE}, '{_d}{{2,}}', '{_d}', 'g')"
    )
_SOUNDEX_SQL = f"""
SELECT term,
       CASE WHEN alpha = '' THEN ''
            ELSE substr(alpha, 1, 1) ||
                 substr(
                   (CASE WHEN substr(alpha, 1, 1) IN
                              ('A','E','I','O','U','Y','H','W')
                         THEN collapsed
                         ELSE substr(collapsed, 2) END) || '000',
                   1, 3)
       END AS sx
FROM (
  SELECT term, alpha,
         replace({_SOUNDEX_COLLAPSE}, '.', '') AS collapsed
  FROM (SELECT term,
               regexp_replace(upper(term), '[^A-Z]', '', 'g') AS alpha
        FROM cand) a) b
"""

_PHONETIC_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
cand AS (SELECT DISTINCT term FROM tok WHERE term LIKE 's%'),
sx AS ({_SOUNDEX_SQL}),
qcode AS (SELECT sx AS code FROM (
    WITH cand AS (SELECT 'spark' AS term) {_SOUNDEX_SQL}) q)
SELECT s.term, CAST(count(DISTINCT t.doc_id) AS BIGINT) AS df
FROM sx s JOIN tok t USING (term) CROSS JOIN qcode
WHERE s.sx = qcode.code
GROUP BY s.term
ORDER BY s.term
"""

_PAIRS["q89_phonetic_expand"] = ("", _PHONETIC_DUCK)


def _q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING (pairs -> connected components): a verified-pair graph
    (q13 shape, denser sample, threshold 0.7; sampled docs, exact Jaccard >= 0.7) resolved to
    components by the distributed large-star/small-star algorithm
    (Kiveris et al., SoCC'14) — cluster_id = component min doc id. The
    DuckDB oracle computes the same components with a recursive CTE
    (reachability closure + min per node)."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.functions.dedup import (
        jaccard_candidate_pairs,
        neardup_clusters,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % 10 == 0)
        .withColumnRenamed("text", "content")
    )
    pairs = jaccard_candidate_pairs(docs, threshold=0.7)
    return (
        neardup_clusters(docs, threshold=0.7, candidates=pairs)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
        )
        .orderBy("doc_id")
    )


def _q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One survivor per near-dup cluster: component-min docs plus all
    unpaired docs of the same sample (the end state of the dedup
    pipeline — what actually ships to training)."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.functions.dedup import (
        dedup_representatives,
        jaccard_candidate_pairs,
        neardup_clusters,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % 10 == 0)
        .withColumnRenamed("text", "content")
    )
    pairs = jaccard_candidate_pairs(docs, threshold=0.7)
    clusters = neardup_clusters(docs, threshold=0.7, candidates=pairs)
    return (
        dedup_representatives(docs, clusters)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .orderBy("doc_id")
    )


# reachability closure via recursive CTE; UNION (distinct) terminates it
_CC_COMP_DUCK = (
    f"pairs AS ({_JACCARD.format(tok=DUCK_TOK).replace('% 50', '% 10').replace('>= 0.5', '>= 0.7')}), "
    "edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs "
    "UNION SELECT doc_b, doc_a FROM pairs), "
    "reach(id, r) AS ("
    "SELECT u, u FROM (SELECT DISTINCT u FROM edges) n "
    "UNION "
    "SELECT e.v, r.r FROM reach r JOIN edges e ON e.u = r.id), "
    "comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)"
)

_BJ_ENGINE_CACHE: dict[str, object] = {}


def _blockjoin_engine(spark: SparkSession, sf_dir: str):
    """Engine with a relational block structure over the documents
    table: docs with doc_id % 5 == 0 are parents; every other doc's
    metadata carries Parent_Path = doc/<preceding multiple of 5> (the
    table-shaped Lucene block / Solr _root_). Content and analyzer are
    identical to _docs_engine, so BM25 stats match _RAW_BM25_CTES."""
    if sf_dir in _BJ_ENGINE_CACHE:
        return _BJ_ENGINE_CACHE[sf_dir]
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.when(
            F.col("doc_id") % 5 != 0,
            F.create_map(
                F.lit("Parent_Path"),
                F.array(
                    F.concat(
                        F.lit("doc/"),
                        (F.col("doc_id") - F.col("doc_id") % 5).cast(
                            "string"
                        ),
                    )
                ),
            ),
        ).otherwise(
            F.create_map().cast("map<string, array<string>>")
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_bj_eng_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("parent-path",),
    )
    eng.extract(corpus, build_id="entry-bj-eng")
    _BJ_ENGINE_CACHE[sf_dir] = eng
    return eng


def _q_blockjoin_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr {!parent} / ToParentBlockJoinQuery through the REAL engine:
    parents of children matching 'spark', ScoreMode=max — each parent
    scores its best matching child."""
    eng = _blockjoin_engine(spark, sf_dir)
    hits = eng.parent_search("spark", "parent-path", k=10**9,
                             score_mode="max")
    pmap = _eng_pmap(eng)
    ranked = sorted(
        ((pmap[d], s) for d, s in hits),
        key=lambda x: (-round(x[1], 6), x[0]),
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_BJ_PARENT_DUCK = f"""
{_RAW_BM25_CTES},
cm AS (SELECT doc_id, sum(term_score) AS s FROM sc
       WHERE term = 'spark' GROUP BY doc_id),
par AS (SELECT (doc_id - doc_id % 5) AS pid, max(s) AS score
        FROM cm WHERE doc_id % 5 <> 0 GROUP BY (doc_id - doc_id % 5))
SELECT CAST(pid AS BIGINT) AS doc_id, ROUND(score, 4) AS score FROM par
ORDER BY ROUND(score, 6) DESC, pid ASC LIMIT 10
"""

_PAIRS["q93_blockjoin_parent"] = ("", _BJ_PARENT_DUCK)


def _q_blockjoin_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr {!child} / ToChildBlockJoinQuery through the REAL engine:
    children of parents matching 'spark join' (conjunctive), each child
    inheriting its parent's BM25."""
    eng = _blockjoin_engine(spark, sf_dir)
    hits = eng.child_search("spark join", "parent-path", k=10**9)
    pmap = _eng_pmap(eng)
    ranked = sorted(
        ((pmap[d], s) for d, s in hits),
        key=lambda x: (-round(x[1], 6), x[0]),
    )[:20]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_BJ_CHILD_DUCK = f"""
{_RAW_BM25_CTES},
pm AS (SELECT doc_id, sum(term_score) AS s FROM sc
       WHERE term IN ('spark', 'join')
       GROUP BY doc_id HAVING count(*) = 2),
par AS (SELECT doc_id AS pid, s FROM pm WHERE doc_id % 5 = 0),
ch AS (SELECT d.doc_id, p.s FROM documents d
       JOIN par p ON (d.doc_id - d.doc_id % 5) = p.pid
       WHERE d.doc_id % 5 <> 0)
SELECT CAST(doc_id AS BIGINT) AS doc_id, ROUND(s, 4) AS score FROM ch
ORDER BY ROUND(s, 6) DESC, doc_id ASC LIMIT 20
"""

_PAIRS["q94_blockjoin_child"] = ("", _BJ_CHILD_DUCK)


def _q_function_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr function-query language through the REAL engine: edismax
    bf=sum(recip(n-chars,1,1000,1000), product(0.001, n-chars)) — a
    length-decay plus a linear length reward composed in the value-
    source expression language, compiled to ONE Catalyst column over
    the narrowed metadata pivot and added to conjunctive BM25."""
    eng = _docs_engine(spark, sf_dir)
    hits = eng.function_query_search(
        "spark",
        "sum(recip(n-chars,1,1000,1000), product(0.001, n-chars))",
        k=10**9,
    )
    pmap = _eng_pmap(eng)
    ranked = sorted(
        ((pmap[d], s) for d, s in hits),
        key=lambda x: (-round(x[1], 6), x[0]),
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_FUNCQUERY_DUCK = f"""
{_RAW_BM25_CTES},
main AS (SELECT doc_id, sum(term_score) AS s FROM sc
         WHERE term = 'spark' GROUP BY doc_id),
fx AS (SELECT m.doc_id,
              m.s + (1000.0 / (1.0 * d.n_chars + 1000.0)
                     + 0.001 * d.n_chars) AS s2
       FROM main m JOIN documents d USING (doc_id))
SELECT doc_id, ROUND(s2, 4) AS score FROM fx
ORDER BY ROUND(s2, 6) DESC, doc_id ASC LIMIT 10
"""

_PAIRS["q92_function_query"] = ("", _FUNCQUERY_DUCK)


def _q_json_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr JSON Facet API through the REAL engine: terms buckets over
    lang (limit 5, count sort) each carrying an avg(n-chars) statistic,
    a nested query facet ('join' within the bucket), and a nested terms
    sub-facet over source-name (limit 3) — plus a top-level
    sum(n-chars). Flattened to one row per (lang bucket, src
    sub-bucket); the oracle reproduces the bucket pruning with
    row_number windows."""
    eng = _docs_engine(spark, sf_dir)
    out = eng.json_facets("spark", {
        "total_chars": "sum(n-chars)",
        "langs": {"type": "terms", "field": "lang", "limit": 5, "facet": {
            "avg_chars": "avg(n-chars)",
            "has_join": {"type": "query", "q": "join"},
            "srcs": {"type": "terms", "field": "source-name", "limit": 3},
        }},
    })
    rows = []
    for b in out["langs"]["buckets"]:
        for sb in b["srcs"]["buckets"]:
            rows.append((
                b["val"], int(b["count"]),
                float(round(b["avg_chars"], 4)),
                int(b["has_join"]["count"]), sb["val"], int(sb["count"]),
                float(round(out["total_chars"], 4)),
            ))
    return spark.createDataFrame(
        rows,
        "lang string, lcnt long, avg_chars double, has_join long, "
        "src string, scnt long, total_chars double",
    )


_JSON_FACETS_DUCK = f"""
WITH tok AS ({{tok}}),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
j AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'join'),
tot AS (SELECT SUM(CAST(d.n_chars AS DOUBLE)) AS total
        FROM documents d JOIN m USING (doc_id)),
lv AS (SELECT d.lang AS lang, count(*) AS lcnt,
              avg(CAST(d.n_chars AS DOUBLE)) AS avg_chars,
              count(CASE WHEN j.doc_id IS NOT NULL THEN 1 END) AS hj
       FROM documents d JOIN m USING (doc_id)
       LEFT JOIN j ON d.doc_id = j.doc_id
       GROUP BY d.lang),
lk AS (SELECT *, row_number() OVER (ORDER BY lcnt DESC, lang ASC) AS rn
       FROM lv),
sv AS (SELECT d.lang AS lang, d.source AS src, count(*) AS scnt
       FROM documents d JOIN m USING (doc_id)
       GROUP BY d.lang, d.source),
sk AS (SELECT sv.*, row_number() OVER (
           PARTITION BY lang ORDER BY scnt DESC, src ASC) AS srn
       FROM sv)
SELECT k.lang, CAST(k.lcnt AS BIGINT) AS lcnt,
       ROUND(k.avg_chars, 4) AS avg_chars,
       CAST(k.hj AS BIGINT) AS has_join,
       s.src, CAST(s.scnt AS BIGINT) AS scnt,
       ROUND((SELECT total FROM tot), 4) AS total_chars
FROM lk k JOIN sk s ON s.lang = k.lang AND s.srn <= 3
WHERE k.rn <= 5
ORDER BY k.rn, s.srn
"""

_PAIRS["q95_json_facets"] = ("", _JSON_FACETS_DUCK.format(tok=DUCK_TOK))


def _q_json_facets_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON Facet API range buckets through the REAL engine: n-chars
    over [0, 500) gap 100, mincount=0 zero-fill (Solr default), each
    bucket carrying a max(n-chars) statistic (null on empty buckets)."""
    eng = _docs_engine(spark, sf_dir)
    out = eng.json_facets("spark", {
        "sizes": {"type": "range", "field": "n-chars",
                  "start": 0, "end": 500, "gap": 100,
                  "facet": {"mx": "max(n-chars)"}},
    })
    rows = [
        (float(b["val"]), int(b["count"]),
         None if b["mx"] is None else float(b["mx"]))
        for b in out["sizes"]["buckets"]
    ]
    return spark.createDataFrame(rows, "lo double, cnt long, mx double")


_JSON_FACETS_RANGE_DUCK = f"""
WITH tok AS ({{tok}}),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
v AS (SELECT CAST(d.n_chars AS DOUBLE) AS v
      FROM documents d JOIN m USING (doc_id)),
b AS (SELECT CAST(lo AS DOUBLE) AS lo FROM range(0, 500, 100) t(lo)),
c AS (SELECT 100.0 * floor(v / 100.0) AS lo,
             CAST(count(*) AS BIGINT) AS cnt, MAX(v) AS mx
      FROM v WHERE v >= 0 AND v < 500 GROUP BY 1)
SELECT b.lo, COALESCE(c.cnt, 0) AS cnt, c.mx
FROM b LEFT JOIN c USING (lo) ORDER BY b.lo
"""

_PAIRS["q96_json_facets_range"] = (
    "", _JSON_FACETS_RANGE_DUCK.format(tok=DUCK_TOK)
)


_GRAPH_ENGINE_CACHE: dict[str, object] = {}


def _graph_engine(spark: SparkSession, sf_dir: str):
    """Engine whose documents chain forward: doc i carries
    Next_Path = doc/<i+1> unless i+1 is a multiple of 50 (chains of 50
    docs). Same content/analyzer as _docs_engine so the root match set
    is the plain 'spark' token set."""
    if sf_dir in _GRAPH_ENGINE_CACHE:
        return _GRAPH_ENGINE_CACHE[sf_dir]
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.when(
            (F.col("doc_id") + 1) % 50 != 0,
            F.create_map(
                F.lit("Next_Path"),
                F.array(
                    F.concat(
                        F.lit("doc/"),
                        (F.col("doc_id") + 1).cast("string"),
                    )
                ),
            ),
        ).otherwise(
            F.create_map().cast("map<string, array<string>>")
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_graph_eng_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("next-path",),
    )
    eng.extract(corpus, build_id="entry-graph-eng")
    _GRAPH_ENGINE_CACHE[sf_dir] = eng
    return eng


def _q_graph_traversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr {!graph} through the REAL engine: fixpoint traversal from
    the 'spark' match set following next-path edges (iterative
    frontier joins, cycle-safe, lineage-checkpointed per round); the
    oracle is a DuckDB RECURSIVE CTE over the same chain structure
    (edges exist only to docs that exist — i+1 <= max(doc_id))."""
    eng = _graph_engine(spark, sf_dir)
    hits = eng.graph_search("spark", "next-path")
    pmap = _eng_pmap(eng)
    return spark.createDataFrame(
        [(int(pmap[d]),) for d in hits], "doc_id long"
    )


_GRAPH_DUCK = f"""
WITH RECURSIVE tok AS ({DUCK_TOK}),
roots AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
mx AS (SELECT max(doc_id) AS m FROM documents),
reach(doc_id) AS (
  SELECT doc_id FROM roots
  UNION
  SELECT r.doc_id + 1 FROM reach r, mx
  WHERE (r.doc_id + 1) % 50 <> 0 AND r.doc_id + 1 <= mx.m
)
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM reach ORDER BY doc_id
"""

_PAIRS["q97_graph_traversal"] = ("", _GRAPH_DUCK)


def _q_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr streaming expression through the REAL engine:
    rollup(search(...), over=lang, sum(n-chars), count(*)) — the whole
    dataflow compiles to ONE Catalyst plan (match kernel -> stored-field
    join -> hash aggregate); Solr would run it as a pipelined
    tuple-stream worker graph."""
    eng = _docs_engine(spark, sf_dir)
    df = eng.stream_expr(
        'rollup(search(idx, q="spark", fl="doc_id,lang,n-chars"), '
        'over="lang", sum(n-chars), count(*))'
    )
    from pyspark.sql import functions as F

    return df.toDF("lang", "sum_chars", "cnt").select(
        "lang", F.round("sum_chars", 4).alias("sum_chars"), "cnt"
    )


_STREAM_ROLLUP_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
g AS (SELECT d.lang AS lang, SUM(CAST(d.n_chars AS DOUBLE)) AS s,
             count(*) AS c
      FROM documents d JOIN m USING (doc_id) GROUP BY d.lang)
SELECT lang, ROUND(s, 4) AS sum_chars, CAST(c AS BIGINT) AS cnt
FROM g ORDER BY lang
"""

_PAIRS["q98_stream_rollup"] = ("", _STREAM_ROLLUP_DUCK)


def _q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-expression join pipeline through the REAL engine:
    fetch(innerJoin(search(spark, scored), search(join)), n-chars) —
    docs matching BOTH queries keep the 'spark' BM25 score and are
    enriched with the stored n-chars field; top-10 taken tie-safely
    after the pmap translation (the established engine-entry shape)."""
    eng = _docs_engine(spark, sf_dir)
    df = eng.stream_expr(
        'fetch(idx, innerJoin('
        'search(idx, q="spark", fl="doc_id,score"), '
        'search(idx, q="join", fl="doc_id"), on="doc_id"), '
        'fl="n-chars", on="doc_id")'
    )
    pmap = _eng_pmap(eng)
    ranked = sorted(
        (
            (pmap[int(r["doc_id"])], float(r["score"]), r["n-chars"])
            for r in df.collect()
        ),
        key=lambda x: (-round(x[1], 6), x[0]),
    )[:10]
    return spark.createDataFrame(
        [(d, float(round(s, 4)), nc) for d, s, nc in ranked],
        "doc_id long, score double, nchars string",
    )


_STREAM_JOIN_DUCK = f"""
{_RAW_BM25_CTES},
ms AS (SELECT doc_id, sum(term_score) AS s FROM sc
       WHERE term = 'spark' GROUP BY doc_id),
j AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'join'),
x AS (SELECT ms.doc_id, ms.s, CAST(d.n_chars AS VARCHAR) AS nchars
      FROM ms JOIN j USING (doc_id) JOIN documents d USING (doc_id))
SELECT CAST(doc_id AS BIGINT) AS doc_id, ROUND(s, 4) AS score, nchars
FROM x ORDER BY ROUND(s, 6) DESC, doc_id ASC LIMIT 10
"""

_PAIRS["q99_stream_join"] = ("", _STREAM_JOIN_DUCK)


_SPATIAL_ENGINE_CACHE: dict[str, object] = {}


def _spatial_engine(spark: SparkSession, sf_dir: str):
    """Engine whose docs carry a deterministic 'lat,lon' grid point in
    metadata Loc: lat = (doc_id % 160) - 79.5, lon =
    ((doc_id * 7) % 350) - 174.5 — .5-offset values round-trip exactly
    through the string metadata encoding."""
    if sf_dir in _SPATIAL_ENGINE_CACHE:
        return _SPATIAL_ENGINE_CACHE[sf_dir]
    import tempfile

    from pyspark.sql import functions as F

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lat = (F.col("doc_id") % 160).cast("double") - F.lit(79.5)
    lon = ((F.col("doc_id") * 7) % 350).cast("double") - F.lit(174.5)
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(
            F.lit("Loc"),
            F.array(F.concat(
                lat.cast("string"), F.lit(","), lon.cast("string")
            )),
        ).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="entry_spatial_eng_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, indexed_fields=("loc",),
    )
    eng.extract(corpus, build_id="entry-spatial-eng")
    _SPATIAL_ENGINE_CACHE[sf_dir] = eng
    return eng


def _q_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr {!geofilt} + geodist() through the REAL engine: docs
    matching 'spark' within 2000 km of (0, 0), distances by the pinned
    Solr-radius haversine (one Catalyst expression); the oracle
    recomputes the same great-circle arithmetic from doc_id."""
    eng = _spatial_engine(spark, sf_dir)
    hits = eng.spatial_search("spark", "loc", (0.0, 0.0), 2000.0,
                              k=10**9)
    pmap = _eng_pmap(eng)
    rows = sorted(
        (int(pmap[d]), float(round(dist, 4))) for d, dist in hits
    )
    return spark.createDataFrame(rows, "doc_id long, dist_km double")


_SPATIAL_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
p AS (SELECT d.doc_id,
             radians((d.doc_id % 160) - 79.5) AS la,
             radians(((d.doc_id * 7) % 350) - 174.5) AS lo
      FROM documents d JOIN m USING (doc_id)),
h AS (SELECT doc_id,
             2 * 6371.0087714 * asin(least(1.0, sqrt(
               pow(sin(la / 2), 2)
               + cos(0.0) * cos(la) * pow(sin(lo / 2), 2)
             ))) AS dist
      FROM p)
SELECT CAST(doc_id AS BIGINT) AS doc_id, ROUND(dist, 4) AS dist_km
FROM h WHERE dist <= 2000.0 ORDER BY doc_id
"""

_PAIRS["q100_spatial"] = ("", _SPATIAL_DUCK)


def _q_terms_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr terms.regex + terms.sort=index through the REAL engine:
    full-match dictionary filter (rlike '^(?:s.*m)$' after the pushed
    prefix) listed in index order."""
    eng = _docs_engine(spark, sf_dir)
    rows = eng.terms(regex="s.*m", limit=15, sort="index")
    return spark.createDataFrame(
        [(t, int(d)) for t, d in rows], "term string, df long"
    )


_TERMS_REGEX_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
d AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok WHERE regexp_full_match(term, 's.*m') GROUP BY term)
SELECT term, df FROM d ORDER BY term ASC LIMIT 15
"""

_PAIRS["q101_terms_regex"] = ("", _TERMS_REGEX_DUCK)


def _q_ltr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr LTR LinearModel through the REAL engine: originalScore +
    a recip length-decay feature + a minmax-normalized n-chars feature,
    weighted sum, rerank window wider than the match set so the oracle
    is pure arithmetic over the BM25 CTE."""
    eng = _docs_engine(spark, sf_dir)
    hits = eng.ltr_rerank(
        "spark",
        {"orig": "originalScore",
         "decay": "recip(n-chars,1,1000,1000)",
         "nlen": "n-chars"},
        {"orig": 1.0, "decay": 2.0, "nlen": 0.5},
        normalizers={"nlen": ("minmax", 0, 1000)},
        rerank_docs=10**6, k=10**6,
    )
    pmap = _eng_pmap(eng)
    ranked = sorted(
        ((pmap[d], s) for d, s in hits),
        key=lambda x: (-round(x[1], 6), x[0]),
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_LTR_DUCK = f"""
{_RAW_BM25_CTES},
m AS (SELECT doc_id, sum(term_score) AS s FROM sc
      WHERE term = 'spark' GROUP BY doc_id),
x AS (SELECT m.doc_id,
             m.s + 2.0 * (1000.0 / (1.0 * d.n_chars + 1000.0))
                 + 0.5 * (d.n_chars / 1000.0) AS model
      FROM m JOIN documents d USING (doc_id))
SELECT CAST(doc_id AS BIGINT) AS doc_id, ROUND(model, 4) AS score
FROM x ORDER BY ROUND(model, 6) DESC, doc_id ASC LIMIT 10
"""

_PAIRS["q102_ltr_rerank"] = ("", _LTR_DUCK)


def _q_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (size 40, overlap 10) over the documents
    table — the training-sample windowing op; chunk text md5'd on both
    sides to keep the compared frame narrow."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.functions.chunking import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, size=40, overlap=10).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


_CHUNKING_DUCK = """
WITH t AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
              x -> x <> '') AS toks
  FROM documents),
e AS (SELECT doc_id, toks, unnest(range(0, len(toks), 30)) AS start
      FROM t WHERE len(toks) > 0)
SELECT doc_id,
  CAST(start / 30 AS BIGINT) AS chunk_id,
  CAST(least(40, len(toks) - start) AS BIGINT) AS n_tokens,
  md5(array_to_string(list_slice(toks, start + 1, start + 40), ' '))
    AS chunk_md5
FROM e
"""

_PAIRS["q103_chunking"] = ("", _CHUNKING_DUCK)


def _q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-prefix train/test split (engine-independent
    reproducibility — Spark md5 == DuckDB md5): every doc's
    assignment at test_frac=0.25, salt 's4'."""
    from ckanext_extractor_spark.functions.sampling import hash_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return hash_split(
        docs.select("doc_id"), test_frac=0.25, salt="s4"
    ).select("doc_id", "split")


_HASH_SPLIT_DUCK = """
SELECT doc_id,
  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 's4'), 1, 4)
            < '4000'
       THEN 'test' ELSE 'train' END AS split
FROM documents
"""

_PAIRS["q104_hash_split"] = ("", _HASH_SPLIT_DUCK)


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (top-token / top-bigram / dup-token
    fractions) — the training-data quality gate's repetition signals."""
    from ckanext_extractor_spark.functions.textstats import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_stats(docs)


_REPETITION_DUCK = """
WITH t AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
              x -> x <> '') AS toks
  FROM documents),
u AS (SELECT doc_id, unnest(toks) AS g FROM t),
uc AS (SELECT doc_id, g, count(*) AS c FROM u GROUP BY 1, 2),
us AS (SELECT doc_id, sum(c) AS n, count(*) AS nd, max(c) AS topc
       FROM uc GROUP BY 1),
b AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
            FROM t WHERE len(toks) >= 2)),
bc AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY 1, 2),
bs AS (SELECT doc_id, max(c) AS topb FROM bc GROUP BY 1)
SELECT t.doc_id,
  CAST(coalesce(n, 0) AS BIGINT) AS n_tokens,
  CAST(coalesce(nd, 0) AS BIGINT) AS n_distinct_tokens,
  ROUND(CASE WHEN coalesce(n, 0) > 0 THEN topc / (1.0 * n)
             ELSE 0 END, 6) AS top_token_frac,
  ROUND(CASE WHEN coalesce(n, 0) > 1 THEN coalesce(topb, 0) / (n - 1.0)
             ELSE 0 END, 6) AS top_bigram_frac,
  ROUND(CASE WHEN coalesce(n, 0) > 0 THEN 1.0 - nd / (1.0 * n)
             ELSE 0 END, 6) AS dup_token_frac
FROM t LEFT JOIN us USING (doc_id) LEFT JOIN bs USING (doc_id)
"""

_PAIRS["q105_repetition_stats"] = ("", _REPETITION_DUCK)


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any word 3-gram with the
    deterministic 'benchmark' slice (doc_id % 50 == 0) and how many.
    Production default is n=13 (GPT-3 appendix C); n=3 keeps the
    synthetic corpus's overlap set non-trivial at sf0.001."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.functions.decontam import contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return contamination(train, bench, n=3)


_CONTAMINATION_DUCK = """
WITH t AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
              x -> x <> '') AS toks
  FROM documents),
g AS (SELECT DISTINCT doc_id,
             array_to_string(list_slice(toks, i, i + 2), ' ') AS gram
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
            FROM t WHERE len(toks) >= 3)),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
FROM g JOIN bench USING (gram)
WHERE g.doc_id % 50 <> 0 GROUP BY 1
"""

_PAIRS["q106_contamination"] = ("", _CONTAMINATION_DUCK)


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII counts + scrubbed-text digest. The synthetic corpus carries
    no PII, so deterministic PII strings are appended in-plan (same
    CASE logic on both sides) and the operator must find and redact
    exactly those."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.functions.pii import pii_scrub, pii_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seeded = docs.withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit(" mail bob.smith+x@example-site.org now"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.lit(" from 10.0.255.3 port 8080"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.lit(" acct 123456789012 ok"),
            ).otherwise(F.lit("")),
        ),
    )
    stats = pii_stats(seeded, "text2")
    scrubbed = pii_scrub(seeded, "text2", out_col="scrubbed").select(
        "doc_id", F.md5("scrubbed").alias("scrub_md5")
    )
    return stats.join(scrubbed, "doc_id")


_PII_DUCK = r"""
WITH d AS (SELECT doc_id, text
  || CASE WHEN doc_id % 7 = 0
          THEN ' mail bob.smith+x@example-site.org now' ELSE '' END
  || CASE WHEN doc_id % 11 = 0
          THEN ' from 10.0.255.3 port 8080' ELSE '' END
  || CASE WHEN doc_id % 13 = 0
          THEN ' acct 123456789012 ok' ELSE '' END AS t2
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(t2,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
    AS n_email,
  CAST(len(regexp_extract_all(t2,
    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT)
    AS n_ipv4,
  CAST(len(regexp_extract_all(t2, '\b[0-9]{9,16}\b')) AS BIGINT)
    AS n_digit_run,
  CAST(len(regexp_extract_all(t2,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
     + len(regexp_extract_all(t2,
        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
     + len(regexp_extract_all(t2, '\b[0-9]{9,16}\b')) AS BIGINT)
    AS n_pii,
  md5(regexp_replace(regexp_replace(regexp_replace(t2,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
    '\b[0-9]{9,16}\b', '<NUM>', 'g')) AS scrub_md5
FROM d
"""

_PAIRS["q107_pii_scrub"] = ("", _PII_DUCK)


def _q_span_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene SpanFirstQuery through the REAL engine: docs whose first
    'spark' occurrence sits at analyzer position < 5, ranked by the
    normal single-term BM25 (the position constraint changes the match
    set, never the scores)."""
    eng = _docs_engine(spark, sf_dir)
    hits = eng.span_first_search("spark", end=5, k=10**9)
    pmap = _eng_pmap(eng)
    ranked = sorted(
        ((pmap[d], s) for d, s in hits),
        key=lambda x: (-round(x[1], 6), x[0]),
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_SPAN_FIRST_DUCK = f"""
{_RAW_BM25_CTES},
m AS (SELECT doc_id, sum(term_score) AS s FROM sc
      WHERE term = 'spark' GROUP BY doc_id),
-- engine positions are 0-based; generate_subscripts is 1-based, so
-- first_pos < 5 becomes min(pos) <= 5
fp AS (SELECT doc_id, min(pos) AS mp
       FROM (SELECT doc_id, unnest(toks) AS term,
                    generate_subscripts(toks, 1) AS pos
             FROM (SELECT doc_id,
                          list_filter(string_split_regex(lower(text),
                            '[^a-z0-9]+'), x -> x <> '') AS toks
                   FROM documents))
       WHERE term = 'spark' GROUP BY doc_id)
SELECT m.doc_id, ROUND(m.s, 4) AS score
FROM m JOIN fp ON m.doc_id = fp.doc_id
WHERE fp.mp <= 5
ORDER BY ROUND(m.s, 6) DESC, m.doc_id ASC LIMIT 10
"""

_PAIRS["q108_span_first"] = ("", _SPAN_FIRST_DUCK)


def _q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-corpus boilerplate removal: 8-token segments
    occurring in >= 2 distinct docs are dropped corpus-wide; cleaned
    text md5'd to keep the compared frame narrow."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.functions.chunking import (
        remove_repeated_segments,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return remove_repeated_segments(docs, size=8, min_docs=2).select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_segments",
        "n_dropped_segments",
    )


_BOILERPLATE_DUCK = """
WITH t AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
              x -> x <> '') AS toks
  FROM documents),
w AS (SELECT doc_id, CAST(i / 8 AS INT) AS wid,
             array_to_string(list_slice(toks, i + 1, i + 8), ' ') AS seg
      FROM (SELECT doc_id, toks, unnest(range(0, len(toks), 8)) AS i
            FROM t WHERE len(toks) > 0)),
hot AS (SELECT seg FROM (SELECT seg, count(DISTINCT doc_id) AS nd
                         FROM w GROUP BY 1) WHERE nd >= 2),
agg AS (SELECT doc_id,
         md5(coalesce(string_agg(
           CASE WHEN seg NOT IN (SELECT seg FROM hot) THEN seg END,
           ' ' ORDER BY wid), '')) AS m,
         count(*) AS ns,
         sum(CASE WHEN seg IN (SELECT seg FROM hot) THEN 1 ELSE 0 END)
           AS nd
        FROM w GROUP BY doc_id)
SELECT t.doc_id,
  CASE WHEN a.doc_id IS NOT NULL THEN a.m
       ELSE md5(array_to_string(t.toks, ' ')) END AS clean_md5,
  CAST(coalesce(a.ns, 0) AS BIGINT) AS n_segments,
  CAST(coalesce(a.nd, 0) AS BIGINT) AS n_dropped_segments
FROM t LEFT JOIN agg a USING (doc_id)
"""

_PAIRS["q109_boilerplate"] = ("", _BOILERPLATE_DUCK)


def _q_token_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token budget estimators (pure
    Catalyst regexp_count; same pattern text as the oracle)."""
    from ckanext_extractor_spark.functions.textstats import (
        token_count_estimates,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_count_estimates(docs)


_TOKEN_EST_DUCK = r"""
SELECT doc_id,
  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
    AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(lower(text),
    '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS BIGINT) AS n_bpe_pieces,
  ROUND(CASE WHEN len(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]+|[^a-z0-9\s]+')) > 0
    THEN len(text) / (1.0 * len(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]+|[^a-z0-9\s]+')))
    ELSE 0 END, 6) AS chars_per_piece
FROM documents
"""

_PAIRS["q110_token_estimates"] = ("", _TOKEN_EST_DUCK)


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: one-step assignment to the 8 smallest-id seed
    centroids, then within-cluster cosine >= 0.3 marks duplicates
    (keep-smallest-id rule)."""
    from ckanext_extractor_spark.functions.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup(emb, n_clusters=8, threshold=0.3)


_SEMDEDUP_DUCK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
seeds AS (SELECT vec_id AS sid, v AS sv FROM e ORDER BY vec_id LIMIT 8),
cosd AS (SELECT vec_id, sid,
  list_dot_product(v, sv)
    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(sv, sv))) AS c
  FROM e CROSS JOIN seeds),
assign AS (SELECT vec_id, sid AS cluster_id FROM
  (SELECT vec_id, sid, row_number() OVER
     (PARTITION BY vec_id ORDER BY ROUND(c, 6) DESC, sid ASC) AS rn
   FROM cosd)
  WHERE rn = 1),
m AS (SELECT a.vec_id, a.cluster_id, e.v FROM assign a JOIN e USING (vec_id)),
dups AS (SELECT DISTINCT b.vec_id FROM m a
  JOIN m b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
    / (sqrt(list_dot_product(a.v, a.v))
       * sqrt(list_dot_product(b.v, b.v))) >= 0.3)
SELECT a.vec_id, a.cluster_id,
  (a.vec_id IN (SELECT vec_id FROM dups)) AS is_dup
FROM assign a
"""

_PAIRS["q111_semantic_dedup"] = ("", _SEMDEDUP_DUCK)


def _q_hashed_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick TF-IDF featurization: md5-60-bit buckets mod 256,
    smooth idf, L2-normalized sparse rows."""
    from ckanext_extractor_spark.functions.vectorize import hashed_tfidf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return hashed_tfidf(docs, dim=256)


_TFIDF_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
tf AS (SELECT doc_id, {DUCK_H60.format(x='term')} % 256 AS bucket,
       CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY 1, 2),
bdf AS (SELECT bucket, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
w AS (SELECT doc_id, bucket, tf * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS w
      FROM tf JOIN bdf USING (bucket) CROSS JOIN n)
SELECT doc_id, bucket,
  ROUND(w / sqrt(sum(w * w) OVER (PARTITION BY doc_id)), 6) AS weight
FROM w
"""

_PAIRS["q112_hashed_tfidf"] = ("", _TFIDF_DUCK)


def _q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al exact duplicated-substring spans: overlapping 8-token
    shingles occurring in >= 2 distinct docs, in token coordinates."""
    from ckanext_extractor_spark.functions.chunking import duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicate_spans(docs, size=8, min_docs=2)


_DUP_SPANS_DUCK = """
WITH t AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
              x -> x <> '') AS toks
  FROM documents),
sh AS (SELECT doc_id, i AS start_pos,
       md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS h
       FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 8 + 1)) AS i
             FROM t WHERE len(toks) >= 8)),
hot AS (SELECT h, count(DISTINCT doc_id) AS n_docs FROM sh
        GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
SELECT s.doc_id, CAST(s.start_pos AS BIGINT) AS start_pos,
       CAST(hot.n_docs AS BIGINT) AS n_docs
FROM sh s JOIN hot USING (h)
"""

_PAIRS["q113_duplicate_spans"] = ("", _DUP_SPANS_DUCK)


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: probe the 2 nearest of 8 pinned-seed clusters for
    vec 0's embedding, exact cosine within (query vec included)."""
    from ckanext_extractor_spark.functions.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [
        float(x)
        for x in emb.where("vec_id = 0").head()["embedding"]
    ]
    out = ivf_topk(emb, qvec, k=10, n_clusters=8, nprobe=2)
    from pyspark.sql import functions as F

    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


_IVF_DUCK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
seeds AS (SELECT vec_id AS sid, v AS sv FROM e ORDER BY vec_id LIMIT 8),
cosd AS (SELECT vec_id, sid,
  list_dot_product(v, sv)
    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(sv, sv))) AS c
  FROM e CROSS JOIN seeds),
assign AS (SELECT vec_id, sid AS cluster_id FROM
  (SELECT vec_id, sid, row_number() OVER
     (PARTITION BY vec_id ORDER BY ROUND(c, 6) DESC, sid ASC) AS rn
   FROM cosd)
  WHERE rn = 1),
probe AS (SELECT sid FROM
  (SELECT sid, list_dot_product(sv, qv)
     / (sqrt(list_dot_product(sv, sv)) * sqrt(list_dot_product(qv, qv)))
     AS qc FROM seeds CROSS JOIN q)
  ORDER BY ROUND(qc, 6) DESC, sid ASC LIMIT 2),
s AS (SELECT e.vec_id, list_dot_product(v, qv)
  / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
  FROM e CROSS JOIN q
  WHERE e.vec_id IN (SELECT vec_id FROM assign
                     WHERE cluster_id IN (SELECT sid FROM probe)))
SELECT vec_id, ROUND(c, 4) AS cosine FROM s
ORDER BY ROUND(c, 6) DESC, vec_id ASC LIMIT 10
"""

_PAIRS["q114_ivf_topk"] = ("", _IVF_DUCK)


def _q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality: per-doc mean -log2 p(token) against
    the corpus's own unigram distribution."""
    from ckanext_extractor_spark.functions.textstats import (
        unigram_surprisal,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_surprisal(docs)


_SURPRISAL_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
cf AS (SELECT term, CAST(count(*) AS DOUBLE) AS cf FROM tok GROUP BY 1),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM tok),
s AS (SELECT doc_id, -log2(cf / total) AS s
      FROM tok JOIN cf USING (term) CROSS JOIN tot),
p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, avg(s) AS m
      FROM s GROUP BY 1)
SELECT d.doc_id,
  CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
  ROUND(COALESCE(p.m, 0), 6) AS mean_surprisal,
  ROUND(pow(2.0, COALESCE(p.m, 0)), 4) AS ppl
FROM documents d LEFT JOIN p USING (doc_id)
"""

_PAIRS["q115_unigram_surprisal"] = ("", _SURPRISAL_DUCK)


def _q_dismax_pf2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edismax pf2 through the REAL operators: 3-token query
    'src13 en doc' over field-a = source+lang+'doc' — every ADJACENT
    bigram ('src13 en', 'en doc') is its own SHOULD phrase clause, so
    docs holding only the 'en doc' tail still earn a partial boost the
    all-or-nothing pf (q66) can't give them."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.operators.fields import (
        build_field_norms,
        build_field_postings,
        dismax_search_fields,
    )
    from ckanext_extractor_spark.operators.normalize import (
        clean_metadata_keys,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prepared = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        clean_metadata_keys(
            F.create_map(
                F.lit("Field_A"),
                F.concat(F.col("source"), F.lit(" "), F.col("lang"),
                         F.lit(" doc")),
                F.lit("Field_B"),
                F.col("lang"),
            )
        ).alias("metadata"),
    )
    fp = build_field_postings(prepared)
    values = prepared.select(
        "doc_id", F.explode(F.col("metadata")).alias("field", "value")
    )
    out = dismax_search_fields(
        fp, "src13 en doc", {"field-a": 2.0, "field-b": 1.0}, k=10,
        tie=0.3, norms=build_field_norms(fp), pf2={"field-a": 1.5},
        values=values,
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


_DISMAX_PF2_DUCK = """
WITH fp0 AS (
  SELECT doc_id, 'field-a' AS field,
         unnest(list_filter(string_split_regex(
             lower(source || ' ' || lang || ' doc'),
             '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents
  UNION ALL
  SELECT doc_id, 'field-b' AS field,
         unnest(list_filter(string_split_regex(lower(lang),
             '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents
),
fp AS (SELECT doc_id, field, term, count(*) AS tf FROM fp0 GROUP BY 1, 2, 3),
dl AS (SELECT doc_id, field, sum(tf) AS dl FROM fp GROUP BY 1, 2),
st AS (SELECT field, CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
       FROM dl GROUP BY 1),
dft AS (SELECT field, term, CAST(count(*) AS DOUBLE) AS df FROM fp
        WHERE term IN ('src13', 'en', 'doc') GROUP BY 1, 2),
sc AS (
  SELECT fp.doc_id, fp.term,
         (CASE WHEN fp.field = 'field-a' THEN 2.0 ELSE 1.0 END)
         * ln(1 + (st.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         * (fp.tf * 2.2)
           / (fp.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
  FROM fp
  JOIN dl ON fp.doc_id = dl.doc_id AND fp.field = dl.field
  JOIN st ON fp.field = st.field
  JOIN dft ON fp.field = dft.field AND fp.term = dft.term
),
dm AS (SELECT doc_id, term, max(s) + 0.3 * (sum(s) - max(s)) AS ds
       FROM sc GROUP BY 1, 2),
qagg AS (SELECT doc_id, SUM(ds) AS qscore FROM dm GROUP BY doc_id),
pv AS (SELECT doc_id, 'field-a' AS field,
         list_filter(string_split_regex(
             lower(source || ' ' || lang || ' doc'),
             '[^a-z0-9]+'), x -> x <> '') AS ta
       FROM documents),
ptf AS (
  SELECT doc_id, field, 0 AS pid,
         CASE WHEN len(ta) >= 2 THEN len(list_filter(
                generate_series(1, len(ta) - 1),
                i -> ta[i:i+1] = ['src13', 'en']))
              ELSE 0 END AS ptf
  FROM pv
  UNION ALL
  SELECT doc_id, field, 1 AS pid,
         CASE WHEN len(ta) >= 2 THEN len(list_filter(
                generate_series(1, len(ta) - 1),
                i -> ta[i:i+1] = ['en', 'doc']))
              ELSE 0 END AS ptf
  FROM pv),
pidf AS (
  SELECT field, 0 AS pid,
         SUM(ln(1 + (st.n_docs - dft.df + 0.5) / (dft.df + 0.5))) AS pidf
  FROM dft JOIN st USING (field)
  WHERE field = 'field-a' AND term IN ('src13', 'en') GROUP BY field
  UNION ALL
  SELECT field, 1 AS pid,
         SUM(ln(1 + (st.n_docs - dft.df + 0.5) / (dft.df + 0.5))) AS pidf
  FROM dft JOIN st USING (field)
  WHERE field = 'field-a' AND term IN ('en', 'doc') GROUP BY field),
psc AS (SELECT p.doc_id, p.pid,
          1.5 * pidf.pidf * (p.ptf * 2.2)
            / (p.ptf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS ps
        FROM ptf p
        JOIN dl ON p.doc_id = dl.doc_id AND p.field = dl.field
        JOIN st ON p.field = st.field
        JOIN pidf ON p.field = pidf.field AND p.pid = pidf.pid
        WHERE p.ptf > 0),
pcl AS (SELECT doc_id, pid, max(ps) + 0.3 * (sum(ps) - max(ps)) AS v
        FROM psc GROUP BY 1, 2),
pagg AS (SELECT doc_id, SUM(v) AS pscore FROM pcl GROUP BY doc_id)
SELECT q.doc_id, ROUND(q.qscore + COALESCE(pa.pscore, 0), 4) AS score
FROM qagg q LEFT JOIN pagg pa ON q.doc_id = pa.doc_id
ORDER BY ROUND(q.qscore + COALESCE(pa.pscore, 0), 6) DESC, q.doc_id ASC
LIMIT 10
"""

_PAIRS["q116_dismax_pf2"] = ("", _DISMAX_PF2_DUCK)


def _q_span_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene SpanNearQuery(in_order=true, slop=2) through the real
    engine: 'scan fast table' with one position per term, strictly
    increasing in term order, TOTAL gap budget <= 2 — the third
    proximity semantics beside per-gap NEAR/n (q38) and the total-move
    sloppy phrase (q60). Oracle: exists positions a < b < c with
    c - a - 2 <= 2, ranked by the same conjunctive BM25."""
    import tempfile

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine
    from ckanext_extractor_spark.sources.corpus_source import (
        documents_as_corpus,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_spannear_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG,
    )
    eng.extract(corpus, build_id="entry-spannear")
    hits = eng.span_near_search("scan fast table", slop=2, k=10**9)
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in hits), key=lambda x: (-x[1], x[0])
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_SPAN_NEAR_DUCK = f"""
WITH t AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
        FROM t),
ph AS (SELECT DISTINCT a.doc_id FROM tok a
       JOIN tok b ON a.doc_id = b.doc_id AND b.pos > a.pos
       JOIN tok c ON c.doc_id = b.doc_id AND c.pos > b.pos
       WHERE a.term = 'scan' AND b.term = 'fast' AND c.term = 'table'
         AND c.pos - a.pos - 2 <= 2),
ranked AS ({_bm25_sql(DUCK_TOK, ["scan", "fast", "table"], True, None)})
SELECT r.doc_id, r.score FROM ranked r JOIN ph ON r.doc_id = ph.doc_id
ORDER BY r.score DESC, r.doc_id ASC LIMIT 10
"""

_PAIRS["q117_span_near"] = ("", _SPAN_NEAR_DUCK)


def _q_dismax_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edismax ps (sloppy phrase fields, VERDICT r4 #2) through the
    REAL operators: query 'src13 doc' over field-a = source+lang+'doc'
    — the lang token always sits between 'src13' and 'doc', so the
    EXACT pf phrase never fires (this plan with ps=0 ≡ plain qf,
    pinned in tests); at ps=1 the anchor-window sloppy tf bridges the
    one-token gap and src13 docs earn the additive phrase boost —
    slop demonstrably changes the scores vs the exact-pf q66/q116
    shape. tf semantics: |{anchors i : slot k occurs at adjusted
    position in [i, i+slop]}| (fields.sloppy_phrase_tf_expr)."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.operators.fields import (
        build_field_norms,
        build_field_postings,
        dismax_search_fields,
    )
    from ckanext_extractor_spark.operators.normalize import (
        clean_metadata_keys,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prepared = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        clean_metadata_keys(
            F.create_map(
                F.lit("Field_A"),
                F.concat(F.col("source"), F.lit(" "), F.col("lang"),
                         F.lit(" doc")),
                F.lit("Field_B"),
                F.col("lang"),
            )
        ).alias("metadata"),
    )
    fp = build_field_postings(prepared)
    values = prepared.select(
        "doc_id", F.explode(F.col("metadata")).alias("field", "value")
    )
    out = dismax_search_fields(
        fp, "src13 doc", {"field-a": 2.0, "field-b": 1.0}, k=10,
        tie=0.3, norms=build_field_norms(fp), pf={"field-a": 1.5},
        ps=1, values=values,
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


_DISMAX_PS_DUCK = """
WITH fp0 AS (
  SELECT doc_id, 'field-a' AS field,
         unnest(list_filter(string_split_regex(
             lower(source || ' ' || lang || ' doc'),
             '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents
  UNION ALL
  SELECT doc_id, 'field-b' AS field,
         unnest(list_filter(string_split_regex(lower(lang),
             '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents
),
fp AS (SELECT doc_id, field, term, count(*) AS tf FROM fp0 GROUP BY 1, 2, 3),
dl AS (SELECT doc_id, field, sum(tf) AS dl FROM fp GROUP BY 1, 2),
st AS (SELECT field, CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
       FROM dl GROUP BY 1),
dft AS (SELECT field, term, CAST(count(*) AS DOUBLE) AS df FROM fp
        WHERE term IN ('src13', 'doc') GROUP BY 1, 2),
sc AS (
  SELECT fp.doc_id, fp.term,
         (CASE WHEN fp.field = 'field-a' THEN 2.0 ELSE 1.0 END)
         * ln(1 + (st.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         * (fp.tf * 2.2)
           / (fp.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
  FROM fp
  JOIN dl ON fp.doc_id = dl.doc_id AND fp.field = dl.field
  JOIN st ON fp.field = st.field
  JOIN dft ON fp.field = dft.field AND fp.term = dft.term
),
dm AS (SELECT doc_id, term, max(s) + 0.3 * (sum(s) - max(s)) AS ds
       FROM sc GROUP BY 1, 2),
qagg AS (SELECT doc_id, SUM(ds) AS qscore FROM dm GROUP BY doc_id),
pv AS (SELECT doc_id, 'field-a' AS field,
         list_filter(string_split_regex(
             lower(source || ' ' || lang || ' doc'),
             '[^a-z0-9]+'), x -> x <> '') AS ta
       FROM documents),
ptf AS (
  -- sloppy anchor count, slop=1, phrase ['src13','doc']: anchors i in
  -- [2-n-slop, len] where slot k has a token at position in
  -- [i+k, i+k+slop] (same pinned semantics as sloppy_phrase_tf_expr)
  SELECT doc_id, field, 0 AS pid,
         CASE WHEN len(ta) >= 1 THEN len(list_filter(
                generate_series(-1, len(ta)),
                i -> len(list_filter(
                        generate_series(greatest(i, 1),
                                        least(i + 1, len(ta))),
                        q -> ta[q] = 'src13')) > 0
                 AND len(list_filter(
                        generate_series(greatest(i + 1, 1),
                                        least(i + 2, len(ta))),
                        q -> ta[q] = 'doc')) > 0))
              ELSE 0 END AS ptf
  FROM pv),
pidf AS (
  SELECT field, 0 AS pid,
         SUM(ln(1 + (st.n_docs - dft.df + 0.5) / (dft.df + 0.5))) AS pidf
  FROM dft JOIN st USING (field)
  WHERE field = 'field-a' AND term IN ('src13', 'doc') GROUP BY field),
psc AS (SELECT p.doc_id, p.pid,
          1.5 * pidf.pidf * (p.ptf * 2.2)
            / (p.ptf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS ps
        FROM ptf p
        JOIN dl ON p.doc_id = dl.doc_id AND p.field = dl.field
        JOIN st ON p.field = st.field
        JOIN pidf ON p.field = pidf.field AND p.pid = pidf.pid
        WHERE p.ptf > 0),
pcl AS (SELECT doc_id, pid, max(ps) + 0.3 * (sum(ps) - max(ps)) AS v
        FROM psc GROUP BY 1, 2),
pagg AS (SELECT doc_id, SUM(v) AS pscore FROM pcl GROUP BY doc_id)
SELECT q.doc_id, ROUND(q.qscore + COALESCE(pa.pscore, 0), 4) AS score
FROM qagg q LEFT JOIN pagg pa ON q.doc_id = pa.doc_id
ORDER BY ROUND(q.qscore + COALESCE(pa.pscore, 0), 6) DESC, q.doc_id ASC
LIMIT 10
"""

_PAIRS["q118_dismax_ps"] = ("", _DISMAX_PS_DUCK)


def _q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-Lloyd coarse quantizer (VERDICT r4 #3): one k-means
    round from the 8 smallest-id seeds (assign by pinned-tie max
    cosine, centroid = per-dimension mean, empty cluster keeps its
    seed), then the full-corpus IVF assignment against the refined
    centroids — the 100 TB shape that replaces pinned seeds with real
    cluster granularity while staying deterministic (centroids are a
    pure function of the table) and SQL-checkable."""
    from ckanext_extractor_spark.functions.similarity import (
        ivf_assign,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_centroids(emb, n_clusters=8, rounds=1)
    return ivf_assign(emb, centroids=cents).orderBy("vec_id")


_KMEANS_ASSIGN_DUCK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
          FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
a0 AS (SELECT vec_id, cid FROM
  (SELECT e.vec_id, s.cid, row_number() OVER
     (PARTITION BY e.vec_id ORDER BY
        ROUND(list_dot_product(e.v, s.c)
          / (sqrt(list_dot_product(e.v, e.v))
             * sqrt(list_dot_product(s.c, s.c))), 6) DESC,
        s.cid ASC) AS rn
   FROM e CROSS JOIN seeds s)
  WHERE rn = 1),
dims AS (SELECT a0.cid, generate_subscripts(e.v, 1) AS pos,
                unnest(e.v) AS val
         FROM a0 JOIN e USING (vec_id)),
m AS (SELECT cid, pos, avg(val) AS mv FROM dims GROUP BY 1, 2),
c1 AS (SELECT s.cid,
         CASE WHEN count(m.mv) = 0 THEN any_value(s.c)
              ELSE list(m.mv ORDER BY m.pos) END AS c
       FROM seeds s LEFT JOIN m ON s.cid = m.cid GROUP BY s.cid),
a1 AS (SELECT vec_id, cid FROM
  (SELECT e.vec_id, c1.cid, row_number() OVER
     (PARTITION BY e.vec_id ORDER BY
        ROUND(list_dot_product(e.v, c1.c)
          / (sqrt(list_dot_product(e.v, e.v))
             * sqrt(list_dot_product(c1.c, c1.c))), 6) DESC,
        c1.cid ASC) AS rn
   FROM e CROSS JOIN c1)
  WHERE rn = 1)
SELECT vec_id, cid AS cluster_id FROM a1 ORDER BY vec_id
"""

_PAIRS["q119_kmeans_assign"] = ("", _KMEANS_ASSIGN_DUCK)


def _q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the 1-round k-means sketch (q119's centroids):
    probe the 2 nearest of 8 refined clusters for vec 0's embedding,
    exact cosine within — the q114 shape with real centroids."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.functions.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_centroids(emb, n_clusters=8, rounds=1)
    qvec = [
        float(x)
        for x in emb.where("vec_id = 0").head()["embedding"]
    ]
    out = ivf_topk(emb, qvec, k=10, nprobe=2, centroids=cents)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


_IVF_KMEANS_DUCK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
          FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
a0 AS (SELECT vec_id, cid FROM
  (SELECT e.vec_id, s.cid, row_number() OVER
     (PARTITION BY e.vec_id ORDER BY
        ROUND(list_dot_product(e.v, s.c)
          / (sqrt(list_dot_product(e.v, e.v))
             * sqrt(list_dot_product(s.c, s.c))), 6) DESC,
        s.cid ASC) AS rn
   FROM e CROSS JOIN seeds s)
  WHERE rn = 1),
dims AS (SELECT a0.cid, generate_subscripts(e.v, 1) AS pos,
                unnest(e.v) AS val
         FROM a0 JOIN e USING (vec_id)),
m AS (SELECT cid, pos, avg(val) AS mv FROM dims GROUP BY 1, 2),
c1 AS (SELECT s.cid,
         CASE WHEN count(m.mv) = 0 THEN any_value(s.c)
              ELSE list(m.mv ORDER BY m.pos) END AS c
       FROM seeds s LEFT JOIN m ON s.cid = m.cid GROUP BY s.cid),
a1 AS (SELECT vec_id, cid FROM
  (SELECT e.vec_id, c1.cid, row_number() OVER
     (PARTITION BY e.vec_id ORDER BY
        ROUND(list_dot_product(e.v, c1.c)
          / (sqrt(list_dot_product(e.v, e.v))
             * sqrt(list_dot_product(c1.c, c1.c))), 6) DESC,
        c1.cid ASC) AS rn
   FROM e CROSS JOIN c1)
  WHERE rn = 1),
probe AS (SELECT cid FROM
  (SELECT c1.cid, list_dot_product(c1.c, qv)
     / (sqrt(list_dot_product(c1.c, c1.c))
        * sqrt(list_dot_product(qv, qv))) AS qc
   FROM c1 CROSS JOIN q)
  ORDER BY ROUND(qc, 6) DESC, cid ASC LIMIT 2),
s AS (SELECT e.vec_id, list_dot_product(v, qv)
  / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
  FROM e CROSS JOIN q
  WHERE e.vec_id IN (SELECT vec_id FROM a1
                     WHERE cid IN (SELECT cid FROM probe)))
SELECT vec_id, ROUND(c, 4) AS cosine FROM s
ORDER BY ROUND(c, 6) DESC, vec_id ASC LIMIT 10
"""

_PAIRS["q120_ivf_kmeans_topk"] = ("", _IVF_KMEANS_DUCK)


def _q_synonym_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-word synonym expansion through the REAL engine (VERDICT
    r4 #4; Solr SynonymGraphFilter expand=true, schema.xml:61): query
    'stream' with synonym 'merge join' — the two-word target joins the
    OR-group as a PHRASE member resolved against the positions index,
    so docs holding 'merge join' ADJACENTLY are admitted even without
    'stream' (docs with the words apart are not), scored PhraseWeight
    BM25 (idf = sum of member idfs, tf = phrase start count)."""
    import tempfile

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine
    from ckanext_extractor_spark.sources.corpus_source import (
        documents_as_corpus,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_synphrase_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG,
    )
    eng.extract(corpus, build_id="entry-synphrase")
    # overfetch + re-rank on (rounded score, ORIGINAL id): the engine's
    # internal k-cut breaks unrounded ties by engine hash id, which the
    # oracle can't see (code-review r5 finding)
    hits = eng.search("stream", k=10**9,
                      synonyms={"stream": ["merge join"]})
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in hits),
        key=lambda x: (-round(x[1], 6), x[0]),
    )[:10]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_SYN_PHRASE_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY 1),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(doc_len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM (SELECT d.doc_id, COALESCE(dl.doc_len, 0) AS doc_len
        FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id) x),
df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
term_member AS (
  SELECT tf.doc_id,
         ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.doc_len / s.avgdl))
           AS ms
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s WHERE tf.term = 'stream'),
ta AS (SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS ta
       FROM documents),
ptf AS (SELECT doc_id,
          CASE WHEN len(ta) >= 2 THEN len(list_filter(
                 generate_series(1, len(ta) - 1),
                 i -> ta[i:i+1] = ['merge', 'join']))
               ELSE 0 END AS ptf
        FROM ta),
pidf AS (SELECT SUM(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)))
                AS v
         FROM df CROSS JOIN stats s WHERE term IN ('merge', 'join')),
phrase_member AS (
  SELECT p.doc_id,
         pidf.v * (p.ptf * 2.2)
           / (p.ptf + 1.2 * (1.0 - 0.75 + 0.75 * dl.doc_len / s.avgdl))
           AS ms
  FROM ptf p JOIN dl USING (doc_id)
  CROSS JOIN stats s CROSS JOIN pidf
  WHERE p.ptf > 0),
members AS (SELECT * FROM term_member
            UNION ALL SELECT * FROM phrase_member),
agg AS (SELECT doc_id, SUM(ms) AS score FROM members GROUP BY doc_id)
SELECT doc_id, ROUND(score, 4) AS score FROM agg
ORDER BY ROUND(score, 6) DESC, doc_id ASC LIMIT 10
"""

_PAIRS["q121_synonym_phrase"] = ("", _SYN_PHRASE_DUCK)


def _q_tfidf_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine top-k neighbors per document (inverted-
    index self-join, Bayardo WWW'07 shape) over the doc_id%10 slice —
    the all-pairs text-similarity stage of a dedup/clustering
    pipeline. Weights are 6dp-rounded BEFORE pairing so both engines
    multiply identical values."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.functions.vectorize import (
        tfidf_neighbors_topk,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 10 == 0
    )
    return tfidf_neighbors_topk(docs, k=5, dim=256)


_TFIDF_NBR_DUCK = f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
        '[^a-z0-9]+'), x -> x <> '')) AS term FROM d),
tf AS (SELECT doc_id, {DUCK_H60.format(x='term')} % 256 AS bucket,
       CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY 1, 2),
bdf AS (SELECT bucket, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
w0 AS (SELECT doc_id, bucket, tf * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS w
       FROM tf JOIN bdf USING (bucket) CROSS JOIN n),
w AS (SELECT doc_id, bucket,
      ROUND(w / sqrt(sum(w * w) OVER (PARTITION BY doc_id)), 6) AS weight
      FROM w0),
pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
          ROUND(SUM(a.weight * b.weight), 6) AS cosine
          FROM w a JOIN w b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
dir AS (SELECT ida AS doc_id, idb AS neighbor_id, cosine FROM pairs
        UNION ALL SELECT idb, ida, cosine FROM pairs)
SELECT doc_id, neighbor_id, cosine FROM (
  SELECT doc_id, neighbor_id, cosine, row_number() OVER (
    PARTITION BY doc_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM dir) WHERE rn <= 5
"""

_PAIRS["q122_tfidf_neighbors"] = ("", _TFIDF_NBR_DUCK)


def _q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained on the corpus's own lang labels
    (hashing-trick buckets, the fastText-ish linear filter of CCNet /
    RedPajama expressed as hash aggregates + one broadcast-model join),
    then every doc scored and argmax'd. Model log-probs are 6dp-rounded
    at train time so both engines score from identical values."""
    from ckanext_extractor_spark.functions.classify import (
        nb_classify,
        nb_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = nb_train(docs, label_col="lang", dim=64)
    return nb_classify(docs, model, dim=64)


_NB_DUCK_BODY = f"""
tok AS ({DUCK_TOK}),
lab AS (SELECT doc_id, lang AS label FROM documents
        WHERE lang IS NOT NULL AND text IS NOT NULL),
ltok AS (SELECT l.label, {DUCK_H60.format(x='t.term')} % 64 AS bucket
         FROM tok t JOIN lab l USING (doc_id)),
counts AS (SELECT label, bucket, CAST(count(*) AS DOUBLE) AS cnt
           FROM ltok GROUP BY 1, 2),
totals AS (SELECT label, sum(cnt) AS tot FROM counts GROUP BY 1),
cond AS (SELECT label, bucket,
         ROUND(ln((cnt + 1.0) / (tot + 64.0)), 6) AS lp
         FROM counts JOIN totals USING (label)),
nlab AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM lab),
priors AS (SELECT label, ROUND(ln(count(*) / n), 6) AS prior
           FROM lab CROSS JOIN nlab GROUP BY label, n),
defaults AS (SELECT label, ROUND(ln(1.0 / (tot + 64.0)), 6) AS dflt
             FROM totals),
labels AS (SELECT label, prior, dflt
           FROM priors JOIN defaults USING (label)),
tf AS (SELECT doc_id, {DUCK_H60.format(x='term')} % 64 AS bucket,
       CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY 1, 2),
contrib AS (SELECT d.doc_id, l.label, l.prior,
            COALESCE(SUM(tf.tf * COALESCE(c.lp, l.dflt)), 0.0) AS csum
            FROM documents d CROSS JOIN labels l
            LEFT JOIN tf ON tf.doc_id = d.doc_id
            LEFT JOIN cond c ON c.label = l.label AND c.bucket = tf.bucket
            GROUP BY 1, 2, 3),
scored AS (SELECT doc_id, label, ROUND(prior + csum, 6) AS score
           FROM contrib),
pred AS (SELECT doc_id, label AS pred_label, score FROM (
  SELECT doc_id, label, score, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rn
  FROM scored) WHERE rn = 1)
"""

_NB_DUCK = (
    "WITH " + _NB_DUCK_BODY
    + "SELECT doc_id, pred_label, score FROM pred"
)

_PAIRS["q123_nb_classify"] = ("", _NB_DUCK)


def _q_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the q123 self-classifier vs the true lang
    labels — the evaluate step of the train-a-corpus-filter loop."""
    from ckanext_extractor_spark.functions.classify import (
        nb_classify,
        nb_evaluate,
        nb_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = nb_train(docs, label_col="lang", dim=64)
    pred = nb_classify(docs, model, dim=64)
    return nb_evaluate(pred, docs, label_col="lang")


_NB_CONF_DUCK = (
    "WITH " + _NB_DUCK_BODY
    + """
SELECT d.lang AS true_label, p.pred_label, count(*) AS n
FROM documents d JOIN pred p USING (doc_id)
GROUP BY 1, 2
"""
)

_PAIRS["q124_nb_confusion"] = ("", _NB_CONF_DUCK)


def _q_srp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic signed random projection (Achlioptas ±1 JL
    sketch): 64-d float embeddings down to 8 components, the sign
    matrix derived in-plan from the pinned portable md5 hash of
    'srp:i:j' — no RNG state, reproducible across engines."""
    from ckanext_extractor_spark.functions.projection import srp_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return srp_project(emb, out_dim=8)


_SRP_SIGN = ("CASE WHEN (('0x'||substr(md5('srp:'||{i}||':'||{j}),1,15))"
             "::BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END")

_SRP_PROJ_BODY = f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
x AS (SELECT vec_id, unnest(range(0, len(v))) AS i, unnest(v) AS x FROM e),
sp AS (SELECT ii.i, jj.j, {_SRP_SIGN.format(i='ii.i', j='jj.j')} AS s
       FROM (SELECT unnest(range(0, 64)) AS i) ii
       CROSS JOIN (SELECT unnest(range(0, {{nj}})) AS j) jj),
proj AS (SELECT vec_id, j, ROUND(SUM(x.x * sp.s), 6) AS value
         FROM x JOIN sp ON x.i = sp.i GROUP BY 1, 2)
"""

_SRP_PROJ_DUCK = (
    "WITH " + _SRP_PROJ_BODY.format(nj=8)
    + "SELECT vec_id, j, value FROM proj"
)

_PAIRS["q125_srp_project"] = ("", _SRP_PROJ_DUCK)


def _q_srp_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charikar-SimHash binary signatures over embeddings: 16 SRP sign
    bits packed little-endian into one BIGINT — the cheapest
    embedding-near-dup blocking key (hamming ~ angular distance)."""
    from ckanext_extractor_spark.functions.projection import srp_bits

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return srp_bits(emb, n_bits=16)


_SRP_BITS_DUCK = (
    "WITH " + _SRP_PROJ_BODY.format(nj=16)
    + """
SELECT vec_id,
  CAST(SUM(CASE WHEN value >= 0
       THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS bits
FROM proj GROUP BY 1
"""
)

_PAIRS["q126_srp_bits"] = ("", _SRP_BITS_DUCK)


def _q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (Jégou et al. 2011): 64-d embeddings
    cut into 4 subspaces of 16, each snapped to the nearest of 8
    pinned-seed codebook centroids by squared L2 (ties pinned d6 asc,
    code asc) — 4 small ints replace 256 bytes per vector."""
    from ckanext_extractor_spark.functions.projection import (
        pq_codebooks,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_codebooks(emb, m=4, n_codes=8, rounds=0)
    return pq_encode(emb, books)


_PQ_BODY = """
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sub AS (SELECT vec_id, ss.s, list_slice(v, ss.s * 16 + 1, ss.s * 16 + 16)
        AS sv FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS s) ss),
seedids AS (SELECT vec_id,
            row_number() OVER (ORDER BY vec_id) - 1 AS code
            FROM e ORDER BY vec_id LIMIT 8),
cents AS (SELECT sub.s, seedids.code, sub.sv AS cent
          FROM sub JOIN seedids USING (vec_id)),
dist AS (SELECT x.vec_id, x.s, c.code,
         ROUND(list_sum(list_transform(range(1, 17),
           i -> (x.sv[i] - c.cent[i]) * (x.sv[i] - c.cent[i]))), 6) AS d
         FROM sub x JOIN cents c ON x.s = c.s),
enc AS (SELECT vec_id, s AS subspace, code FROM
        (SELECT vec_id, s, code, row_number() OVER (
           PARTITION BY vec_id, s ORDER BY d ASC, code ASC) AS rn
         FROM dist) WHERE rn = 1)
"""

_PQ_ENCODE_DUCK = (
    "WITH " + _PQ_BODY
    + "SELECT vec_id, CAST(subspace AS INT) AS subspace, "
      "CAST(code AS INT) AS code FROM enc"
)

_PAIRS["q127_pq_encode"] = ("", _PQ_ENCODE_DUCK)


def _q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 for vec 0's embedding over the PQ codes: per-query
    lookup table (m x n_codes subspace dot products, a driver-side
    sketch) broadcast-joined to the code column — the scan never
    touches the float vectors."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.functions.projection import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_codebooks(emb, m=4, n_codes=8, rounds=0)
    codes = pq_encode(emb, books)
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return pq_adc_topk(codes, books, qv, k=10)


_PQ_ADC_DUCK = (
    "WITH " + _PQ_BODY
    + """,
q AS (SELECT v FROM e WHERE vec_id = 0),
tab AS (SELECT c.s, c.code,
        ROUND(list_dot_product(
          list_slice(q.v, c.s * 16 + 1, c.s * 16 + 16), c.cent), 6)
        AS part FROM cents c CROSS JOIN q)
SELECT enc.vec_id, ROUND(SUM(tab.part), 6) AS score
FROM enc JOIN tab ON tab.s = enc.subspace AND tab.code = enc.code
GROUP BY 1 ORDER BY score DESC, vec_id ASC LIMIT 10
"""
)

_PAIRS["q128_pq_adc_topk"] = ("", _PQ_ADC_DUCK)


def _q_srp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-SRP embedding near-dup pairs: 24 sign bits in 3 bands of
    8 — candidates collide on any band, survive at hamming <= 8; bits
    never leave integer space (no float verify at all)."""
    from ckanext_extractor_spark.functions.projection import (
        srp_neardup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return srp_neardup_pairs(emb, n_bits=24, n_bands=3, max_hamming=8)


_SRP_NDUP_DUCK = (
    "WITH " + _SRP_PROJ_BODY.format(nj=24)
    + """,
bt AS (SELECT vec_id,
       CAST(SUM(CASE WHEN value >= 0
            THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT)
       AS bits FROM proj GROUP BY 1),
bands AS (SELECT vec_id, bits, bb.b,
          (bits >> CAST(bb.b * 8 AS INT)) & 255 AS key
          FROM bt CROSS JOIN (SELECT unnest(range(0, 3)) AS b) bb),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         a.bits AS ba, b.bits AS bb
         FROM bands a JOIN bands b
         ON a.b = b.b AND a.key = b.key AND a.vec_id < b.vec_id)
SELECT id_a, id_b, CAST(bit_count(xor(ba, bb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ba, bb)) <= 8
"""
)

_PAIRS["q129_srp_neardup"] = ("", _SRP_NDUP_DUCK)


def _q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS IVF8,PQ4 shape): pinned-seed coarse probe
    (nprobe=2 of 8) prunes the corpus, ADC scores the survivors from
    their PQ codes alone — the scan never touches the float vectors."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.functions.projection import (
        ivfpq_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_codebooks(emb, m=4, n_codes=8, rounds=0)
    codes = pq_encode(emb, books)
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return ivfpq_topk(codes, books, qv, k=10, nprobe=2,
                      embeddings=emb, n_clusters=8)


_IVFPQ_DUCK = (
    "WITH " + _PQ_BODY
    + """,
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
ivfseeds AS (SELECT vec_id AS sid, v AS svec FROM e
             ORDER BY vec_id LIMIT 8),
cosd AS (SELECT e.vec_id, sid,
  list_dot_product(v, svec)
    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(svec, svec)))
  AS c FROM e CROSS JOIN ivfseeds),
assign AS (SELECT vec_id, sid AS cluster_id FROM
  (SELECT vec_id, sid, row_number() OVER
     (PARTITION BY vec_id ORDER BY ROUND(c, 6) DESC, sid ASC) AS rn
   FROM cosd) WHERE rn = 1),
probe AS (SELECT sid FROM
  (SELECT sid, list_dot_product(svec, qv)
     / (sqrt(list_dot_product(svec, svec)) * sqrt(list_dot_product(qv, qv)))
     AS qc FROM ivfseeds CROSS JOIN q)
  ORDER BY ROUND(qc, 6) DESC, sid ASC LIMIT 2),
tab AS (SELECT c.s, c.code,
        ROUND(list_dot_product(
          list_slice(q.qv, c.s * 16 + 1, c.s * 16 + 16), c.cent), 6)
        AS part FROM cents c CROSS JOIN q)
SELECT enc.vec_id, ROUND(SUM(tab.part), 6) AS score
FROM enc JOIN tab ON tab.s = enc.subspace AND tab.code = enc.code
WHERE enc.vec_id IN (SELECT vec_id FROM assign
                     WHERE cluster_id IN (SELECT sid FROM probe))
GROUP BY 1 ORDER BY score DESC, vec_id ASC LIMIT 10
"""
)

_PAIRS["q130_ivfpq_topk"] = ("", _IVFPQ_DUCK)


def _q_pq_packed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC over PACKED codes (one row per vector, array<int> — the
    production storage layout): literal-table lookup projection +
    TakeOrdered, zero shuffle at query time. Same scores as q128's
    EAV-join form by construction; hash-gated against the same SQL."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.functions.projection import (
        pq_adc_topk_packed,
        pq_codebooks,
        pq_encode_packed,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_codebooks(emb, m=4, n_codes=8, rounds=0)
    codes = pq_encode_packed(emb, books)
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return pq_adc_topk_packed(codes, books, qv, k=10)


_PAIRS["q131_pq_packed_topk"] = ("", _PQ_ADC_DUCK)


def _q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming tumbling-window aggregate over the events
    table: readStream -> watermark -> window(1h) x event_type ->
    availableNow catch-up run into a parquet sink, read back. The
    streaming plan's complete-mode result equals the plain batch GROUP
    BY — hash-gated against DuckDB date_trunc."""
    import os
    import tempfile

    from ckanext_extractor_spark.streaming.windows import (
        stream_windowed_event_stats,
    )

    root = tempfile.mkdtemp(prefix="entry_stream_win_")
    # the file streaming source needs a directory; events.parquet is a file
    os.mkdir(f"{root}/in")
    os.symlink(f"{sf_dir}/events.parquet", f"{root}/in/events.parquet")
    return stream_windowed_event_stats(
        spark,
        f"{root}/in",
        checkpoint_dir=f"{root}/ckpt",
        out_dir=f"{root}/out",
        window="1 hour",
        watermark="2 hours",
        mode="complete",
    )


_STREAM_WIN_DUCK = """
SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS win_start_us,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""

_PAIRS["q132_stream_window_counts"] = ("", _STREAM_WIN_DUCK)


def _q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-minute inactivity gap) via the
    built-in session_window — gap-merge semantics (touching sessions
    coalesce: break iff ts - prev_ts > gap; close at last_ts + gap)
    hash-gated against a lag/cumsum SQL oracle with exact epoch-micros
    boundaries."""
    from ckanext_extractor_spark.streaming.windows import (
        session_event_stats,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_event_stats(events, gap="30 minutes")


_SESSION_WIN_DUCK = """
WITH o AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
  CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
  CAST(epoch_us(MAX(ts)) AS BIGINT) + 1800000000 AS session_end_us,
  CAST(count(*) AS BIGINT) AS n_events,
  ROUND(SUM(value), 6) AS sum_value
FROM s GROUP BY user_id, sid
"""

_PAIRS["q133_session_windows"] = ("", _SESSION_WIN_DUCK)


def _q_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals carried in GroupState across micro-batches;
    the latest emission per user equals the batch GROUP BY — the
    pinned contract that makes arbitrary stateful ops oracle-checkable."""
    import os
    import tempfile

    from ckanext_extractor_spark.streaming.windows import (
        stateful_user_totals_stream,
    )

    root = tempfile.mkdtemp(prefix="entry_stream_state_")
    os.mkdir(f"{root}/in")
    os.symlink(f"{sf_dir}/events.parquet", f"{root}/in/events.parquet")
    return stateful_user_totals_stream(
        spark,
        f"{root}/in",
        checkpoint_dir=f"{root}/ckpt",
        out_dir=f"{root}/out",
    )


_STATEFUL_TOTALS_DUCK = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM events GROUP BY user_id
"""

_PAIRS["q134_stateful_user_totals"] = ("", _STATEFUL_TOTALS_DUCK)


def _q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust-winnowing fingerprints (Schleimer et al. SIGMOD'03, MOSS):
    k=5-token gram hashes, w=4-gram windows, rightmost minimum per
    window — one whole-stage-codegen projection, zero shuffle. The
    oracle replicates the window argmin with a HUGEINT packing trick
    (min of h*2^20 + (2^20-1-pos) == smallest hash, rightmost pos)."""
    from ckanext_extractor_spark.functions.fingerprint import (
        winnow_fingerprints,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_fingerprints(docs, k=5, w=4)


_WINNOW_CTE = """
t AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
    (('0x' || substr(md5(array_to_string(toks[i+1 : i+5], ' ')), 1, 15))
      ::BIGINT) AS h,
    len(toks) - 4 AS n_grams
  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 5 + 1)) AS i
        FROM t WHERE len(toks) >= 5)
),
m AS (
  SELECT doc_id, pos, n_grams,
    min((h::HUGEINT) * 1048576 + (1048575 - pos)) OVER (
      PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
  FROM g
),
fp AS (
  SELECT DISTINCT doc_id,
    CAST(1048575 - (sel % 1048576) AS BIGINT) AS pos,
    CAST(sel // 1048576 AS BIGINT) AS fp
  FROM m
  WHERE pos >= 3 OR pos = n_grams - 1
)
"""

_WINNOW_DUCK = f"WITH {_WINNOW_CTE} SELECT doc_id, pos, fp FROM fp"

_PAIRS["q135_winnow_fingerprints"] = ("", _WINNOW_DUCK)


def _q_fingerprint_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing candidate pairs: docs sharing >= 2 distinct fingerprint
    hashes (boilerplate fingerprints in > 100 docs dropped BEFORE the
    self-join — the degenerate-bucket guard)."""
    from ckanext_extractor_spark.functions.fingerprint import (
        fingerprint_candidates,
        winnow_fingerprints,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fps = winnow_fingerprints(docs, k=5, w=4)
    return fingerprint_candidates(fps, min_shared=2, max_df=100)


_FP_PAIRS_DUCK = f"""
WITH {_WINNOW_CTE},
keyed AS (SELECT DISTINCT doc_id, fp FROM fp),
hot AS (
  SELECT fp FROM keyed GROUP BY fp
  HAVING count(*) >= 2 AND count(*) <= 100
),
kept AS (SELECT k.doc_id, k.fp FROM keyed k JOIN hot USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""

_PAIRS["q136_fingerprint_candidates"] = ("", _FP_PAIRS_DUCK)


def _q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup (applyInPandasWithState keyed by content
    hash): emit each distinct text exactly once with the deterministic
    min-doc_id representative — equals the batch GROUP BY when the
    input lands in one micro-batch (earliest-batch-wins across batches
    is pinned by test)."""
    import os
    import tempfile

    from ckanext_extractor_spark.streaming.dedup import (
        stream_dedup_documents,
    )

    root = tempfile.mkdtemp(prefix="entry_stream_dedup_")
    os.mkdir(f"{root}/in")
    os.symlink(f"{sf_dir}/documents.parquet", f"{root}/in/documents.parquet")
    return stream_dedup_documents(
        spark,
        f"{root}/in",
        checkpoint_dir=f"{root}/ckpt",
        out_dir=f"{root}/out",
    )


_STREAM_DEDUP_DUCK = """
SELECT md5(text) AS content_md5,
       CAST(min(doc_id) AS BIGINT) AS doc_id
FROM documents GROUP BY 1
"""

_PAIRS["q137_stream_dedup"] = ("", _STREAM_DEDUP_DUCK)


def _q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity (Jelinek-Mercer, lam=0.75 so
    1-lam is binary-exact) — the KenLM-shaped quality filter trained on
    the corpus's own counts; first token scores unigram, the rest
    interpolate p_bi and p_uni."""
    from ckanext_extractor_spark.functions.textstats import (
        bigram_perplexity,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_perplexity(docs, lam=0.75)


_BIGRAM_PPL_DUCK = """
WITH t AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
              x -> x <> '') AS toks
  FROM documents),
u AS (SELECT doc_id, toks[i] AS term, i
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
            FROM t)),
bg AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS w
       FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
             FROM t WHERE len(toks) >= 2)),
cf AS (SELECT term, CAST(count(*) AS DOUBLE) AS cf FROM u GROUP BY 1),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM u),
bcf AS (SELECT prev, w, CAST(count(*) AS DOUBLE) AS bcf
        FROM bg GROUP BY 1, 2),
hist AS (SELECT prev, sum(bcf) AS hist FROM bcf GROUP BY 1),
fb AS (SELECT doc_id, -log2(cf / total) AS bits
       FROM u JOIN cf USING (term) CROSS JOIN tot WHERE i = 1),
rb AS (SELECT bg.doc_id,
         -log2(0.75 * (bcf / hist) + 0.25 * (cf / total)) AS bits
       FROM bg JOIN bcf USING (prev, w) JOIN hist USING (prev)
       JOIN cf ON cf.term = bg.w CROSS JOIN tot),
p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, avg(bits) AS m
      FROM (SELECT * FROM fb UNION ALL SELECT * FROM rb) GROUP BY 1)
SELECT d.doc_id,
  CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
  ROUND(COALESCE(p.m, 0), 6) AS mean_bits,
  ROUND(pow(2.0, COALESCE(p.m, 0)), 4) AS ppl
FROM documents d LEFT JOIN p USING (doc_id)
"""

_PAIRS["q138_bigram_perplexity"] = ("", _BIGRAM_PPL_DUCK)


def _q_group_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host/domain document cap (C4/RefinedWeb-style): keep at most
    7 docs per source, survivors picked by the deterministic
    (md5(id||salt), id) in-group rank."""
    from ckanext_extractor_spark.functions.sampling import group_quota

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return group_quota(
        docs.select("doc_id", "source"), "source", 7, salt="q5"
    )


_GROUP_QUOTA_DUCK = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || 'q5'), doc_id
         ) AS rn
  FROM documents)
WHERE rn <= 7
"""

_PAIRS["q139_group_quota"] = ("", _GROUP_QUOTA_DUCK)


def _q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pass (quality rules -> exact dedup -> per-
    source quota -> split) in ONE plan: every stage bites on this
    corpus (token band drops short/long docs, dedup drops repeated
    texts, quota caps each of the 20 sources at 12, split labels
    survivors 25/75)."""
    from ckanext_extractor_spark.functions.curate import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curate_corpus(
        docs, min_tokens=30, max_tokens=90, min_alpha_ratio=0.8,
        min_distinct_ratio=0.35, quota_per_group=12, test_frac=0.25,
        salt="c5",
    )


_CURATE_DUCK = """
WITH toks AS (SELECT doc_id, source, text,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
              x -> x <> '') AS tk
  FROM documents),
feat AS (SELECT doc_id, source, md5(text) AS chash,
  len(tk) AS n_tokens,
  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
    / greatest(length(text), 1) AS alpha_ratio,
  CASE WHEN len(tk) > 0
       THEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
       ELSE 0.0 END AS distinct_ratio
  FROM toks),
kept AS (SELECT * FROM feat
  WHERE n_tokens BETWEEN 30 AND 90
    AND alpha_ratio >= 0.8 AND distinct_ratio >= 0.35),
dedup AS (SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY chash ORDER BY doc_id)
      AS dr FROM kept) WHERE dr = 1),
quota AS (SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY source
      ORDER BY md5(CAST(doc_id AS VARCHAR) || 'c5:quota'), doc_id)
      AS qr
    FROM dedup) WHERE qr <= 12)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
  ROUND(alpha_ratio, 6) AS alpha_ratio,
  ROUND(distinct_ratio, 6) AS distinct_ratio,
  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'c5'), 1, 4) < '4000'
       THEN 'test' ELSE 'train' END AS split
FROM quota
"""

_PAIRS["q140_curate_corpus"] = ("", _CURATE_DUCK)


_PAIRS["q90_neardup_clusters"] = (
    "",
    f"WITH RECURSIVE {_CC_COMP_DUCK} "
    "SELECT CAST(id AS BIGINT) AS doc_id, "
    "CAST(cluster_id AS BIGINT) AS cluster_id FROM comp ORDER BY doc_id",
)

_PAIRS["q91_dedup_representatives"] = (
    "",
    f"WITH RECURSIVE {_CC_COMP_DUCK} "
    "SELECT CAST(d.doc_id AS BIGINT) AS doc_id "
    "FROM documents d LEFT JOIN comp c ON d.doc_id = c.id "
    "WHERE d.doc_id % 10 = 0 "
    "AND (c.id IS NULL OR c.cluster_id = d.doc_id) ORDER BY doc_id",
)


# -- SpanNotQuery: include span minus dilated exclude windows ---------------
def _q_span_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene SpanNotQuery through the real engine: ordered 'scan fast'
    spans (slop=1) that have NO 'table' position inside [first,
    last + 1] (post=1). Returns the FULL surviving match set with
    conjunctive BM25 scores so the hash certifies the span-minus-
    exclude logic, not just a top-k prefix. Oracle: exists positions
    a < b, b - a - 1 <= 1, with no 'table' in [a, b + 1] (all-pairs ≡
    minimal-per-start by span dominance — the kill zone grows with the
    window)."""
    import tempfile

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine
    from ckanext_extractor_spark.sources.corpus_source import (
        documents_as_corpus,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_spannot_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG,
    )
    eng.extract(corpus, build_id="entry-spannot")
    hits = eng.span_not_search("scan fast", "table", slop=1, k=10**9,
                               post=1)
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in hits), key=lambda x: (-x[1], x[0])
    )
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_SPAN_NOT_DUCK = f"""
WITH t AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
        FROM t),
surv AS (SELECT DISTINCT a.doc_id FROM tok a
  JOIN tok b ON a.doc_id = b.doc_id AND b.term = 'fast'
    AND b.pos > a.pos AND b.pos - a.pos - 1 <= 1
  WHERE a.term = 'scan' AND NOT EXISTS (
    SELECT 1 FROM tok e WHERE e.doc_id = a.doc_id AND e.term = 'table'
      AND e.pos BETWEEN a.pos AND b.pos + 1)),
ranked AS ({_bm25_sql(DUCK_TOK, ["scan", "fast"], True, None)})
SELECT r.doc_id, r.score FROM ranked r JOIN surv ON r.doc_id = surv.doc_id
ORDER BY r.score DESC, r.doc_id ASC
"""
_PAIRS["q144_span_not"] = ("", _SPAN_NOT_DUCK)


# -- passage retrieval: chunk-level BM25 + per-doc collapse (RAG shape) -----
def _q_passage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-passage retrieval: BM25 over 32-token windows (stride 24)
    for 'spark join', collapsed to each doc's single best passage,
    global top-20 — the real shuffle-light plan (per-chunk tf via
    higher-order array filters, one stats aggregate broadcast back, one
    per-doc window)."""
    from ckanext_extractor_spark.functions.passage import passage_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return passage_topk(
        docs, ["spark", "join"], size=32, overlap=8, k=20, per_doc=1
    )


_PASSAGE_DUCK = """
WITH t AS (SELECT doc_id,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
              x -> x <> '') AS toks
  FROM documents),
c AS (SELECT doc_id,
  CAST(start / 24 AS BIGINT) AS chunk_id,
  CAST(least(32, len(toks) - start) AS BIGINT) AS n_tokens,
  list_slice(toks, start + 1, start + 32) AS w
  FROM (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start
        FROM t WHERE len(toks) > 0)),
f AS (SELECT doc_id, chunk_id, n_tokens,
  CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tf0,
  CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE) AS tf1
  FROM c),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
  avg(CAST(n_tokens AS DOUBLE)) AS avgdl,
  CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
  CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1
  FROM f),
sc AS (SELECT doc_id, chunk_id, n_tokens,
  (CASE WHEN tf0 > 0 THEN
     ln(1.0 + (s.n - s.df0 + 0.5) / (s.df0 + 0.5))
     * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * n_tokens / s.avgdl))
   ELSE 0.0 END
   + CASE WHEN tf1 > 0 THEN
     ln(1.0 + (s.n - s.df1 + 0.5) / (s.df1 + 0.5))
     * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * n_tokens / s.avgdl))
   ELSE 0.0 END) AS s
  FROM f CROSS JOIN stats s WHERE tf0 > 0 OR tf1 > 0),
best AS (SELECT * FROM (
  SELECT doc_id, chunk_id, n_tokens, s,
    row_number() OVER (PARTITION BY doc_id
      ORDER BY ROUND(s, 6) DESC, chunk_id ASC) AS rn
  FROM sc) WHERE rn = 1)
SELECT doc_id, chunk_id, n_tokens, ROUND(s, 4) AS score FROM best
ORDER BY ROUND(s, 4) DESC, doc_id ASC, chunk_id ASC LIMIT 20
"""
_PAIRS["q146_passage_topk"] = ("", _PASSAGE_DUCK)


# -- count-min sketch: fixed-memory term counts, engine-portable ------------
def _q_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point estimates (width 512, depth 3, md5-row hashes)
    for a fixed probe set incl. an absent term — every sketch cell is
    engine-reproducible, so DuckDB rebuilds the identical sketch and
    the estimates hash-match exactly."""
    from ckanext_extractor_spark.functions.sketch import (
        cms_build,
        cms_query,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sk = cms_build(docs, width=512, depth=3)
    return cms_query(
        sk, ["spark", "join", "merge", "window", "hash", "zzznope"],
        width=512, depth=3,
    )


_CMS_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
cells AS (SELECT r.rw AS row,
  {DUCK_H60.format(x="'cms' || CAST(r.rw AS VARCHAR) || '#' || term")}
    % 512 AS cell
  FROM tok CROSS JOIN range(3) r(rw)),
sk AS (SELECT row, cell, count(*) AS c FROM cells GROUP BY 1, 2),
probe AS (SELECT t.term, r.rw AS row,
  {DUCK_H60.format(x="'cms' || CAST(r.rw AS VARCHAR) || '#' || t.term")}
    % 512 AS cell
  FROM (VALUES ('spark'), ('join'), ('merge'), ('window'), ('hash'),
        ('zzznope')) t(term)
  CROSS JOIN range(3) r(rw))
SELECT p.term, CAST(min(COALESCE(sk.c, 0)) AS BIGINT) AS est
FROM probe p LEFT JOIN sk ON p.row = sk.row AND p.cell = sk.cell
GROUP BY p.term ORDER BY p.term
"""
_PAIRS["q147_cms_estimates"] = ("", _CMS_DUCK)


# -- temperature-based data mixing (multilingual alpha-sampling) ------------
def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mBERT/XLM-R exponential-smoothing mix: ~100 docs with per-lang
    quotas ∝ count^0.5 (tail langs upweighted vs natural proportions),
    kept rows = the deterministic md5-ranked in-group sample."""
    from ckanext_extractor_spark.functions.sampling import temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return temperature_mix(
        docs.select("doc_id", "lang"), "lang",
        alpha=0.5, total=100, salt="r5",
    ).select("doc_id", "lang")


_TEMP_MIX_DUCK = """
WITH c AS (SELECT lang, count(*) AS cg FROM documents GROUP BY 1),
w AS (SELECT lang, power(CAST(cg AS DOUBLE), 0.5) AS wg FROM c),
ws AS (SELECT sum(wg) AS s FROM w),
t AS (SELECT lang, CAST(floor(100.0 * wg / ws.s) AS BIGINT) AS target
      FROM w CROSS JOIN ws),
r AS (SELECT d.doc_id, d.lang,
  row_number() OVER (PARTITION BY d.lang
    ORDER BY md5(CAST(d.doc_id AS VARCHAR) || 'r5:mix'), d.doc_id)
    AS rn
  FROM documents d)
SELECT r.doc_id, r.lang FROM r JOIN t USING (lang) WHERE rn <= t.target
"""
_PAIRS["q150_temperature_mix"] = ("", _TEMP_MIX_DUCK)


# -- HyperLogLog: fixed-memory distinct-count sketch ------------------------
_HLL_ALPHA_512 = 0.7213 / (1.0 + 1.079 / 512)


def _q_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-token estimate (p=9, m=512) — registers are pure
    integer/md5 arithmetic (shiftright + bin-length rho), so DuckDB
    rebuilds the identical register table and the estimator (incl. the
    small-range linear-counting branch) hash-matches."""
    from ckanext_extractor_spark.functions.sketch import (
        hll_estimate,
        hll_registers,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return hll_estimate(hll_registers(docs, p=9), p=9)


_HLL_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
h AS (SELECT {DUCK_H60.format(x='term')} AS hv FROM tok),
r AS (SELECT hv % 512 AS register,
  CASE WHEN (hv >> 9) > 0
       THEN 51 - (length(bin(hv >> 9)) - 1) ELSE 52 END AS rho
  FROM h),
regs AS (SELECT register, max(rho) AS max_rho FROM r GROUP BY 1),
agg AS (SELECT CAST(count(*) AS BIGINT) AS nz,
  sum(power(2.0, -max_rho)) AS s FROM regs),
est AS (SELECT 512 - nz AS n_empty,
  CAST({_HLL_ALPHA_512!r} AS DOUBLE) * 512.0 * 512.0
    / (s + CAST(512 - nz AS DOUBLE)) AS raw
  FROM agg)
SELECT CAST(512 AS BIGINT) AS m, CAST(n_empty AS BIGINT) AS n_empty,
  ROUND(CASE WHEN raw <= 1280.0 AND n_empty > 0
             THEN 512.0 * ln(512.0 / CAST(n_empty AS DOUBLE))
             ELSE raw END, 4) AS estimate
FROM est
"""
_PAIRS["q148_hll_estimate"] = ("", _HLL_DUCK)


# -- Bloom filter: fixed-memory set membership ------------------------------
def _q_bloom_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership (4096 bits, 3 md5-row hashes) for present and
    absent probes — the set-bit table is engine-reproducible, so the
    all-k-bits-set verdicts hash-match exactly."""
    from ckanext_extractor_spark.functions.sketch import (
        bloom_build,
        bloom_query,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bl = bloom_build(docs, m_bits=4096, k_hashes=3)
    return bloom_query(
        bl, ["spark", "join", "merge", "zzznope", "qqq"], 4096, 3
    )


_BLOOM_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
bits AS (SELECT DISTINCT
  {DUCK_H60.format(x="'bf' || CAST(r.rw AS VARCHAR) || '#' || term")}
    % 4096 AS bit
  FROM tok CROSS JOIN range(3) r(rw)),
probe AS (SELECT t.term, r.rw,
  {DUCK_H60.format(x="'bf' || CAST(r.rw AS VARCHAR) || '#' || t.term")}
    % 4096 AS bit
  FROM (VALUES ('spark'), ('join'), ('merge'), ('zzznope'), ('qqq'))
    t(term)
  CROSS JOIN range(3) r(rw))
SELECT p.term,
  CAST(sum(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) = 3 AS BOOLEAN)
    AS maybe_present
FROM probe p LEFT JOIN bits b ON p.bit = b.bit
GROUP BY p.term ORDER BY p.term
"""
_PAIRS["q149_bloom_query"] = ("", _BLOOM_DUCK)


# -- PRF: pseudo-relevance-feedback query expansion (Rocchio) ---------------
def _q_prf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blind-feedback expansion through the REAL engine: 'vector' top-5
    docs mined for their 3 most interesting non-query terms (MLT
    ClassicSimilarity score, df >= 2), then one disjunctive pass scored
    BM25(vector) + 0.5 * BM25(expansion) via the boost_postings idf
    rewrite. Top-15 of the FULL expanded match set (expansion-only docs
    admitted, per Rocchio). Boundary scores checked distinct at both
    SFs so the feedback set is tie-robust across engines."""
    import tempfile

    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine
    from ckanext_extractor_spark.sources.corpus_source import (
        documents_as_corpus,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_prf_")
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=100_000,
        analyzer=SIMPLE_CONFIG, store_content=True,
    )
    eng.extract(corpus, build_id="entry-prf")
    hits = eng.prf_search("vector", k=10**9, fb_docs=5, fb_terms=3,
                          expand_boost=0.5, min_doc_freq=2)
    pmap = {
        int(r["doc_id"]): int(r["path"].split("/", 1)[1])
        for r in spark.read.parquet(eng._p("doc_stats"))
        .select("doc_id", "path").collect()
    }
    ranked = sorted(
        ((pmap[d], s) for d, s in hits),
        key=lambda x: (-round(x[1], 6), x[0]),
    )[:15]
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in ranked],
        "doc_id long, score double",
    )


_PRF_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(doc_len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM (SELECT d.doc_id, COALESCE(dl.doc_len, 0) AS doc_len
        FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id) x),
df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
init AS (SELECT doc_id FROM (
  SELECT tf.doc_id,
         ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.doc_len / s.avgdl))
           AS score
  FROM tf JOIN df ON tf.term = df.term JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s WHERE tf.term = 'vector')
  ORDER BY score DESC, doc_id ASC LIMIT 5),
fbtf AS (SELECT term, CAST(sum(tf) AS DOUBLE) AS tfs FROM tf
  WHERE doc_id IN (SELECT doc_id FROM init) AND term <> 'vector'
  GROUP BY term),
exp AS (SELECT term FROM (
  SELECT f.term, f.tfs * (1.0 + ln(s.n_docs / (df.df + 1.0))) AS sc
  FROM fbtf f JOIN df ON f.term = df.term CROSS JOIN stats s
  WHERE df.df >= 2)
  ORDER BY sc DESC, term ASC LIMIT 3),
weights AS (SELECT 'vector' AS term, 1.0 AS w
            UNION ALL SELECT term, 0.5 FROM exp),
scored AS (
  SELECT tf.doc_id,
         w.w * ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.doc_len / s.avgdl))
           AS c
  FROM tf JOIN weights w ON tf.term = w.term
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s)
SELECT doc_id, ROUND(score, 4) AS score FROM (
  SELECT doc_id, sum(c) AS score FROM scored GROUP BY doc_id) r
ORDER BY ROUND(score, 6) DESC, doc_id ASC LIMIT 15
"""
_PAIRS["q145_prf_search"] = ("", _PRF_DUCK)


# -- hybrid retrieval: RRF fusion of BM25 + embedding-cosine lists ----------
_DENSE_LEG = (
    "WITH q AS (SELECT {cast} AS qv FROM embeddings WHERE vec_id = 0), "
    "e AS (SELECT vec_id, {castv} AS v FROM embeddings WHERE vec_id != 0), "
    "s AS (SELECT vec_id, {cos} AS cos FROM e CROSS JOIN q) "
    "SELECT vec_id AS doc_id, ROUND(cos, 4) AS score FROM s "
    "ORDER BY ROUND(cos, 6) DESC, vec_id ASC LIMIT 50"
)
_DENSE_LEG_SPARK = _DENSE_LEG.format(
    cast="transform(embedding, x -> CAST(x AS DOUBLE))",
    castv="transform(embedding, x -> CAST(x AS DOUBLE))",
    cos=(
        "aggregate(zip_with(v, qv, (a, b) -> a * b), CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + x) "
        "/ (sqrt(aggregate(transform(v, x -> x * x), CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + x)) "
        "* sqrt(aggregate(transform(qv, x -> x * x), CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + x)))"
    ),
)
_DENSE_LEG_DUCK = _DENSE_LEG.format(
    cast="embedding::DOUBLE[]",
    castv="embedding::DOUBLE[]",
    cos=(
        "list_dot_product(v, qv) / "
        "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))"
    ),
)


def _q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: RRF fusion (k=60, Cormack SIGIR'09 /
    Elasticsearch default) of the BM25 OR top-50 for
    'vector stream batch' and the cosine top-50 around vec_id=0 —
    through the real ``functions.hybrid.hybrid_topk`` plan (ranking
    windows + union + hash agg)."""
    from ckanext_extractor_spark.functions.hybrid import hybrid_topk

    _load(spark, sf_dir)
    lex = spark.sql(
        _bm25_sql(SPARK_TOK, ["vector", "stream", "batch"], False, 50)
    ).select("doc_id", "score")
    den = spark.sql(_DENSE_LEG_SPARK)
    return hybrid_topk(lex, den, topk=20, k=60)


_HYBRID_DUCK = f"""
WITH bm AS ({_bm25_sql(DUCK_TOK, ["vector", "stream", "batch"], False, 50)}),
ann AS ({_DENSE_LEG_DUCK}),
lrk AS (SELECT doc_id, row_number() OVER
  (ORDER BY ROUND(score, 6) DESC, doc_id ASC) AS rnk FROM bm),
drk AS (SELECT doc_id, row_number() OVER
  (ORDER BY ROUND(score, 6) DESC, doc_id ASC) AS rnk FROM ann),
u AS (SELECT doc_id, 1.0 / (60 + rnk) AS c FROM lrk
      UNION ALL SELECT doc_id, 1.0 / (60 + rnk) FROM drk)
SELECT doc_id, ROUND(SUM(c), 6) AS rrf_score,
       CAST(count(*) AS INT) AS n_lists
FROM u GROUP BY doc_id
ORDER BY ROUND(SUM(c), 6) DESC, doc_id ASC LIMIT 20
"""
_PAIRS["q141_hybrid_rrf"] = ("", _HYBRID_DUCK)


# -- DSIR: importance resampling toward an in-corpus target domain ----------
def _q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. NeurIPS'23) Gumbel top-50 toward lang='en'
    docs over 256 hashed-unigram buckets, salt 'r5' — the real
    two-hash-aggregate + broadcast-logratio plan."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.functions.dsir import dsir_resample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.where(F.col("lang") == "en")
    return dsir_resample(docs, target, n=50, dim=256, salt="r5")


_DSIR_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
tb AS (SELECT doc_id, {DUCK_H60.format(x='term')} % 256 AS bucket FROM tok),
rawc AS (SELECT bucket, count(*) AS n FROM tb GROUP BY 1),
tgtc AS (SELECT tb.bucket, count(*) AS n FROM tb
  JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY 1),
tot AS (SELECT
  (SELECT count(*) FROM tb) AS tr,
  (SELECT count(*) FROM tb JOIN documents d USING (doc_id)
   WHERE d.lang = 'en') AS tt),
lr AS (SELECT sp.bucket,
  ln((COALESCE(tg.n, 0) + 1.0) / (tot.tt + 256.0))
  - ln((COALESCE(r.n, 0) + 1.0) / (tot.tr + 256.0)) AS logratio
  FROM range(256) sp(bucket)
  LEFT JOIN rawc r ON sp.bucket = r.bucket
  LEFT JOIN tgtc tg ON sp.bucket = tg.bucket
  CROSS JOIN tot),
pc AS (SELECT doc_id, bucket, count(*) AS c FROM tb GROUP BY 1, 2),
w AS (SELECT d.doc_id,
  ROUND(COALESCE(SUM(pc.c * lr.logratio), 0.0), 6) AS weight
  FROM documents d
  LEFT JOIN pc ON d.doc_id = pc.doc_id
  LEFT JOIN lr ON pc.bucket = lr.bucket
  GROUP BY d.doc_id),
k AS (SELECT doc_id, weight,
  ROUND(weight + (-ln(-ln(
    ({DUCK_H60.format(x="CAST(doc_id AS VARCHAR) || 'r5'")} + 1.0)
    / (1152921504606846976.0 + 1.0)))), 6) AS key
  FROM w)
SELECT doc_id, weight, key FROM k
ORDER BY key DESC, doc_id ASC LIMIT 50
"""
_PAIRS["q142_dsir_select"] = ("", _DSIR_DUCK)


# -- PMI co-occurrence pairs (collocation / corpus QA) ----------------------
def _q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level PMI top-50 with the df band (50..400) applied
    before the self-join — the real ``functions.cooccur.pmi_pairs``
    plan (distinct -> banded broadcast dictionary -> pair hash agg)."""
    from ckanext_extractor_spark.functions.cooccur import pmi_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pmi_pairs(
        docs, min_df=50, max_df=400, min_pair_count=10, topk=50
    )


_PMI_DUCK = f"""
WITH tok AS ({DUCK_TOK}),
t AS (SELECT DISTINCT doc_id, term FROM tok),
d AS (SELECT term, count(*) AS df FROM t GROUP BY 1),
b AS (SELECT * FROM d WHERE df >= 50 AND df <= 400),
tb AS (SELECT t.doc_id, t.term, b.df FROM t JOIN b USING (term)),
n AS (SELECT count(*) AS nd FROM documents),
p AS (SELECT a.term AS ta, c.term AS tc, count(*) AS pc,
  min(a.df) AS dfa, min(c.df) AS dfc
  FROM tb a JOIN tb c ON a.doc_id = c.doc_id AND a.term < c.term
  GROUP BY 1, 2)
SELECT ta AS term_a, tc AS term_b, CAST(pc AS BIGINT) AS pair_count,
  CAST(dfa AS BIGINT) AS df_a, CAST(dfc AS BIGINT) AS df_b,
  ROUND(ln(CAST(n.nd AS DOUBLE) * pc / (dfa * dfc)), 6) AS pmi
FROM p CROSS JOIN n WHERE pc >= 10
ORDER BY ROUND(ln(CAST(n.nd AS DOUBLE) * pc / (dfa * dfc)), 6) DESC,
  term_a, term_b LIMIT 50
"""
_PAIRS["q143_pmi_pairs"] = ("", _PMI_DUCK)


_ENGINE_ORACLE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q23_engine_postings_simple": _q_engine_postings_simple,
    "q24_bm25_segments_exact": _q_bm25_segments_exact,
    "q25_bm25_segments_wand_or": _q_bm25_segments_wand_or,
    "q26_phrase_segments_simple": _q_phrase_segments_simple,
    "q27_metadata_normalize": _q_metadata_normalize,
    "q28_field_search": _q_field_search,
    "q34_bm25_segments_maxscore_or": _q_bm25_segments_maxscore_or,
    "q35_phrase_distributed_engine": _q_phrase_distributed_engine,
    "q36_bm25_segments_maxscore_lazy": _q_bm25_segments_maxscore_lazy,
    "q37_bm25_segments_exclude": _q_bm25_segments_exclude,
    "q38_phrase_slop_engine": _q_phrase_slop_engine,
    "q39_bm25_min_match": _q_bm25_min_match,
    "q40_prefix_search": _q_prefix_search,
    "q41_facets_engine": _q_facets_engine,
    "q42_wildcard_search": _q_wildcard_search,
    "q43_fuzzy_search": _q_fuzzy_search,
    "q44_filter_query": _q_filter_query,
    "q45_bool_expr": _q_bool_expr,
    "q46_bool_boost": _q_bool_boost,
    "q47_bool_phrase": _q_bool_phrase,
    "q48_sorted_search": _q_sorted_search,
    "q49_dismax_qf": _q_dismax_qf,
    "q50_more_like_this": _q_mlt,
    "q51_grouped_search": _q_grouped_search,
    "q52_spellcheck_suggest": _q_suggest,
    "q53_fq_range": _q_fq_range,
    "q54_field_stats": _q_field_stats,
    "q55_pivot_facets": _q_pivot_facets,
    "q56_boosted_search": _q_boosted_search,
    "q57_dismax_mm": _q_dismax_mm,
    "q58_distributed_exclude_fq": _q_distributed_exclude_fq,
    "q59_distributed_min_match": _q_distributed_min_match,
    "q60_phrase_lucene_slop": _q_phrase_lucene_slop,
    "q61_fuzzy_blend": _q_fuzzy_blend,
    "q62_terms_component": _q_terms_component,
    "q63_range_facets": _q_range_facets,
    "q64_query_facets": _q_query_facets,
    "q65_search_after": _q_search_after,
    "q66_dismax_pf": _q_dismax_pf,
    "q67_expr_field_clause": _q_expr_field_clause,
    "q68_expr_multiterm": _q_expr_multiterm,
    "q69_expr_distributed": _q_expr_distributed,
    "q70_boost_query": _q_boost_query,
    "q71_collapse": _q_collapse,
    "q72_elevation": _q_elevation,
    "q73_join_parser": _q_join_parser,
    "q74_term_vectors": _q_term_vectors,
    "q75_update_metadata": _q_update_metadata,
    "q76_interval_facets": _q_interval_facets,
    "q77_dismax_body": _q_dismax_body,
    "q78_field_stats_by": _q_field_stats_by,
    "q79_match_frame": _q_match_frame,
    "q80_facet_options": _q_facet_options,
    "q81_stats_percentiles": _q_stats_percentiles,
    "q82_significant_terms": _q_significant_terms,
    "q83_sort_multi": _q_sort_multi,
    "q84_rerank": _q_rerank,
    "q85_explain": _q_explain,
    "q86_interesting_terms": _q_interesting_terms,
    "q87_sort_score_field": _q_sort_score_field,
    "q88_index_stats": _q_index_stats,
    "q89_phonetic_expand": _q_phonetic_expand,
    "q90_neardup_clusters": _q_neardup_clusters,
    "q91_dedup_representatives": _q_dedup_representatives,
    "q92_function_query": _q_function_query,
    "q93_blockjoin_parent": _q_blockjoin_parent,
    "q94_blockjoin_child": _q_blockjoin_child,
    "q95_json_facets": _q_json_facets,
    "q96_json_facets_range": _q_json_facets_range,
    "q97_graph_traversal": _q_graph_traversal,
    "q98_stream_rollup": _q_stream_rollup,
    "q99_stream_join": _q_stream_join,
    "q100_spatial": _q_spatial,
    "q101_terms_regex": _q_terms_regex,
    "q102_ltr_rerank": _q_ltr_rerank,
    "q103_chunking": _q_chunking,
    "q104_hash_split": _q_hash_split,
    "q105_repetition_stats": _q_repetition_stats,
    "q106_contamination": _q_contamination,
    "q107_pii_scrub": _q_pii_scrub,
    "q108_span_first": _q_span_first,
    "q109_boilerplate": _q_boilerplate,
    "q110_token_estimates": _q_token_estimates,
    "q111_semantic_dedup": _q_semantic_dedup,
    "q112_hashed_tfidf": _q_hashed_tfidf,
    "q113_duplicate_spans": _q_duplicate_spans,
    "q114_ivf_topk": _q_ivf_topk,
    "q115_unigram_surprisal": _q_unigram_surprisal,
    "q116_dismax_pf2": _q_dismax_pf2,
    "q117_span_near": _q_span_near,
    "q118_dismax_ps": _q_dismax_ps,
    "q119_kmeans_assign": _q_kmeans_assign,
    "q120_ivf_kmeans_topk": _q_ivf_kmeans_topk,
    "q121_synonym_phrase": _q_synonym_phrase,
    "q122_tfidf_neighbors": _q_tfidf_neighbors,
    "q123_nb_classify": _q_nb_classify,
    "q124_nb_confusion": _q_nb_confusion,
    "q125_srp_project": _q_srp_project,
    "q126_srp_bits": _q_srp_bits,
    "q127_pq_encode": _q_pq_encode,
    "q128_pq_adc_topk": _q_pq_adc_topk,
    "q129_srp_neardup": _q_srp_neardup,
    "q130_ivfpq_topk": _q_ivfpq_topk,
    "q131_pq_packed_topk": _q_pq_packed_topk,
    "q132_stream_window_counts": _q_stream_window_counts,
    "q133_session_windows": _q_session_windows,
    "q134_stateful_user_totals": _q_stateful_user_totals,
    "q135_winnow_fingerprints": _q_winnow_fingerprints,
    "q136_fingerprint_candidates": _q_fingerprint_candidates,
    "q137_stream_dedup": _q_stream_dedup,
    "q138_bigram_perplexity": _q_bigram_perplexity,
    "q139_group_quota": _q_group_quota,
    "q140_curate_corpus": _q_curate,
    "q141_hybrid_rrf": _q_hybrid_rrf,
    "q142_dsir_select": _q_dsir_select,
    "q143_pmi_pairs": _q_pmi_pairs,
    "q144_span_not": _q_span_not,
    "q145_prf_search": _q_prf_search,
    "q146_passage_topk": _q_passage_topk,
    "q147_cms_estimates": _q_cms_estimates,
    "q148_hll_estimate": _q_hll_estimate,
    "q149_bloom_query": _q_bloom_query,
    "q150_temperature_mix": _q_temperature_mix,
}


# ---------------------------------------------------------------------------
# engine-native entries (no SQL oracle -> rows-only check)
# ---------------------------------------------------------------------------


def _q_code_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full code-aware analysis kernel (T1-T5) over documents via
    mapInPandas — the real index-build tokenizer path."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.operators.build import tokenize_postings

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text").alias("content"),
        F.col("lang"),
    )
    return tokenize_postings(corpus).select("doc_id", "term", "tf", "doc_len")


def _q_bm25_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native BM25 via build+query operators (simple SQL-compatible
    analyzer disabled; code analyzer on) — rows-only smoke of the
    DataFrame fast-path pipeline."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.operators.build import (
        build_corpus_stats,
        build_dictionary,
        tokenize_postings,
    )
    from ckanext_extractor_spark.operators.query import bm25_search

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text").alias("content"),
        F.col("lang"),
        F.length("text").alias("size_bytes"),
    )
    postings = tokenize_postings(corpus)
    dictionary = build_dictionary(postings)
    lens = postings.groupBy("doc_id").agg(F.first("doc_len").alias("doc_len"))
    doc_stats = corpus.select("doc_id", "size_bytes").join(
        lens, "doc_id", "left"
    ).withColumn("doc_len", F.coalesce("doc_len", F.lit(0)))
    stats = build_corpus_stats(doc_stats).collect()[0]
    return bm25_search(
        postings, dictionary, stats["n_docs"], stats["avgdl"], "spark join", k=10
    )


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding cosine near-dup pairs (hyperplanes are a
    seeded numpy family -> not SQL-expressible; rows-only check). A low
    threshold guarantees a non-empty candidate set on the synthetic
    embeddings."""
    from pyspark.sql import functions as F

    from ckanext_extractor_spark.functions.similarity import (
        embedding_neardup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    # threshold 0: emit every bucket-collided candidate with its verified
    # cosine (the synthetic gaussian embeddings have no true near-dups, so
    # the check exercises bucketing + verification rather than recall)
    return embedding_neardup_pairs(
        emb, dim=dim, threshold=0.0, n_planes=4
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def _q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end phrase retrieval over a built index (engine-native,
    rows-only): builds a tiny index over documents and phrase-matches a
    2-gram sampled from the corpus itself (deterministic)."""
    import tempfile

    from ckanext_extractor_spark.api import ExtractorEngine
    from ckanext_extractor_spark.sources.corpus_source import (
        documents_as_corpus,
    )

    corpus = documents_as_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_phrase_")
    eng = ExtractorEngine(spark, root, n_buckets=8, salt_threshold=100_000)
    eng.extract(corpus, build_id="entry-phrase")
    eng.warm()
    hits = eng.phrase_search("the fast", k=10)
    return spark.createDataFrame(
        [(int(d), float(round(s, 4))) for d, s in hits] or [],
        "doc_id long, score double",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 for 'spark join' (AND) on sf0.001."""
    _load(spark, SF_DEFAULT)
    return spark.sql(_PAIRS["q05_bm25_topk"][0])


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: _sql_query(spark_sql)
        for name, (spark_sql, _) in _PAIRS.items()
        if spark_sql
    }
    out.update(_FN_QUERIES)
    out.update(_ENGINE_ORACLE_QUERIES)
    out["q30_code_postings"] = _q_code_postings
    out["q31_bm25_engine_pipeline"] = _q_bm25_engine
    out["q32_embedding_neardup"] = _q_embedding_neardup
    out["q33_phrase_search"] = _q_phrase_search
    return out


def oracle_sql() -> dict[str, str]:
    return {name: duck_sql for name, (_, duck_sql) in _PAIRS.items()}
